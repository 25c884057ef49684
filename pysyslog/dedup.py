"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (these run over 100 TB document sets):
* exact dedup is a single hash-shuffle on a 32-byte digest — the
  minimal possible exact plan;
* MinHash signatures are one Arrow-batched UDF per document, zero
  shuffle (all k mins in one pass over the document's shingle set);
* LSH banding turns the O(n²) pair space into per-bucket joins, all
  through `band_pairs`, one self-join per near-dup operator; every
  MinHash join key is a digest (uniform, no skew);
* digests use md5 (JVM-side, also available in DuckDB) so the oracle
  can replay the exact same signatures;
* SimHash is an Arrow-batched pandas UDF (bit-twiddling is cheaper in
  numpy than in SQL).
"""

from __future__ import annotations

import re as _re_py

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

NORM = lambda c: F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")  # noqa: E731

_RE_WS_PY = _re_py.compile(r"\s+")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor (min id) per distinct normalized text + dup count."""
    return (
        df.withColumn("__h", F.md5(NORM(F.col(text_col))))
        .groupBy("__h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .drop("__h")
    )


def word_shingles(col, n: int = 3):
    """Word n-gram shingles as an array column (built-in expressions)."""
    words = F.split(NORM(col), " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    # F.get returns NULL past the end (ANSI-safe, unlike element_at) and
    # concat_ws skips NULLs, so docs shorter than n yield one short shingle
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", *[F.get(words, (i + j).cast("int")) for j in range(n)]),
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature computed ROW-LOCALLY with
    zero shuffle: one Arrow-batched UDF emits all k mins per document.
    hash_i(s) = md5(s || '#i'); min taken lexicographically on the hex
    digest — identical in the DuckDB oracle.

    Plan-shape history (both alternatives measured worse):
    * explode→groupBy shuffles every shingle of every document —
      ~corpus × shingle-factor bytes at 100 TB;
    * JVM `array_min(transform(...))` per hash column is shuffle-free
      but higher-order functions are NOT whole-stage-codegen'd —
      interpreted per-element eval measured ~2.4x slower wall than the
      explode plan at bench scale.
    The Arrow UDF keeps the pure-narrow-map plan (no Exchange) at
    C-speed md5 (hashlib), with shingle strings hashed once per
    document via a set."""
    import hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    suffixes = [f"#{i}".encode() for i in range(num_hashes)]
    ws = _RE_WS_PY
    n = shingle_n

    @pandas_udf(ArrayType(StringType()))
    def sigs(texts: pd.Series) -> pd.Series:
        out = []
        md5 = hashlib.md5
        for text in texts:
            if text is None:
                out.append(None)
                continue
            # mirrors word_shingles()'s NORM exactly: Spark trim() and
            # DuckDB trim() strip SPACES only (str.strip() would also
            # eat tabs/newlines and change the token split)
            words = ws.sub(" ", text.lower().strip(" ")).split(" ")
            k = max(len(words) - (n - 1), 1)
            # short docs yield one short shingle (slice truncation ==
            # concat_ws skipping the NULLs F.get returns past the end)
            shingles = {" ".join(words[i:i + n]) for i in range(k)}
            # mins are compared as raw 16-byte digests — hex encoding
            # is order-preserving byte-wise, so min(digest) ==
            # unhex(min(hexdigest)); one .hex() per kept min replaces
            # one hexdigest per (shingle, hash).  The md5 state over
            # the shingle bytes is built once and copy()d per suffix.
            mins = [None] * num_hashes
            for sh in shingles:
                base = md5(sh.encode())
                for i, suf in enumerate(suffixes):
                    h = base.copy()
                    h.update(suf)
                    d = h.digest()
                    if mins[i] is None or d < mins[i]:
                        mins[i] = d
            out.append([m.hex() for m in mins])
        return pd.Series(out, dtype=object)

    sig_col = sigs(F.col(text_col))
    # NULL-text docs produce no signature row (as the DuckDB unnest
    # replay does) — an all-NULL signature row would band to md5('')
    # in every band and glue every null doc into one quadratic bucket
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), sig_col.alias("__sig"))
        .select(
            id_col, *[F.get("__sig", i).alias(f"h{i}") for i in range(num_hashes)]
        )
    )


def band_pairs(df: DataFrame, id_col: str, bands: Column, *carry: str) -> DataFrame:
    """Banded LSH candidate join: rows whose `bands` arrays (one key per
    band, over columns of `df`) agree at any band position become one
    pair (id_a, id_b) with id_a < id_b.  The bands come from ONE
    projection of `df`, posexploded into (__band, __sig), so a signature
    UDF behind them runs once per row, not once per band.  Each `carry`
    column comes through as <c>_a / <c>_b, so verification needs no
    re-join of the signatures."""
    s = df.select(
        F.col(id_col), *carry, F.posexplode(bands).alias("__band", "__sig")
    )

    def side(x):
        return s.select(
            F.col(id_col).alias(f"id_{x}"),
            *[F.col(c).alias(f"{c}_{x}") for c in carry],
            "__band", "__sig",
        )

    return (
        side("a").join(side("b"), ["__band", "__sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .drop("__band", "__sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.
    Output: (id_a, id_b) with id_a < id_b, distinct."""
    sig_cols = [c for c in signatures.columns if c != id_col]
    if len(sig_cols) < bands * rows_per_band:
        # a missing band would key every doc on md5('') and pair them all
        raise ValueError(
            f"{bands} bands x {rows_per_band} rows need "
            f"{bands * rows_per_band} signature columns, got {len(sig_cols)}")
    keys = F.array(*[
        F.md5(F.concat_ws("|", *sig_cols[b * rows_per_band:(b + 1) * rows_per_band]))
        for b in range(bands)
    ])
    return band_pairs(signatures, id_col, keys)


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification
    stage after LSH).  Shingle arrays are bounded by document length,
    so the join rows stay small at scale."""
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def minhash_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.7, num_hashes: int = 16,
    bands: int = 4, rows_per_band: int = 4,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → verified
    Jaccard ≥ threshold."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return jaccard_pairs(df, cands, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )


def simhash_udf(bits: int = 64):
    """64-bit SimHash over whitespace-lowercased tokens.

    Per-token hash bits are the MSBs of md5 hex nibbles: bit j of
    hash(t) comes from hex digit j of md5(t) for j < 32 and from hex
    digit j-32 of md5(t || '#b') for j >= 32 (bit = 1 iff the digit is
    in [8-f]).  That is an i.i.d. uniform bit family computable in
    plain SQL (substr(md5(...), j+1, 1) >= '8'), so the whole operator
    — including the banding below — replays exactly in the DuckDB
    oracle, while keeping 64 bits so the 4×16-bit bands have 65536
    buckets (8-bit bands would collapse to 256 join keys and turn the
    candidate self-join quadratic at scale).

    Vectorization: token→mask md5 hashing is memoized per worker (Zipf
    token reuse makes the cache hit rate high); the per-document ±1 bit
    accumulation is a numpy broadcast, not a Python bit loop.
    """
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}: "
                         "signatures are signed 64-bit longs")
    shifts = np.arange(bits, dtype=np.uint64)
    cache: dict[str, int] = {}

    def _token_mask(t: str) -> int:
        m = cache.get(t)
        if m is None:
            b = t.encode()
            hx = hashlib.md5(b).hexdigest()
            if bits > 32:
                hx += hashlib.md5(b + b"#b").hexdigest()
            m = 0
            for j in range(bits):
                if hx[j] >= "8":
                    m |= 1 << j
            if len(cache) > 1_000_000:
                cache.clear()
            cache[t] = m
        return m

    @pandas_udf(LongType())
    def sim(texts: pd.Series) -> pd.Series:
        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        isnull = np.zeros(n, dtype=bool)
        for i, text in enumerate(texts):
            if text is None:
                isnull[i] = True
                continue
            toks = text.lower().split()
            if not toks:
                # token-less text gets NULL, mirroring the oracle SQL
                # whose tok/sig CTEs drop such docs — signature 0 would
                # band empty docs together at hamming 0
                isnull[i] = True
                continue
            masks = np.fromiter(
                (_token_mask(t) for t in toks), dtype=np.uint64, count=len(toks)
            )
            ones = ((masks[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            # majority vote: acc_j = 2*ones_j - n_tokens > 0
            sig_bits = (2 * ones > len(toks)).astype(np.uint64)
            v = int((sig_bits << shifts).sum())
            out[i] = v - (1 << 64) if v >= (1 << 63) else v  # signed 64
        res = pd.Series(out, dtype="Int64")
        if isnull.any():
            res[isnull] = pd.NA
        return res

    return sim


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dups: band the 64-bit hash into 4×16-bit chunks —
    any pair within hamming ≤ 3 shares at least one exact chunk
    (pigeonhole) — then verify hamming distance on candidates.  16-bit
    chunks give 65536 buckets per band, keeping the candidate self-join
    linear-ish; narrower chunks concentrate the join onto few keys."""
    simmed = df.select(F.col(id_col), simhash_udf()(F.col(text_col)).alias("sh"))
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("sh"), i * 16).bitwiseAND(F.lit(0xFFFF))
        for i in range(4)
    ])
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        band_pairs(simmed, id_col, chunks, "sh")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame, nodes: DataFrame | None = None,
    id_col_a: str = "id_a", id_col_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation: each iteration every node adopts the smallest label in
    its closed neighborhood, converging in O(graph diameter) rounds.

    Scale shape: no driver-side graph — one round is a bounded-size
    join (|E| rows) plus a groupBy, both plain hash-shuffles on node
    ids; the driver only checks the converged-row count per round (an
    iterative algorithm's loop belongs on the driver, its DATA never
    does).  Each round ALSO pointer-jumps (comp := label(comp)), so the
    distance a min-label still has to travel halves per round —
    convergence is O(log diameter), and max_iterations=25 covers any
    graph that fits in storage.  If the loop somehow exits unconverged
    it RAISES rather than return silently split components.  Each
    round's labels are localCheckpoint-ed: persist alone caches data
    but the LOGICAL plan still compounds across self-joins, and the
    per-round plan grows exponentially until analysis itself OOMs —
    checkpointing truncates lineage so every round plans against a
    leaf.  (On a fault-tolerant cluster, swap for checkpoint() with a
    reliable checkpoint dir.)

    Returns (node, component) for every node in `nodes` (or every node
    appearing in `pairs` when nodes is None); component = min node id
    in the component.
    """
    edges = (
        pairs.select(F.col(id_col_a).alias("s"), F.col(id_col_b).alias("d"))
        .unionByName(
            pairs.select(F.col(id_col_b).alias("s"), F.col(id_col_a).alias("d"))
        )
        .distinct()
    )
    if nodes is None:
        nodes = edges.select(F.col("s").alias("node")).distinct()
    labels = nodes.select(F.col("node"), F.col("node").alias("comp")).localCheckpoint()
    edges = edges.localCheckpoint()
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("comp").alias("nmin"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
        )
        # pointer jumping: comp := label(comp) (labels only decrease,
        # so label(comp) <= comp) — halves remaining label distance
        comp_of_comp = labels.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        new_labels = (
            propagated.join(comp_of_comp, "comp", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("comp2", F.col("comp"))).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") < F.col("o.comp"))
            .count()
        )
        # release the previous round's checkpoint blocks — otherwise
        # every round pins a full (node, comp) copy in executor storage
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations"
        )
    return labels


def near_dup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.7, num_hashes: int = 16,
    bands: int = 4, rows_per_band: int = 4,
) -> DataFrame:
    """Document → dedup-cluster assignment: MinHash near-dup pairs →
    connected components; singletons keep their own id as cluster."""
    pairs = minhash_near_dups(df, text_col, id_col, threshold,
                              num_hashes, bands, rows_per_band)
    comps = connected_components(
        pairs.select("id_a", "id_b"), nodes=df.select(F.col(id_col).alias("node"))
    )
    return comps.select(
        F.col("node").alias(id_col), F.col("comp").alias("cluster_id")
    )
