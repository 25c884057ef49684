"""Dedup operators: exact, MinHash+LSH near-dups, SimHash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysyslog.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
    simhash_near_dups,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),          # near dup of 0
    (3, "completely different text about spark query engines"),
    (4, "  The  QUICK brown fox jumps over the lazy dog  "),     # ws/case dup of 0
    (5, "row stores and column stores differ in layout"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(_df(spark)).collect()}
    assert out[0] == 3  # 0, 1, 4 collapse after normalization
    assert out[2] == 1 and out[3] == 1 and out[5] == 1
    assert 1 not in out and 4 not in out


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    row = df.select(word_shingles(F.col("text")).alias("s")).collect()[0]
    assert row["s"] == ["only two"]  # shorter than n -> single shingle


def test_minhash_identical_docs_share_signature(spark):
    sigs = {r["doc_id"]: (r["h0"], r["h1"]) for r in
            minhash_signatures(_df(spark), num_hashes=2).collect()}
    assert sigs[0] == sigs[1] == sigs[4]
    assert sigs[0] != sigs[3]


def test_minhash_near_dups_finds_near_pair(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             minhash_near_dups(_df(spark), threshold=0.4).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0
    assert (0, 2) in pairs and 0.4 <= pairs[(0, 2)] < 1.0
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_jaccard_pairs_values(spark):
    pairs = spark.createDataFrame([(0, 2)], "id_a long, id_b long")
    j = jaccard_pairs(_df(spark), pairs).collect()[0]["jaccard"]
    # 7 shingles each, 6 shared -> 6/8
    assert abs(j - 6 / 8) < 1e-9


def test_lsh_no_false_candidate_explosion(spark):
    sigs = minhash_signatures(_df(spark), num_hashes=16)
    cands = lsh_candidate_pairs(sigs).collect()
    ids = {frozenset((r["id_a"], r["id_b"])) for r in cands}
    assert frozenset((0, 1)) in ids
    assert frozenset((3, 5)) not in ids


def test_simhash_near_dups(spark):
    # 4×16-bit chunk banding guarantees recall only for hamming ≤ 3
    # (pigeonhole); doc 2 sits at hamming 11 from doc 0 and may or may
    # not share a chunk — only the guaranteed pairs are asserted.
    pairs = {frozenset((r["id_a"], r["id_b"])): r["hamming"] for r in
             simhash_near_dups(_df(spark), max_hamming=3).collect()}
    assert pairs[frozenset((0, 1))] == 0
    assert pairs[frozenset((0, 4))] == 0
    assert frozenset((0, 3)) not in pairs


def test_simhash_empty_text_is_null(spark):
    """Token-less texts must yield NULL signatures (not 0) so blank
    docs never band together at hamming 0 — and so the engine matches
    the DuckDB oracle, whose tok/sig CTEs drop such docs."""
    from pysyslog.dedup import simhash_udf

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, None), (3, "real text")],
        "doc_id long, text string",
    )
    import pyspark.sql.functions as F

    rows = {r["doc_id"]: r["sh"]
            for r in df.select("doc_id",
                               simhash_udf()(F.col("text")).alias("sh")).collect()}
    assert rows[0] is None and rows[1] is None and rows[2] is None
    assert rows[3] is not None
    pairs = simhash_near_dups(df, max_hamming=3).collect()
    assert pairs == []


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain must collapse to one component (propagation runs
    past one hop), disjoint pairs stay separate, singletons keep
    their own id."""
    from pysyslog.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                  "node long")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain_converges(spark):
    """A 60-hop chain needs pointer jumping (one-hop propagation alone
    would exhaust max_iterations and split the component)."""
    from pysyslog.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    comps = connected_components(pairs).collect()
    assert {r["comp"] for r in comps} == {0}
    assert len(comps) == 61


def test_near_dup_clusters_covers_all_docs(spark):
    from pysyslog.dedup import minhash_near_dups, near_dup_clusters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clusters = near_dup_clusters(docs, threshold=0.5)
    n_docs = docs.count()
    rows = clusters.collect()
    assert len(rows) == n_docs
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    # every near-dup pair is in one cluster, labeled by the min member
    for p in minhash_near_dups(docs, threshold=0.5).collect():
        assert by_doc[p["id_a"]] == by_doc[p["id_b"]]
    assert all(c <= d for d, c in by_doc.items())


def test_minhash_udf_matches_jvm_shingles_on_edge_whitespace(spark):
    """The Arrow-UDF shingling must tokenize exactly like
    word_shingles() (Spark trim strips spaces only — tabs/newlines
    become separator-normalized leading tokens)."""
    from pyspark.sql import functions as F

    from pysyslog.dedup import minhash_signatures, word_shingles

    rows = [(0, "\tfoo bar baz quux"), (1, "  x  "), (2, "a\nb c d"),
            (3, "one two"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["h0"]
            for r in minhash_signatures(docs, num_hashes=1).collect()}
    jvm = {
        r["doc_id"]: r["h0"]
        for r in docs.select(
            "doc_id",
            F.array_min(
                F.transform(
                    word_shingles(F.col("text"), 3),
                    lambda s: F.md5(F.concat(s, F.lit("#0"))),
                )
            ).alias("h0"),
        ).collect()
    }
    assert sigs == jvm


def test_lsh_rejects_short_signature(spark):
    """Fewer signature columns than bands x rows_per_band raises at the
    call: a missing band would key every document on md5('')."""
    sigs = minhash_signatures(_df(spark), num_hashes=8)
    with pytest.raises(ValueError, match="signature columns"):
        lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    lsh_candidate_pairs(sigs, bands=2, rows_per_band=4)  # exactly enough


def test_simhash_udf_rejects_bad_width():
    from pysyslog.dedup import simhash_udf

    for bits in (0, 65):
        with pytest.raises(ValueError, match="bits"):
            simhash_udf(bits)
    simhash_udf(64)
