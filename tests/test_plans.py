"""Physical-plan shape assertions: the properties that matter at 100 TB
(pushdown reaching the scan, broadcast joins for dims, single Python
boundary) must not regress silently."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysyslog.enrich import enrich
from pysyslog.gen import GEN_NOW_EPOCH
from pysyslog.options import ParserOptions
from pysyslog.parser import parse_syslog

SF_DIR = "/root/testdata/sf0.001"
OPTS = ParserOptions(now_epoch=GEN_NOW_EPOCH)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.filter(F.col("event_type") == "error").select("event_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" in plan, plan


def test_parquet_column_pruning(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.select("event_id", "event_type")
    plan = _plan(q)
    assert "ReadSchema: struct<event_id:bigint,event_type:string>" in plan, plan


def test_enrich_uses_broadcast_joins_only(spark):
    df = spark.createDataFrame([("May 19 22:03:29 h p: x",)], "raw string")
    e = enrich(parse_syslog(df, "raw", OPTS))
    plan = _plan(e)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    # dims must be true LocalRelations (LocalTableScan): an RDD-backed
    # dim (Scan ExistingRDD) launches a defaultParallelism-task job per
    # broadcast build — measured ~0.8s of fixed cost per enrich pass
    # (the test's own input df is an ExistingRDD; only the dims count)
    assert plan.count("LocalTableScan") == 3, plan


def test_aggregate_is_partial_final(spark):
    """facility×severity agg must map-side combine (two HashAggregates
    around one shuffle), never shuffle raw rows."""
    from pysyslog.aggregate import sink_counts

    df = spark.createDataFrame([("May 19 22:03:29 h p: x",)], "raw string")
    e = enrich(parse_syslog(df, "raw", OPTS))
    plan = _plan(sink_counts(e))
    assert plan.count("HashAggregate") >= 2, plan


def test_host_counts_one_shuffle_after_partial_count(spark):
    """Host counts need no salt: the count is combined map-side
    (partial_count) so a hot host reaches the one shuffle as at most
    one row per map partition."""
    from pysyslog.aggregate import salted_counts

    df = spark.createDataFrame([("May 19 22:03:29 h p: x",)], "raw string")
    e = enrich(parse_syslog(df, "raw", OPTS))
    plan = _plan(salted_counts(e, "host"))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    assert "partial_count" in plan, plan


def test_minhash_signatures_shuffle_free(spark):
    """MinHash mins are per-document (array_min over the shingle array):
    the plan must be a pure narrow map — no Exchange anywhere.  (The
    naive explode→groupBy alternative shuffles every shingle of every
    document: ~corpus × shingle-factor bytes at 100 TB.)"""
    from pysyslog.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_signatures(docs, num_hashes=8))
    assert "Exchange" not in plan, plan


def _final_plan(df) -> str:
    """The adaptive plan after a run, without its initial-plan section."""
    df.collect()
    return _plan(df).split("== Initial Plan ==")[0]


def test_near_dups_compute_each_signature_once(spark):
    """MinHash and SimHash near-dups band their signatures from one
    projection (dedup.band_pairs): one signature UDF per side of the
    candidate self-join, and no per-band union re-running the UDF."""
    from pysyslog.dedup import minhash_near_dups, simhash_near_dups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (minhash_near_dups(docs, threshold=0.5),
               simhash_near_dups(docs, max_hamming=3)):
        plan = _final_plan(df)
        assert plan.count("ArrowEvalPython") <= 2, plan
        assert "Union" not in plan, plan


def test_embedding_near_dup_is_banded_bucket_join(spark):
    """The embedding near-dup candidate stage must be a bucket
    equi-join on (band, signature) — never a cartesian/nested-loop
    pairing — and must carry the multi-band posexplode (the round-4
    single-band form had cliff recall and a quadratic within-bucket
    hazard; see similarity.py:embedding_near_dup_pairs docstring)."""
    from pysyslog.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, dim=64, n_bands=4,
                                          rows_per_band=16))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate join is keyed on BOTH the band index and the band
    # signature (per-band bucket join, 2^rows_per_band buckets/band)
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "__sig" in ln]
    assert join_lines and all("__band" in ln for ln in join_lines), plan
    # the banding explode is present (one row per band per vector)
    assert "posexplode" in plan or "Generate" in plan, plan


def test_tokens_column_prunes_through_udf_projection(spark):
    """Selecting one parsed field must not force the scan to read other
    table columns (UDF input column excepted)."""
    rows = [("d0", [104, 105], 2, "t")]
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d)
    out = parse_syslog(df, "tokens", OPTS).select("program_name")
    plan = _plan(out)
    assert "n_tok" not in plan.split("ReadSchema")[-1], plan
