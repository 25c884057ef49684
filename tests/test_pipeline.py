"""Pipeline-level checks (SURVEY.md §5.3): fixture-mix corpus through
parse→enrich→route→aggregate; routed-row equality and per-sink
aggregate counts vs a pure-Python oracle; token round-trip; resume."""

from __future__ import annotations

import json
from collections import Counter
from datetime import datetime, timezone

import pytest

from pysyslog import ParserOptions, SyslogParser
from pysyslog.aggregate import (
    hourly_facility_severity_counts,
    salted_counts,
    sink_counts,
)
from pysyslog.gen import GEN_NOW_EPOCH, gen_tokens_df, synth_lines
from pysyslog.pipeline import load_manifest, run_pipeline, transform
from pysyslog.tables import FACILITY_NAMES, PRIORITY_NAMES

import numpy as np

N = 2000
OPTS = ParserOptions(
    now_epoch=GEN_NOW_EPOCH,
    auto_detect_json=True,
    auto_detect_key_values=True,
)


def oracle_records():
    """Pure-Python oracle: same corpus ids through the core parser."""
    lines, sources = synth_lines(np.arange(N))
    p = SyslogParser(OPTS)
    return [p.parse(s) for s in lines], lines, sources


def oracle_sink_counts(records):
    c = Counter()
    for r in records:
        sev = PRIORITY_NAMES.get(r.get("priority_int"), "notice")
        fac = FACILITY_NAMES.get(r.get("facility_int"), "user")
        c[(fac, sev)] += 1
    return c


@pytest.fixture(scope="module")
def corpus(spark):
    return gen_tokens_df(spark, N, partitions=8).cache()


def test_generation_deterministic(spark, corpus):
    a = sorted(r["doc_id"] for r in corpus.collect())
    b = sorted(
        r["doc_id"] for r in gen_tokens_df(spark, N, partitions=3).collect()
    )
    assert a == b


def test_sink_counts_match_oracle(spark, corpus):
    records, _, _ = oracle_records()
    want = oracle_sink_counts(records)
    got = {
        (r["facility_name"], r["severity_name"]): r["n"]
        for r in sink_counts(transform(corpus, OPTS)).collect()
    }
    assert got == dict(want)


def test_hourly_agg_matches_oracle(spark, corpus):
    records, _, _ = oracle_records()
    want = Counter()
    for r in records:
        fac = FACILITY_NAMES.get(r.get("facility_int"), "user")
        sev = PRIORITY_NAMES.get(r.get("priority_int"), "notice")
        us = int(r["epoch"].split(".")[0]) if "epoch" in r else None
        assert us is not None, "every generated line must carry a timestamp"
        hour = datetime.fromtimestamp(us - us % 3600, tz=timezone.utc)
        want[(fac, sev, hour.strftime("%Y-%m-%d %H:%M:%S"))] += 1
    got = {
        (r["facility_name"], r["severity_name"], str(r["hour"])): r["n"]
        for r in hourly_facility_severity_counts(transform(corpus, OPTS)).collect()
    }
    assert got == dict(want)


def test_pipeline_counts_equal_two_pass_originals(spark, corpus):
    """The one-pass pipeline_counts must reproduce BOTH two-pass
    originals exactly — including on a corpus with a null-ts row, where
    window() silently drops the row from hourly but sink totals must
    still count it."""
    from pyspark.sql import functions as F

    from pysyslog.aggregate import pipeline_counts

    df = transform(corpus, OPTS)
    # forge one unparseable-timestamp record: null ts, keeps fac/sev
    extra = df.limit(1).withColumn("ts", F.lit(None).cast("timestamp"))
    df = df.unionByName(extra)

    base, hourly, sinks = pipeline_counts(df)
    want_h = {
        (r["facility_name"], r["severity_name"], str(r["hour"])): r["n"]
        for r in hourly_facility_severity_counts(df).collect()
    }
    got_h = {
        (r["facility_name"], r["severity_name"], str(r["hour"])): r["n"]
        for r in hourly.collect()
    }
    assert got_h == want_h
    want_s = {r["sink"]: r["n"] for r in sink_counts(df).collect()}
    got_s = {r["sink"]: r["n"] for r in sinks.collect()}
    assert got_s == want_s
    # the null-ts row is in the sink totals but not in hourly
    assert sum(want_s.values()) == sum(got_h.values()) + 1


def test_pipeline_counts_session_tz_independent(spark, corpus):
    """The one-pass hour bucket must stay EPOCH-aligned (like
    window('1 hour').start) under a session timezone with a
    non-whole-hour offset — date_trunc('hour') would bucket
    differently there (ADVICE r3)."""
    df = transform(corpus, OPTS)
    from pysyslog.aggregate import pipeline_counts

    want = {
        (r["facility_name"], r["severity_name"], r["hour"]): r["n"]
        for r in hourly_facility_severity_counts(df).collect()
    }
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")  # +05:45
    try:
        _, hourly, _ = pipeline_counts(df)
        got = {
            (r["facility_name"], r["severity_name"], r["hour"]): r["n"]
            for r in hourly.collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got == want


def test_salted_counts_equal_plain_groupby(spark, corpus):
    df = transform(corpus, OPTS)
    # the frame callers persist: the line once, as raw
    assert "raw" in df.columns
    assert not {"tokens", "message_raw"} & set(df.columns)
    plain = {
        r["host"]: r["cnt"]
        for r in df.groupBy("host").count().withColumnRenamed("count", "cnt").collect()
    }
    salted = {r["host"]: r["n"] for r in salted_counts(df, "host").collect()}
    assert salted == plain


def test_routed_row_equality_and_resume(spark, corpus, tmp_path):
    out = str(tmp_path / "sinks")
    manifest = run_pipeline(spark, corpus, out, OPTS, n_buckets=2)
    assert manifest["metrics"]["total_rows"] == N
    assert all(b["roundtrip_violations"] == 0 for b in manifest["buckets"].values())

    # routed-row equality: every input doc lands in exactly one sink,
    # in the facility/severity partition the oracle assigns it
    records, lines, _ = oracle_records()
    oracle_by_doc = {}
    lines_by_doc = {}
    docs = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    # doc_id embeds the row id: f"{source}-{i:012d}"
    for r, line, doc in zip(records, lines, sorted(docs, key=lambda d: int(d.rsplit("-", 1)[1]))):
        fac = FACILITY_NAMES.get(r.get("facility_int"), "user")
        sev = PRIORITY_NAMES.get(r.get("priority_int"), "notice")
        oracle_by_doc[doc] = (fac, sev)
        lines_by_doc[doc] = line

    routed = spark.read.parquet(out + "/bucket=0/by_facility_severity").unionByName(
        spark.read.parquet(out + "/bucket=1/by_facility_severity")
    )
    got = {
        r["doc_id"]: (r["facility_name"], r["severity_name"], r["raw"])
        for r in routed.select("doc_id", "facility_name", "severity_name", "raw").collect()
    }
    assert len(got) == N
    for doc, (fac, sev, raw) in got.items():
        assert (fac, sev) == oracle_by_doc[doc], doc
        assert raw == lines_by_doc[doc], doc

    # resume: a completed manifest short-circuits (no recompute)
    m2 = run_pipeline(spark, corpus.limit(0), out, OPTS, n_buckets=2)
    assert m2["buckets"] == manifest["buckets"]
    assert load_manifest(out)["metrics"]["total_rows"] == N


def test_manifest_counts_undated_rows(spark, tmp_path):
    """rows_in and parse_no_ts: a line without a date parses with no
    epoch, so its ts is null and it counts in parse_no_ts."""
    lines = ["<13>host1 app: no date here", "no date at all",
             "May 19 22:03:29 janus sshd[10173]: dated"]
    p = SyslogParser(OPTS)
    assert ["epoch" in p.parse(s) for s in lines] == [False, False, True]
    toks = [list(s.encode("utf-8")) for s in lines]
    df = spark.createDataFrame(
        [(f"d{i}", t, len(t), "t") for i, t in enumerate(toks)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    m = run_pipeline(spark, df, str(tmp_path / "sinks"), OPTS, n_buckets=1)
    b = m["buckets"]["0"]
    assert (b["rows_in"], b["parse_no_ts"], b["roundtrip_violations"]) == (3, 2, 0)


def test_manifest_counts_out_of_range_token(spark, tmp_path):
    """A token outside 0-255 breaks the round trip but still decodes
    (the byte cast wraps 256+'x' to 'x'), so the job runs and the
    manifest counts it; the aggregate outputs carry no .crc sidecar."""
    lines = ["May 19 22:03:29 janus sshd[10173]: one",
             "May 19 22:03:30 janus sshd[10173]: two",
             "May 19 22:03:31 janus sshd[10173]: three"]
    toks = [list(s.encode("utf-8")) for s in lines]
    toks[1][-1] = 256 + ord("x")
    df = spark.createDataFrame(
        [(f"d{i}", t, len(t), "t") for i, t in enumerate(toks)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    out = tmp_path / "sinks"
    m = run_pipeline(spark, df, str(out), OPTS, n_buckets=1)
    b = m["buckets"]["0"]
    assert (b["rows_in"], b["roundtrip_violations"]) == (3, 1)
    for agg in ("agg_hourly", "sink_counts"):
        d = out / "bucket=0" / agg
        assert spark.read.parquet(str(d)).count() > 0
        assert not [p.name for p in d.rglob("*.crc")], agg


def test_iceberg_probe_and_parquet_fallback(spark, tmp_path):
    """No iceberg runtime jar ships in this sandbox: the probe must say
    so (cached per JVM) and the sink writer must fall back to
    partitioned parquet with identical partition columns."""
    from pysyslog.iceberg import iceberg_available, write_partitioned

    assert iceberg_available(spark) is False
    assert iceberg_available(spark) is False  # cached second call
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, k string")
    out = write_partitioned(df, str(tmp_path / "t"), ["k"],
                            iceberg_table="cat.db.t")
    assert out == str(tmp_path / "t")
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.columns) == {"id", "k"}
