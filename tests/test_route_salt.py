"""Per-sink adaptive salting in route_by_facility_severity (guide §2.5
hot keys / §6 small files): a hot sink splits across multiple write
tasks (several files), small sinks keep one file, and the routed rows
are identical to an unsalted write.  Below the row floor (or on an
unpersisted input) every sink is one file.  Local sinks are written
without checksum sidecars and without touching the session conf."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pysyslog import route
from pysyslog.route import route_by_facility_severity


@pytest.fixture()
def skewed(spark):
    # 2000 rows for the hot sink, 40 each for two small ones
    n_hot, n_small = 2000, 40
    df = spark.range(n_hot + 2 * n_small).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") < n_hot, F.lit("user"))
        .when(F.col("id") < n_hot + n_small, F.lit("mail"))
        .otherwise(F.lit("ftp"))
        .alias("facility_name"),
        F.when(F.col("id") < n_hot, F.lit("notice"))
        .otherwise(F.lit("info"))
        .alias("severity_name"),
        F.col("id").alias("payload"),
    )
    return df, n_hot, n_small


def _files(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            rel = os.path.relpath(root, path)
            out[rel] = len(pq)
    return out


def _rows(spark, out):
    frame = spark.read.parquet(os.path.join(out, "by_facility_severity"))
    return {
        r["doc_id"]: (r["facility_name"], r["severity_name"], r["payload"])
        for r in frame.collect()
    }


def _route_uncoalesced(spark, df, out, **kw):
    # at this toy size AQE's partition coalescing would (correctly)
    # merge the salt pieces back into one task — disable it so the test
    # observes the salt itself, not AQE's size-based task packing
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, None)
    spark.conf.set(coalesce_key, "false")
    try:
        route_by_facility_severity(df, out, **kw)
    finally:
        if prev is None:
            spark.conf.unset(coalesce_key)
        else:
            spark.conf.set(coalesce_key, prev)
    return _files(os.path.join(out, "by_facility_severity"))


def test_adaptive_salt_splits_hot_sink_only(spark, skewed, tmp_path,
                                            monkeypatch):
    df, n_hot, n_small = skewed
    total = n_hot + 2 * n_small
    out = str(tmp_path / "adaptive")
    # lower the row floor so this toy input takes the adaptive path; the
    # sizing job only runs on a persisted input
    monkeypatch.setattr(route, "MIN_SALT_ROWS", 100)
    df = df.persist()
    try:
        files = _route_uncoalesced(spark, df, out, rows_hint=total,
                                   max_records_per_file=1_000_000)
    finally:
        df.unpersist()
    # hot sink: salt width ceil(2000/target) > 1 spreads it over
    # several write tasks; small sinks keep width 1 → exactly one file
    assert files["facility_name=user/severity_name=notice"] > 1
    assert files["facility_name=mail/severity_name=info"] == 1
    assert files["facility_name=ftp/severity_name=info"] == 1

    # routed-row equality vs the legacy uniform-salt write
    out2 = str(tmp_path / "uniform")
    route_by_facility_severity(df, out2, files_per_sink=1)
    rows = _rows(spark, out)
    assert rows == _rows(spark, out2)
    assert len(rows) == total


def test_below_floor_writes_one_file_per_sink(spark, skewed, tmp_path):
    df, n_hot, n_small = skewed
    total = n_hot + 2 * n_small
    assert total <= 2 * route.MIN_SALT_ROWS
    out = str(tmp_path / "floor")
    files = _route_uncoalesced(spark, df, out, rows_hint=total)
    assert len(files) == 3
    assert set(files.values()) == {1}
    out2 = str(tmp_path / "uniform")
    route_by_facility_severity(df, out2, files_per_sink=1)
    assert _rows(spark, out) == _rows(spark, out2)


def test_unpersisted_input_skips_sizing_with_warning(spark, skewed, tmp_path,
                                                     monkeypatch):
    df, n_hot, n_small = skewed
    monkeypatch.setattr(route, "MIN_SALT_ROWS", 100)
    with pytest.warns(UserWarning, match="not persisted"):
        files = _route_uncoalesced(spark, df, str(tmp_path / "unpersisted"),
                                   rows_hint=n_hot + 2 * n_small)
    assert set(files.values()) == {1}


def test_local_sink_write_has_no_crc_and_leaves_session_conf(spark, skewed,
                                                             tmp_path):
    df, n_hot, n_small = skewed
    keys = ["fs.file.impl", "fs.file.impl.disable.cache",
            "mapreduce.fileoutputcommitter.algorithm.version"]
    keys += ["spark.hadoop." + k for k in keys]
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    before = {k: hadoop_conf.get(k) for k in keys}
    out = str(tmp_path / "local")
    route_by_facility_severity(df, out, rows_hint=n_hot + 2 * n_small)
    sink_dir = os.path.join(out, "by_facility_severity")
    written = [f for _root, _dirs, fs in os.walk(sink_dir) for f in fs]
    assert "_SUCCESS" in written
    assert not [f for f in written if f.endswith(".crc")]
    assert {k: spark.conf.get(k, None) for k in keys} == dict.fromkeys(keys)
    assert {k: hadoop_conf.get(k) for k in keys} == before


def test_null_sink_names_route_to_unknown(spark, tmp_path):
    df = spark.createDataFrame(
        [("d1", None, None, 1), ("d2", "user", "info", 2)],
        "doc_id string, facility_name string, severity_name string, payload long",
    )
    out = str(tmp_path / "nulls")
    route_by_facility_severity(df, out, rows_hint=2)
    files = _files(os.path.join(out, "by_facility_severity"))
    assert "facility_name=__unknown/severity_name=__unknown" in files
    assert "facility_name=user/severity_name=info" in files
