"""Per-sink adaptive salting in route_by_facility_severity (guide §2.5
hot keys / §6 small files): a hot sink splits across multiple write
tasks (several files), small sinks keep one file, and the routed rows
are exactly the input's rows.  Below the row floor (or on an
unpersisted input) every sink is one file.  Local sinks are written
without checksum sidecars, without touching the session conf and
without forking `chmod`; without the no-fork class they fall back to
RawLocalFileSystem with one warning and write the same sinks."""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pysyslog import localfs, route
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
    return _frame_rows(
        spark.read.parquet(os.path.join(out, "by_facility_severity")))


def _frame_rows(frame):
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
        files = _route_uncoalesced(spark, df, out, rows_hint=total)
    finally:
        df.unpersist()
    # hot sink: salt width ceil(2000/target) > 1 spreads it over
    # several write tasks; small sinks keep width 1 → exactly one file
    assert files["facility_name=user/severity_name=notice"] > 1
    assert files["facility_name=mail/severity_name=info"] == 1
    assert files["facility_name=ftp/severity_name=info"] == 1

    # the routed rows are exactly the input's rows
    rows = _rows(spark, out)
    assert rows == _frame_rows(df)
    assert len(rows) == total


def test_below_floor_writes_one_file_per_sink(spark, skewed, tmp_path):
    df, n_hot, n_small = skewed
    total = n_hot + 2 * n_small
    assert total <= 2 * route.MIN_SALT_ROWS
    out = str(tmp_path / "floor")
    files = _route_uncoalesced(spark, df, out, rows_hint=total)
    assert len(files) == 3
    assert set(files.values()) == {1}
    assert _rows(spark, out) == _frame_rows(df)


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


# Routes one frame twice in a fresh Python + JVM: with the no-fork class
# (after a warm-up write that builds and loads it; loading forks one
# `chmod a+x` for the fetched jar), then with the fallback forced the way
# a box without a JDK takes it.  Prints the `chmod` forks of each write.
_FORK_SCRIPT = r"""
import json, os, pathlib, sys
sys.path.insert(0, os.getcwd())
from pyspark.sql import SparkSession, functions as F
from pysyslog import localfs
from pysyslog.route import route_by_facility_severity

log, out, nojar = sys.argv[1:]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
df = spark.range(300).select(
    F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
    (F.col("id") % 3).cast("string").alias("facility_name"),
    (F.col("id") % 2).cast("string").alias("severity_name"),
    F.col("id").alias("payload"))

def forks(name):
    before = os.path.getsize(log) if os.path.exists(log) else 0
    route_by_facility_severity(df, os.path.join(out, name), rows_hint=300)
    with open(log, "rb") as f:
        f.seek(before)
        return f.read().count(b"\n")

forks("warmup")
res = {"impl": localfs._CHOSEN[spark.sparkContext.applicationId],
       "nofork": forks("nofork")}
localfs._CHOSEN.clear()
localfs.JAR_DIR = pathlib.Path(nojar)
os.environ["PATH"] = os.path.dirname(log)
res["fallback"] = forks("fallback")
res["fallback_impl"] = localfs._CHOSEN[spark.sparkContext.applicationId]
spark.stop()
print(json.dumps(res))
"""


def _modes(root):
    # relative path -> permission bits, with the per-job uuid in part
    # file names masked so two writes of the same frame compare equal
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            rel = re.sub(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "-*",
                         os.path.relpath(p, root))
            out[rel] = stat.S_IMODE(os.stat(p).st_mode)
    return out


def test_routed_write_forks_no_chmod(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("no javac to build the no-fork filesystem jar")
    # a logging `chmod` first on PATH; the JVM resolves `chmod` with the
    # PATH it was launched with, hence the subprocess
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = bin_dir / "chmod.log"
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> {log}\n'
                       f'exec {shutil.which("chmod")} "$@"\n')
    wrapper.chmod(0o755)
    out = tmp_path / "out"
    env = {**os.environ, "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}"}
    # umask 077 makes a skipped setPermission visible: files would be
    # created 0600 instead of Hadoop's 0644
    proc = subprocess.run(
        [sys.executable, "-c", _FORK_SCRIPT, str(log), str(out),
         str(tmp_path / "nojar")],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=300, umask=0o077)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["impl"] == localfs.NO_FORK_FS
    assert res["fallback_impl"] == localfs.FALLBACK_FS
    assert res["nofork"] == 0
    assert res["fallback"] > 0
    nofork, fallback = _modes(out / "nofork"), _modes(out / "fallback")
    assert nofork == fallback
    assert nofork["by_facility_severity/_SUCCESS"] == 0o644
    assert nofork["by_facility_severity/facility_name=0"] == 0o755


def test_fallback_without_javac_warns_once_and_writes_same_sinks(
        spark, skewed, tmp_path, monkeypatch):
    df, n_hot, n_small = skewed
    total = n_hot + 2 * n_small
    route_by_facility_severity(df, str(tmp_path / "default"), rows_hint=total)
    # a fresh choice for this context, no built jar and no javac
    monkeypatch.setattr(localfs, "_CHOSEN", {})
    monkeypatch.setattr(localfs, "JAR_DIR", tmp_path / "dist")
    monkeypatch.setenv("PATH", str(tmp_path / "no-bin"))
    with pytest.warns(UserWarning) as caught:
        for name in ("fallback", "again"):
            route_by_facility_severity(df, str(tmp_path / name),
                                       rows_hint=total)
    fallback_warnings = [w for w in caught
                         if localfs.FALLBACK_FS in str(w.message)]
    assert len(fallback_warnings) == 1
    assert "no javac" in str(fallback_warnings[0].message)
    assert localfs._CHOSEN == {
        spark.sparkContext.applicationId: localfs.FALLBACK_FS}
    sink = "by_facility_severity"
    files = _files(str(tmp_path / "fallback" / sink))
    assert files == _files(str(tmp_path / "default" / sink))
    assert _rows(spark, str(tmp_path / "fallback")) == _rows(
        spark, str(tmp_path / "default"))
    written = [f for _root, _dirs, fs in os.walk(tmp_path / "fallback")
               for f in fs]
    assert "_SUCCESS" in written
    assert not [f for f in written if f.endswith(".crc")]


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
