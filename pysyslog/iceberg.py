"""Iceberg sink support with parquet fallback.

⇔ BASELINE.json north_star: route/aggregate sinks are per-sink Iceberg
tables with identity partition transforms.  This sandbox ships no
iceberg-spark-runtime jar, so the probe (`iceberg_available`) resolves
the catalog class at session build and the writers fall back to
partitioned parquet — the SAME DataFrame and partition columns either
way, so the plan shape (single scan, repartition-on-sink-keys, one
partitioned write) is identical and only the committer differs.

When a runtime jar is present (a real cluster), `write_partitioned`
runs `df.writeTo(table).partitionedBy(identity cols).createOrReplace()`,
i.e. snapshot-isolated per-sink commits, which is what makes the
pipeline's bucket-resume (pipeline.py) transactional instead of
directory-rename-based.

Local parquet sinks are written through `NoForkLocalFileSystem`
(pysyslog.localfs): no `.crc` sidecars, and file and directory
permissions set through the JDK instead of one forked `chmod` per path.
When its jar cannot be built or loaded (no JDK, say) they fall back to
Hadoop's `RawLocalFileSystem` with one warning; the files and their
modes are the same, only the forks come back.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .localfs import local_fs_impl

_PROBE_CACHE: dict[int, bool] = {}

# row cap of one sink file; route sizes its salt against it too
MAX_RECORDS_PER_FILE = 1_000_000


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg Spark runtime is on the session classpath.
    Probed once per JVM (class resolution, no side effects)."""
    key = id(spark.sparkContext)
    hit = _PROBE_CACHE.get(key)
    if hit is None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            hit = True
        except Exception:
            hit = False
        _PROBE_CACHE[key] = hit
    return hit


def write_partitioned(
    df: DataFrame,
    parquet_path: str,
    partition_cols: list[str],
    iceberg_table: str | None = None,
    writer_options: dict[str, str] | None = None,
) -> str:
    """Partitioned sink write that replaces the sink: Iceberg `writeTo`
    with identity partition transforms when the runtime exists (and a
    table name is given), else partitioned parquet in overwrite mode.
    Returns the sink identifier written."""
    spark = df.sparkSession
    if iceberg_table is not None and iceberg_available(spark):
        from pyspark.sql.functions import col

        writer = df.writeTo(iceberg_table).using("iceberg").option(
            "write.parquet.row-group-size-bytes", str(64 * 1024 * 1024)
        )
        if partition_cols:
            writer = writer.partitionedBy(*[col(c) for c in partition_cols])
        writer.createOrReplace()
        return iceberg_table
    # Per-write Hadoop options: they reach this write's job committer
    # and task conf only, so the session (which may pin committer v2)
    # is left untouched.  Without libhadoop the stock local filesystem
    # forks a `chmod` for every path it creates, which made the
    # fan-out's fixed per-sink cost dominate the route write (~880
    # forks for 191 sinks with checksums, 472 on RawLocalFileSystem,
    # none on NoForkLocalFileSystem; RawLocalFileSystem is the fallback
    # when that class cannot be built or loaded).  The rename commit
    # (v1, Spark's default) moves whole task directories, where v2's
    # merge runs `mkdirs` on every partition directory of the
    # destination; v1 also avoids v2's partial-commit caveat
    # (MAPREDUCE-7282).
    options = {"maxRecordsPerFile": str(MAX_RECORDS_PER_FILE),
               "mapreduce.fileoutputcommitter.algorithm.version": "1",
               **(writer_options or {})}
    if urlparse(parquet_path).scheme in ("", "file"):
        # local sinks skip the checksummed LocalFileSystem (no `.crc`
        # sidecar per file) and, through pysyslog.localfs, the `chmod`
        # forks.  The cache must be off, or the session's cached
        # checksummed instance wins.
        options["fs.file.impl"] = local_fs_impl(spark)
        options["fs.file.impl.disable.cache"] = "true"
    writer = df.write.mode("overwrite").options(**options)
    writer.partitionBy(*partition_cols).parquet(parquet_path)
    return parquet_path
