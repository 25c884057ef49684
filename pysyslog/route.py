"""Route stage: fan-out of parsed+enriched records into per-sink tables.

⇔ BASELINE.json north_star "route (fan-out by facility/severity/program
into per-sink Iceberg tables)".  The scalable fan-out is ONE partitioned
write — `partitionBy(facility_name, severity_name)` — not N filtered
jobs: a single scan feeds every sink and the writer splits files by
partition value.  In this sandbox the sink format is parquet; on a real
cluster the same DataFrame goes to `.writeTo(table)` (Iceberg) with
identity partition transforms — the plan shape is unchanged.
"""

from __future__ import annotations

import os
import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from .iceberg import MAX_RECORDS_PER_FILE, write_partitioned


ROUTE_COLS = ["facility_name", "severity_name"]

# at or below 2 × this many input rows no sink is sized and every sink
# is written as one file (tests patch it down to exercise the salt)
MIN_SALT_ROWS = 50_000

# Parquet dictionary encoding is disabled per-column for the
# high-cardinality text/identity fields of the enriched schema: the
# writer builds a dictionary per column chunk, overflows it on
# near-unique values (raw lines, message bodies, timestamps, ids), and
# falls back to PLAIN — paying the dictionary build for nothing.
# Measured on 4 vCPU (warm persisted frame, a REBALANCE(facility_name,
# severity_name) write of the same 191 sinks, on the chmod-forking
# RawLocalFileSystem before pysyslog.localfs): 600k lines 5.22 s with
# these options against 7.07 s without (median of 7), 40k lines 1.73 s
# against 1.91 s.  The output is 0.1% smaller with them: these columns
# were ending up PLAIN after the fallback anyway.  Low-cardinality columns
# (host, program_name, facility/severity, source, tz, ...) keep
# dictionary encoding — disabling it globally grew the output 9% for no
# time win.  Cardinality is a property of the fields, not of the scale
# factor, so the split holds at 10^12 rows.
HIGH_CARDINALITY_COLS = (
    "doc_id", "raw", "message", "content", "datetime_raw",
    "epoch", "epoch_us", "ts", "sdata_json", "time", "datetime_utc",
    "datetime_local", "datetime_str", "program_pid",
)
NO_DICT_WRITER_OPTIONS = {
    f"parquet.enable.dictionary#{c}": "false" for c in HIGH_CARDINALITY_COLS
}


def route_by_facility_severity(
    enriched: DataFrame,
    out_dir: str,
    rows_hint: int | None = None,
    iceberg_table: str | None = None,
) -> str:
    """One partitioned write that fans the input out into one sink per
    (facility, severity), replacing what `out_dir` held.  The input is
    repartitioned on (sink keys, salt) first: without that every write
    task opens a parquet writer for every sink it sees (tasks × sinks
    tiny files, measured 4x slower at bench scale); with it each sink
    is written by `width` tasks.

    The salt width is per sink.  Every sink gets width 1, i.e. one
    file, unless `rows_hint` (the input's row count) exceeds
    2 × MIN_SALT_ROWS: then one partial-agg count job sizes the sinks,
    and a sink holding more than 2 × target rows gets width
    ceil(rows / target), capped at 2 × parallelism, where target =
    min(MAX_RECORDS_PER_FILE, total // (2 × parallelism)).  A hot sink
    thus spreads across write tasks instead of serializing into one
    straggler, while small sinks keep one right-sized file.

    Measured on 4 vCPU, with local sinks on the chmod-forking
    RawLocalFileSystem (pysyslog.localfs has since cut the warm
    40k-line route from 1.7 to 0.9 s): at 40k lines the sizing job took
    0.28 s, two of the route's four jobs, and no sink reached
    2 × target, hence the floor.  At 600k lines (persisted input, warm)
    it took 0.24 s of a 5.8 s route, and a uniform width of 1 was
    5.3 s: on 4 cores a sink must hold over 1/parallelism of the rows
    to salt, which the generator's hottest sink (22%) does not.  The
    adaptive width earns its job where parallelism is high or one sink
    dominates.  An unpersisted input would re-run its whole lineage
    (the parse UDF) for the count, so it is written at width 1 with a
    warning.

    A REBALANCE(facility_name, severity_name) hint in place of the salt
    wrote the same files and bytes but was slower on 4 vCPU, again on
    the forking filesystem (40k lines 1.73 s against 1.64 s, 600k lines
    5.55 s against 5.24 s, medians): AQE packs the unsalted keys' 16
    hash buckets into 5 write tasks, a second wave on 4 cores, where the
    salted key gives 4.

    With an Iceberg runtime on the classpath and `iceberg_table` given,
    the identical DataFrame goes through `writeTo(...)` with identity
    partition transforms instead (pysyslog.iceberg) — snapshot commits,
    same plan shape."""
    base = (
        enriched.withColumn("facility_name", F.coalesce("facility_name", F.lit("__unknown")))
        .withColumn("severity_name", F.coalesce("severity_name", F.lit("__unknown")))
    )
    width = F.lit(1)
    if rows_hint is not None and rows_hint > 2 * MIN_SALT_ROWS:
        if enriched.storageLevel == StorageLevel.NONE:
            warnings.warn(
                "route input is not persisted: sizing its sinks would "
                "re-run its lineage, so every sink is written as one file",
                stacklevel=2)
        else:
            width = _sink_widths(base)
    salt = F.pmod(F.xxhash64("doc_id"), width)

    path = os.path.join(out_dir, "by_facility_severity")
    routed = base.repartition(
        F.col("facility_name"), F.col("severity_name"), salt)
    return write_partitioned(
        routed, path, ROUTE_COLS, iceberg_table=iceberg_table,
        writer_options=NO_DICT_WRITER_OPTIONS,
    )


def _sink_widths(base: DataFrame):
    """Per-sink salt width as a column expression: one count job over
    the sink keys (≤ sinks rows collected), then width ceil(rows /
    target) for each sink above 2 × target, width 1 for the rest."""
    par = base.sparkSession.sparkContext.defaultParallelism
    counts = base.groupBy("facility_name", "severity_name").count().collect()
    total = sum(r["count"] for r in counts)
    target = max(1, min(MAX_RECORDS_PER_FILE, total // (2 * par)))
    # at most total/(2*target) ≈ parallelism sinks can exceed
    # 2*target, so this when-chain stays short at any scale
    width = F.lit(1)
    for r in counts:
        if r["count"] > 2 * target:
            width = F.when(
                (F.col("facility_name") == r["facility_name"])
                & (F.col("severity_name") == r["severity_name"]),
                F.lit(min(-(-r["count"] // target), 2 * par)),
            ).otherwise(width)
    return width
