"""Aggregation stage: per-sink counts + facility×severity×hour windows,
with explicit skew handling.

⇔ BASELINE.json north_star "aggregate (counts per sink, per
facility×severity×hour window) ... salted keys for skewed
hosts/programs".  facility×severity is low-cardinality (≤192 groups) so
Spark's partial (map-side) aggregation already reduces each input
partition to ≤192 rows before the shuffle — salting is unnecessary
there.  Host/program keys are Zipf-skewed, so `salted_counts` runs the
canonical two-stage salted aggregation for them: stage 1 groups on
(key, salt) spreading a hot key over N reducers, stage 2 merges the ≤N
partials per key.  Results are identical to a direct groupBy; only the
shuffle layout changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def _has_map(dt: DataType) -> bool:
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def hourly_facility_severity_counts(enriched: DataFrame) -> DataFrame:
    """facility × severity × hour window counts (golden_agg shape,
    FIXTURES.md §4)."""
    return (
        enriched.groupBy(
            F.col("facility_name"),
            F.col("severity_name"),
            F.window("ts", "1 hour").start.alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sink_counts(enriched: DataFrame) -> DataFrame:
    """Counts per routed sink (facility_name/severity_name)."""
    return (
        enriched.groupBy("facility_name", "severity_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "sink", F.concat_ws("/", F.col("facility_name"), F.col("severity_name"))
        )
    )


def pipeline_counts(enriched: DataFrame):
    """One-pass twin of (hourly_facility_severity_counts, sink_counts):
    a single shuffled aggregate on (facility, severity, hour) feeds
    both outputs, instead of two full scans of the input.

    hour buckets are EPOCH-ALIGNED (floor(epoch/3600)*3600), exactly
    like window('ts','1 hour').start — NOT date_trunc, which truncates
    in the session timezone and would bucket differently under a
    non-whole-hour zone offset (+05:30/+05:45) than the two-pass
    hourly_facility_severity_counts it replaces.  Unlike window(),
    which injects an isnotnull(ts) filter, null-ts rows are kept as a
    null-hour group — so the hourly view filters the null group back
    out while the sink totals sum over every group and count every
    row, exactly like the two-pass originals.  Returns (base, hourly,
    sinks); the caller persists `base` (≤ sinks × hours rows — tiny
    next to the input) and both views are cheap derivations from it."""
    base = (
        enriched.groupBy(
            "facility_name", "severity_name",
            F.timestamp_seconds(
                F.floor(F.col("ts").cast("double") / 3600).cast("long") * 3600
            ).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = base.filter(F.col("hour").isNotNull())
    sinks = (
        base.groupBy("facility_name", "severity_name")
        .agg(F.sum("n").alias("n"))
        .withColumn(
            "sink", F.concat_ws("/", F.col("facility_name"), F.col("severity_name"))
        )
    )
    return base, hourly, sinks


def salted_counts(df: DataFrame, key_col: str, n_salts: int = 32,
                  out_col: str = "n") -> DataFrame:
    """Two-stage salted count-by-key for Zipf-skewed keys.

    Stage 1 shuffles on (key, salt) — a hot key spreads over `n_salts`
    reducers; stage 2 shuffles the ≤n_salts partials per key.  Total
    stage-2 input is ≤ n_salts × |distinct keys|, independent of row
    count, so the plan scales with data volume while no reducer ever
    receives a whole hot key.
    """
    # salt must be DETERMINISTIC per row: a task retry recomputes its
    # partition, and a salt derived from monotonically_increasing_id()
    # would assign rows to different stage-1 groups across attempts
    # (indeterminate shuffle stage → job abort / miscounted partials).
    # Hashing the row content is stable under recompute.  MAP columns
    # are excluded (Spark forbids hashing maps — element order varies);
    # the remaining columns still spread a hot key's rows uniformly.
    # CAVEAT: byte-identical salt inputs hash to ONE salt value, so a
    # flood of duplicate values would re-concentrate.  Every table in
    # this engine carries a physically-unique column (doc_id / line_no
    # / event_id), so hashing just that column spreads uniformly —
    # hashing the whole ~30-column enriched row costs ~30 hashes per
    # input row for no extra spread.  A schema without a unique column
    # falls back to hashing every hashable column (uniqueness caveat
    # applies there).
    names = {f.name for f in df.schema.fields}
    unique = [c for c in ("doc_id", "line_no", "event_id") if c in names]
    hashable = unique or [
        f.name for f in df.schema.fields if not _has_map(f.dataType)
    ]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts))
    stage1 = (
        df.withColumn("__salt", salt)
        .groupBy(key_col, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return stage1.groupBy(key_col).agg(F.sum("__partial").alias(out_col))
