"""Aggregation stage: per-sink counts + facility×severity×hour windows,
and per-key counts for Zipf-skewed keys.

⇔ BASELINE.json north_star "aggregate (counts per sink, per
facility×severity×hour window) ... salted keys for skewed
hosts/programs".  Every aggregate here is a count, which Spark computes
in parts: the map-side partial aggregation reduces each input partition
to at most one row per key before the one shuffle, so a hot host or
program reaches the reducers as ≤ (map partitions) partial rows, never
as its raw rows.  That partial step is the skew handling for
host/program keys (tests/test_plans.py pins it); a salt in front of it
only added a second shuffle.  The route's per-sink salt
(route.route_by_facility_severity) covers the skewed write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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


def salted_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Count-by-key for Zipf-skewed keys: one groupBy, whose partial
    count turns a hot key into at most one row per map partition before
    the only shuffle (see the module docstring).  perfbench imports it
    and names a span after it, so the name stays."""
    return df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
