"""Lookup-enrich stage: broadcast hash joins with small dimensions.

⇔ BASELINE.json north_star "lookup-enrich (facility/severity name
tables, GeoIP-style host dimension broadcast join)".  All joins are
explicit `broadcast()` so the plan never shuffles the fact side for a
dimension lookup — at 10^12 rows a shuffle join here would dominate the
job.  The facility/severity dims mirror the reference's frozen lookup
hashes (Line.pm:90-143); the host dim is synthetic GeoIP-style
metadata derived deterministically from the host pool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .tables import facility_dim, severity_dim


def host_dim(spark) -> DataFrame:
    """Deterministic GeoIP-style host dimension over the generator's
    host pool (FIXTURES.md §3)."""
    from .gen import N_HOSTS, _hostname

    from .tables import _values_relation

    sites = ["iad", "sfo", "fra", "sin"]
    regions = ["us-east", "us-west", "eu-central", "ap-south"]
    # dedup driver-side (first rank wins, deterministic) instead of a
    # Spark dropDuplicates: the rows are already local Python data, and
    # dropDuplicates would demote the dim to a shuffle job per broadcast
    # build.  (With the current _hostname pool every host key is unique,
    # so the kept row set is identical.)  The frame itself is a VALUES
    # LocalRelation — broadcast driver-side with no job (see
    # tables._values_relation).
    rows: dict[str, tuple] = {}
    for r in range(N_HOSTS):
        name = _hostname(r)
        host = name.split(".")[0] if not name[0].isdigit() else name
        rows.setdefault(
            host,
            (
                host,
                sites[r % 4],
                regions[r % 4],
                round(-60.0 + (r * 37 % 1200) / 10.0, 1),
                round(-180.0 + (r * 53 % 3600) / 10.0, 1),
            ),
        )
    return _values_relation(
        spark, list(rows.values()), "host, site, region, lat, lon"
    )


def enrich(parsed: DataFrame) -> DataFrame:
    """Attach severity_name/facility_name from the dimension tables and
    host geo metadata.  Unparseable PRIs keep NULL names; rows without a
    PRI fall back to user/notice (the syslogd default, RFC 3164 §4.1.1)."""
    spark = parsed.sparkSession
    sev = severity_dim(spark).withColumnRenamed("severity_int", "__sev_int")
    fac = facility_dim(spark).withColumnRenamed("facility_int", "__fac_int")
    out = (
        parsed.join(
            F.broadcast(sev),
            F.coalesce(parsed["priority_int"], F.lit(5)) == F.col("__sev_int"),
            "left",
        )
        .join(
            F.broadcast(fac),
            F.coalesce(parsed["facility_int"], F.lit(8)) == F.col("__fac_int"),
            "left",
        )
        .drop("__sev_int", "__fac_int")
    )
    return out.join(F.broadcast(host_dim(spark)), on="host", how="left")
