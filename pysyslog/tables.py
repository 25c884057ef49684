"""Syslog facility/severity lookup tables and dimension-table builders.

Values are the standard RFC 3164/5424 facility and severity codes as
used by the reference (%INT_PRIORITY /root/reference/lib/Parse/Syslog/Line.pm:90-99,
%INT_FACILITY :101-133 — POSIX + Apple additions, facility codes
pre-shifted <<3 so `facility_int = preamble & 0x03f8`).

These power both the scalar lookups inside the parse UDF and the
broadcast-join dimension tables of the enrich stage (BASELINE.json
north_star: "lookup-enrich (facility/severity name tables ... broadcast
join)").
"""

from __future__ import annotations

INT_PRIORITY = {
    "emerg": 0,
    "alert": 1,
    "crit": 2,
    "err": 3,
    "warn": 4,
    "notice": 5,
    "info": 6,
    "debug": 7,
}

INT_FACILITY = {
    # POSIX facilities
    "kern": 0 << 3,
    "user": 1 << 3,
    "mail": 2 << 3,
    "daemon": 3 << 3,
    "auth": 4 << 3,
    "syslog": 5 << 3,
    "lpr": 6 << 3,
    "news": 7 << 3,
    "uucp": 8 << 3,
    "cron": 9 << 3,
    "authpriv": 10 << 3,
    "ftp": 11 << 3,
    # Local reserved
    "local0": 16 << 3,
    "local1": 17 << 3,
    "local2": 18 << 3,
    "local3": 19 << 3,
    "local4": 20 << 3,
    "local5": 21 << 3,
    "local6": 22 << 3,
    "local7": 23 << 3,
    # Apple additions
    "netinfo": 12 << 3,
    "remoteauth": 13 << 3,
    "install": 14 << 3,
    "ras": 15 << 3,
    "launchd": 24 << 3,
}

PRIORITY_NAMES = {v: k for k, v in INT_PRIORITY.items()}
FACILITY_NAMES = {v: k for k, v in INT_FACILITY.items()}

# Two-way map with *string* keys, matching Perl hash-key stringification
# of `%LOG_PRIORITY = (%INT_PRIORITY, reverse %INT_PRIORITY)`
# (Line.pm:135-143).  Used by the NetApp level-fill quirk (Line.pm:904-906)
# where the looked-up value may be an int (name key) or a name (int key).
LOG_PRIORITY_ANY = {**INT_PRIORITY, **{str(v): k for k, v in INT_PRIORITY.items()}}

PRIORITY_MASK = 0x07
FACILITY_MASK = 0x03F8

MONTH_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
MONTH_NUM = {m: i for i, m in enumerate(MONTH_ABBR)}  # 0-based like @MoY


def preamble_priority(preamble: int) -> dict:
    """⇔ preamble_priority() (Line.pm:1097-1108)."""
    preamble = int(preamble)
    as_int = preamble & PRIORITY_MASK
    return {"preamble": preamble, "as_int": as_int,
            "as_text": PRIORITY_NAMES.get(as_int)}


def preamble_facility(preamble: int) -> dict:
    """⇔ preamble_facility() (Line.pm:1123-1135)."""
    preamble = int(preamble)
    as_int = preamble & FACILITY_MASK
    return {"preamble": preamble, "as_int": as_int,
            "as_text": FACILITY_NAMES.get(as_int)}


def severity_dim_rows():
    """8-row severity dimension (FIXTURES.md §3)."""
    return [(v, k) for k, v in sorted(INT_PRIORITY.items(), key=lambda kv: kv[1])]


def facility_dim_rows():
    """24-row facility dimension, facility_int pre-shifted (FIXTURES.md §3)."""
    return [(v, k) for k, v in sorted(INT_FACILITY.items(), key=lambda kv: kv[1])]


def _values_relation(spark, rows, cols: str):
    """Tiny dimension as a SQL VALUES relation: PySpark's
    createDataFrame(list) parallelizes the rows into an RDD-backed plan
    (Scan ExistingRDD), so every broadcast build launches a
    defaultParallelism-task job — measured 3 jobs x ~0.27s of fixed
    cost per enrich pass at bench scale.  A VALUES relation is a true
    LocalRelation (LocalTableScan): Spark builds the broadcast
    driver-side with NO job at all (plan-pinned by
    tests/test_plans.py::test_enrich_uses_broadcast_joins_only)."""
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return f"CAST({v!r} AS DOUBLE)"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    names = ", ".join(
        f"col{i + 1} AS {c}" for i, c in enumerate(cols.split(", "))
    )
    return spark.sql(f"SELECT {names} FROM VALUES {vals}")


def severity_dim(spark):
    return _values_relation(
        spark, severity_dim_rows(), "severity_int, severity_name"
    )


def facility_dim(spark):
    return _values_relation(
        spark, facility_dim_rows(), "facility_int, facility_name"
    )
