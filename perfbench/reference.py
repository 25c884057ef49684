"""Plain-Python reference for the output check: per-sink and per-hour
counts of a workload's lines, from `parser_core.SyslogParser` alone (no
Spark, no fast path, no dimension tables).  Sink names follow the enrich
rule: a missing PRI falls back to user/notice, an unknown code routes to
"__unknown".
"""

from __future__ import annotations

import json
import multiprocessing
import os
from collections import Counter
from concurrent.futures import ProcessPoolExecutor

SEVERITY = ["emerg", "alert", "crit", "err", "warn", "notice", "info", "debug"]
FACILITY = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news", "uucp",
    "cron", "authpriv", "ftp", "netinfo", "remoteauth", "install", "ras",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7", "launchd",
]
UNKNOWN = "__unknown"


def _sink(msg: dict) -> tuple[str, str]:
    sev = msg.get("priority_int")
    fac = msg.get("facility_int")
    sev = 5 if type(sev) is not int else sev
    fac = 8 if type(fac) is not int else fac
    sev_name = SEVERITY[sev] if 0 <= sev < len(SEVERITY) else UNKNOWN
    fac_name = (FACILITY[fac >> 3] if fac % 8 == 0 and 0 <= fac >> 3 < len(FACILITY)
                else UNKNOWN)
    return fac_name, sev_name


def _hour(epoch) -> int | None:
    if not epoch:
        return None
    whole, _, frac = str(epoch).partition(".")
    try:
        us = int(whole) * 1_000_000 + (int(frac[:6].ljust(6, "0")) if frac else 0)
    except ValueError:
        return None
    return us // 3_600_000_000 * 3600


def _counts(lines: list[str], options) -> tuple[Counter, Counter]:
    from pysyslog.parser_core import SyslogParser

    parse = SyslogParser(options).parse
    sinks: Counter = Counter()
    hourly: Counter = Counter()
    for line in lines:
        msg = parse(line)
        sink = _sink(msg)
        sinks[sink] += 1
        hour = _hour(msg.get("epoch"))
        if hour is not None:
            hourly[sink + (hour,)] += 1
    return sinks, hourly


def compute(lines: list[str], options, procs: int = 1) -> dict:
    """Reference counts, parsed in `procs` spawned processes."""
    sinks: Counter = Counter()
    hourly: Counter = Counter()
    step = -(-len(lines) // procs)
    chunks = [lines[i:i + step] for i in range(0, len(lines), step)]
    if procs > 1:
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(procs, mp_context=ctx) as pool:
            parts = list(pool.map(_counts, chunks, [options] * len(chunks)))
    else:
        parts = [_counts(c, options) for c in chunks]
    for s, h in parts:
        sinks.update(s)
        hourly.update(h)
    return {
        "lines": len(lines),
        "sinks": sorted([*k, v] for k, v in sinks.items()),
        "hourly": sorted([*k, v] for k, v in hourly.items()),
    }


def cached(path: str, lines: list[str], options, procs: int) -> dict:
    """The reference for one (workload, seed), computed once per path."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    ref = compute(lines, options, procs)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ref, fh)
    os.replace(tmp, path)
    return ref
