"""Seeded corpora for the workloads, written as the pipeline's
token table (doc_id string, tokens array<int32>, n_tok int32, source
string).  The same (workload, seed) always gives the same lines; the
program under test only ever reads the written parquet.
"""

from __future__ import annotations

import os

import numpy as np

from pysyslog.gen import synth_lines

# Lines per timed pass, sized so one pass takes a few seconds on 4 cores.
LINES = {"headline_mix": 40_000, "odd_lines": 60_000}

_MON = ["Jun", "Jul", "Aug", "Sep"]
_PROGS = ["sshd", "crond", "nginx", "systemd", "postfix", "dockerd"]
_LEVELS = ["notice", "info", "warn", "err", "debug", "crit"]


def _odd_line(kind: int, r: np.ndarray) -> str:
    """One line of an odd shape; every shape here parses through the
    state machine (the benchmark confirms the cohort share per run)."""
    a, b, c = int(r[0]), int(r[1]), int(r[2])
    mon = _MON[a % 4]
    bsd = f"{mon} {b % 28 + 1:2d} {c % 24:02d}:{a % 60:02d}:{b % 60:02d}"
    host = f"node{a % 300:03d}"
    prog = _PROGS[b % len(_PROGS)]
    pri = c % 191
    if kind == 0:  # NetApp bracket form without a PRI
        return (f"{bsd} {host} [{host} raid.disk.{_LEVELS[a % 6]}:{_LEVELS[b % 6]}]: "
                f"Disk {a % 24} state changed after {b % 1000} checks")
    if kind == 1:  # a priority word where the program would be
        return f"<{pri}>{bsd} {host} {_LEVELS[a % 6]}: queue depth {b % 5000} on {prog}"
    if kind == 2:  # no date
        return f"<{pri}>{host} {prog}[{1000 + b % 60000}]: request {a} done"
    if kind == 3:  # no host
        return f"<{pri}>{bsd} {prog}[{1000 + a % 60000}]: worker {b % 64} restarted"
    if kind == 4:  # host:port
        return f"<{pri}>{bsd} {host}:{514 + a % 10} {prog}[{1000 + b % 60000}]: ok {c}"
    if kind == 5:  # UTC suffix after a BSD date
        return f"<{pri}>{bsd} UTC {host} {prog}[{1000 + c % 60000}]: tick {a % 100000}"
    if kind == 6:  # empty content
        return f"<{pri}>{bsd} {host} {prog}[{1000 + a % 60000}]:"
    if kind == 7:  # Cisco sequence number only, no date
        return (f"<{pri}>{a % 900000}: %LINK-3-UPDOWN: Interface "
                f"Gi0/{b % 48}, changed state to {'up' if c % 2 else 'down'}")
    # all-nil RFC5424
    return f"<{pri}>1 - - - - - -"


ODD_KINDS = 9
ODD_SHARE = 0.7  # the rest is the default mix, so split-and-merge runs too


def odd_lines(n: int, seed: int) -> tuple[list[str], list[str]]:
    rng = np.random.default_rng([seed, 2])
    odd = rng.random(n) < ODD_SHARE
    kinds = rng.integers(0, ODD_KINDS, n)
    vals = rng.integers(0, 2**31, (n, 3))
    fast, fast_src = synth_lines(np.arange(n), seed)
    lines, sources = [], []
    for i in range(n):
        if odd[i]:
            lines.append(_odd_line(int(kinds[i]), vals[i]))
            sources.append(f"odd{int(kinds[i])}")
        else:
            lines.append(fast[i])
            sources.append(fast_src[i])
    return lines, sources


def headline_mix(n: int, seed: int) -> tuple[list[str], list[str]]:
    return synth_lines(np.arange(n), seed)


BUILDERS = {"headline_mix": headline_mix, "odd_lines": odd_lines}


def write_tokens(workload: str, seed: int, out_dir: str, files: int) -> list[str]:
    """Write the workload's token table as `files` parquet files and
    return its lines (the input of the plain-Python reference)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lines, sources = BUILDERS[workload](LINES[workload], seed)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(lines) // files)
    for f in range(files):
        lo, hi = f * step, min(len(lines), (f + 1) * step)
        enc = [s.encode("utf-8") for s in lines[lo:hi]]
        toks = [np.frombuffer(e, dtype=np.uint8).astype(np.int32) for e in enc]
        table = pa.table({
            "doc_id": [f"{s}-{i:012d}" for i, s in zip(range(lo, hi), sources[lo:hi])],
            "tokens": pa.array(toks, type=pa.list_(pa.int32())),
            "n_tok": pa.array([len(t) for t in toks], type=pa.int32()),
            "source": sources[lo:hi],
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return lines
