"""Deterministic synthetic syslog corpus generator.

Synthesizes the pre-tokenized input table of BASELINE.json's input_hint
(doc_id string, tokens array<int32>, n_tok int32, source string) at
TESTDATA.md scale tiers.  Templates are original strings reproducing the
*format mix* of the reference's t/data corpus (BSD dates, ISO8601 with
offsets/micros, year-prefixed, Cisco second-timestamps + NTP flags,
RFC5424 with relay + structured data, NetApp tags, K/V payloads, JSON
tails) — no fixture text is copied.

Determinism: every field of row `i` is a pure function of (seed, i) via
splitmix64-style integer hashing — no RNG state, so generation is
embarrassingly parallel, identical under any partitioning, and stable
across task retries.  Host names are Zipf-skewed to exercise the salted
aggregation path (SURVEY.md §7.3.6).
"""

from __future__ import annotations

import numpy as np

from .tables import MONTH_ABBR

TEMPLATE_SOURCES = [
    "bsd_sshd",        # BSD date, program[pid]
    "bsd_cron",        # path program, no host domain
    "bsd_kv",          # kernel k=v payload
    "iso_micro",       # ISO8601 with microseconds + offset
    "iso_json",        # ISO8601 + JSON tail
    "cisco_catalyst",  # cisco seq + 2nd date + ntp flag
    "rfc5424_sd",      # <PRI>1 + relay + strict structured data
    "netapp",          # [host prog:level]: form
    "bsd_loose_sd",    # loose [group k=v] structured data
    "year_prefixed",   # YYYY Mmm D HH:MM:SS
]
# weights sum to 100; heavier on plain BSD like real mixes
TEMPLATE_WEIGHTS = [30, 10, 12, 14, 6, 8, 8, 4, 4, 4]

_PROGRAMS = ["sshd", "crond", "nginx", "kernel", "systemd", "postfix/smtpd",
             "dockerd", "etcd", "chronyd", "auditd"]
_USERS = ["alice", "bob", "carol", "dave", "erin", "frank"]

# Pinned "now" for the whole synthetic universe: all generated dates are
# in 2018 so BSD year-inference resolves to 2018 deterministically.
GEN_NOW_ISO = "2018-12-01T00:00:00Z"
GEN_NOW_EPOCH = 1543622400.0
N_HOSTS = 400
ZIPF_S = 1.3


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — stateless per-row hashing."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(31)
    return x


def _h(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    mixer = (seed * 0x5851F42D4C957F2D + salt) & 0xFFFFFFFFFFFFFFFF
    return _mix64(ids.astype(np.uint64) ^ np.uint64(mixer))


_ZIPF_CDF = None


def _zipf_cdf():
    global _ZIPF_CDF
    if _ZIPF_CDF is None:
        w = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_S
        _ZIPF_CDF = np.cumsum(w / w.sum())
    return _ZIPF_CDF


def _host_rank(ids, seed):
    u = _h(ids, 101, seed).astype(np.float64) / 2**64
    return np.searchsorted(_zipf_cdf(), u)


def _hostname(rank: int) -> str:
    if rank % 17 == 3:
        return f"10.{rank % 250}.{(rank * 7) % 250}.{(rank * 13) % 250}"
    if rank % 5 == 0:
        return f"node{rank:03d}"
    return f"node{rank:03d}.dc{rank % 4}.example.com"


def synth_lines(ids: np.ndarray, seed: int = 42) -> tuple[list[str], list[str]]:
    """Rows for the given ids -> (raw syslog lines, template source names)."""
    ids = np.asarray(ids, dtype=np.int64)
    tsel = np.searchsorted(
        np.cumsum(TEMPLATE_WEIGHTS), (_h(ids, 1, seed) % np.uint64(100)).astype(np.int64),
        side="right",
    )
    pri = (_h(ids, 2, seed) % np.uint64(191)).astype(np.int64)  # 0..190
    rank = _host_rank(ids, seed)
    pid = 1000 + (_h(ids, 3, seed) % np.uint64(60000)).astype(np.int64)
    # timestamps: June..September 2018, second granularity
    t0 = 1527811200  # 2018-06-01T00:00:00Z
    epoch = t0 + (_h(ids, 4, seed) % np.uint64(86400 * 120)).astype(np.int64)
    days = (epoch - t0) // 86400
    secs = (epoch - t0) % 86400
    val_a = (_h(ids, 5, seed) % np.uint64(100000)).astype(np.int64)
    val_b = (_h(ids, 6, seed) % np.uint64(1000)).astype(np.int64)

    lines, sources = [], []
    for i in range(len(ids)):
        t = int(tsel[i])
        src = TEMPLATE_SOURCES[t]
        host = _hostname(int(rank[i]))
        p = int(pri[i])
        d = int(days[i])
        mon_i = d // 30  # 0..3 -> Jun..Sep
        dom = d % 28 + 1  # always a valid day-of-month
        mon = MONTH_ABBR[5 + mon_i]
        hh, rem = divmod(int(secs[i]), 3600)
        mm, ss = divmod(rem, 60)
        bsd = f"{mon} {dom:2d} {hh:02d}:{mm:02d}:{ss:02d}"
        iso = f"2018-{6 + mon_i:02d}-{dom:02d}T{hh:02d}:{mm:02d}:{ss:02d}"
        prog = _PROGRAMS[int(val_a[i]) % len(_PROGRAMS)]
        user = _USERS[int(val_b[i]) % len(_USERS)]
        a, b = int(val_a[i]), int(val_b[i])

        if src == "bsd_sshd":
            line = (f"<{p}>{bsd} {host} {prog}[{pid[i]}]: pam_unix({prog}:session): "
                    f"session opened for user {user} by (uid={b % 10})")
        elif src == "bsd_cron":
            line = (f"<{p}>{bsd} /usr/sbin/cron[{pid[i]}]: ({user}) CMD "
                    f"(/usr/libexec/job-{a % 50})")
        elif src == "bsd_kv":
            line = (f"{bsd} {host} kernel: netfilter - ACTION=drop IN=eth0 "
                    f"SRC=192.168.{a % 250}.{b % 250} DST=10.0.{b % 250}.{a % 200} "
                    f"LEN={a % 1400} PROTO=TCP SPT={1024 + a % 30000} DPT={b % 1000}")
        elif src == "iso_micro":
            line = (f"<{p}>{iso}.{a % 1000000:06d}+02:00 {host} {prog}[{pid[i]}]: "
                    f"request completed in {b}ms status={200 + a % 4}")
        elif src == "iso_json":
            line = (f'{iso}Z {host} {prog}: metric update '
                    f'{{"latency_ms":{b},"batch":{a},"ok":true}}')
        elif src == "cisco_catalyst":
            flag = "." if a % 7 == 0 else "*" if a % 7 == 1 else ""
            line = (f"<{p}>{bsd} {host} {a % 900000}: {flag}{bsd}: "
                    f"%SYS-5-CONFIG_I: Configured from console by vty{b % 10}")
        elif src == "rfc5424_sd":
            line = (f"<{p}>1 {iso}+00:00 {host} 1 {iso}.{b % 1000:03d}Z relay{a % 20} "
                    f"APP-{a % 9} - EVENT_{b % 5} [exampleSDID@32473 iut=\"{a % 10}\" "
                    f"eventSource=\"app{b % 7}\" eventID=\"{a}\"]")
        elif src == "netapp":
            line = (f"<{p}>{bsd} {host} [{host.split('.')[0]} "
                    f"raid.disk.online:notice]: Disk {a % 24} online after {b} checks")
        elif src == "bsd_loose_sd":
            line = (f"<{p}>{bsd} {host} {prog}[{pid[i]}]: [job@55555 id={a} "
                    f"queue=q{b % 8}] task finished [retry count={b % 4}]")
        else:  # year_prefixed
            line = (f"2018 {bsd} {host} rsyslogd-{a % 4000}: action queue "
                    f"resumed, {b} messages buffered")
        lines.append(line)
        sources.append(src)
    return lines, sources


def rows_for_sf(sf: float) -> int:
    return max(1000, int(round(sf * 6_000_000)))


def gen_tokens_df(spark, n_rows: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic generation of the token table."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    def gen_batches(iterator):
        import pandas as pdl

        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            lines, sources = synth_lines(ids, seed)
            toks = [np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype("int32")
                    for s in lines]
            yield pdl.DataFrame(
                {
                    "doc_id": [f"{src}-{i:012d}" for src, i in zip(sources, ids)],
                    "tokens": toks,
                    "n_tok": [len(t) for t in toks],
                    "source": sources,
                }
            )

    return (
        spark.range(0, n_rows, numPartitions=partitions)
        .mapInPandas(gen_batches, "doc_id string, tokens array<int>, n_tok int, source string")
    )
