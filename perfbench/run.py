"""Benchmark of the pysyslog pipeline: lines/s through
parse → enrich → route → aggregate on seeded workloads.

    python3 perfbench/run.py --workload headline_mix --seed 1 --seconds 5 --trace 0

Run from the repository root.  The command writes the workload's token
table from the seed, computes the plain-Python reference counts, then
runs one Spark worker process (perfbench/worker.py): a closed loop, one
client submitting one batch job at a time to local[nproc].  Every timed
pass is checked against the reference.

--trace 0  three sessions are set up in a row (setup_s is their median);
           the last one warms up and runs timed passes for --seconds.
           Prints the end-to-end metrics.
--trace 1  an untraced session, then a traced one (Spark event log, UDF
           perf profiler, a job group per stage call), each for half of
           --seconds, then single-core parser baselines without Spark.
           Prints the per-layer metrics and the tracing overhead, and
           keeps the spans under .perfbench_work/spans/.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Scratch files live under .perfbench_work/.  Every process the
command starts is killed and waited for before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench_work"
WORKLOADS = ("headline_mix", "odd_lines")
SETUPS = 3            # sessions set up per timed run; setup_s is their median
WORKER_TIMEOUT_S = 150
SINGLE_CORE_LINES = 20_000
ARROW_BATCH = 20_000  # spark.sql.execution.arrow.maxRecordsPerBatch
PR_SET_CHILD_SUBREAPER = 36


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, session id) of every process, from /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), int(fields[3]))
    return table


def _session_pids(sid: int) -> list[int]:
    """The worker's session: its process, the JVM and the Python daemon
    with its workers (the daemon leaves the process group, not the
    session)."""
    return [pid for pid, (_, s) in _proc_table().items() if s == sid]


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    process whose parent has gone (the Python daemon once the JVM exits)
    is re-parented here, where `_reap_all` finds it and waits for it."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_all(timeout: float = 30) -> None:
    """Kill every process this one started, directly or not, and wait
    until each has ended."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = _descendants(os.getpid())
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        time.sleep(0.05)


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of one session (the worker process, its JVM and
    the Python workers the JVM starts), read from /proc."""

    def __init__(self, sid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.wait(self.interval):
            self.peak = max(self.peak, _rss_bytes(_session_pids(self.sid)))

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def run_worker(job: dict, work: str, while_starting) -> dict:
    """Run the worker process to completion, calling `while_starting`
    once it has been launched; returns its result plus the peak RSS of
    its session."""
    job = dict(job, result=os.path.join(work, "result.json"))
    job_path = os.path.join(work, "job.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (os.getcwd(), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
    })
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), job_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            while_starting()
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _reap_all()
            peak = sampler.stop()
    if not os.path.exists(job["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited {proc.returncode} without a result; "
                           f"log tail:\n{tail}")
    with open(job["result"]) as fh:
        out = json.load(fh)
    out["peak_rss_bytes"] = peak
    return out


def single_core(lines: list[str], options) -> dict:
    """Parse rates on one core with no Spark: `_parse_batch` (fast path
    plus state-machine remainder, in Arrow-batch-sized chunks) and
    `SyslogParser.parse` alone; median of 3, a fresh parser each time.
    Also the share of rows the batch parser sends to the state machine,
    counted by wrapping `_slow_cols` in this process only."""
    import pandas as pd

    from pysyslog import parser as P
    from pysyslog.parser_core import SyslogParser

    lines = lines[:SINGLE_CORE_LINES]
    plain = [f for f in P.FIELD_NAMES if f not in P._INT_FIELDS
             and f not in ("epoch_us", "sdata", "sdata_json", "parsed_json")]
    rx = P._fast_regex(options)
    chunks = [pd.Series(lines[i:i + ARROW_BATCH], dtype=object)
              for i in range(0, len(lines), ARROW_BATCH)]
    slow_rows = []
    real_slow_cols = P._slow_cols

    def counting_slow_cols(parser, raw_list, *args):
        slow_rows[-1] += len(raw_list)
        return real_slow_cols(parser, raw_list, *args)

    batch, core = [], []
    P._slow_cols = counting_slow_cols
    try:
        for _ in range(3):
            slow_rows.append(0)
            parser = SyslogParser(options)
            t0 = time.perf_counter()
            for c in chunks:
                P._parse_batch(parser, c, options, P.FIELD_NAMES, plain, False, rx)
            batch.append(len(lines) / (time.perf_counter() - t0))
    finally:
        P._slow_cols = real_slow_cols
    for _ in range(3):
        parse = SyslogParser(options).parse
        t0 = time.perf_counter()
        for s in lines:
            parse(s)
        core.append(len(lines) / (time.perf_counter() - t0))
    return {"parser.batch_rows_per_s": statistics.median(batch),
            "parser.fast_share": 1 - slow_rows[0] / len(lines),
            "parser_core.rows_per_s": statistics.median(core)}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_rates(passes: list[dict]) -> list[float]:
    return [p["lines"] / p["seconds"] for p in passes
            if "seconds" in p and not p["errors"]]


def _throughput(passes: list[dict]) -> float:
    """Lines over busy seconds of the passes that passed the check; the
    rate of each half of a traced run, which times one or two passes."""
    ok = [p for p in passes if "seconds" in p and not p["errors"]]
    return sum(p["lines"] for p in ok) / sum(p["seconds"] for p in ok) if ok else 0.0


def _group(ev: dict, layer: str) -> dict:
    """Event-log totals of one layer: its top-level job group and every
    group nested under it."""
    gs = [g for name, g in ev.items() if name == layer or name.startswith(layer + "/")]
    tot = {k: sum(g[k] for g in gs) for k in
           ("run_s", "cpu_s", "gc_s", "spill_bytes", "shuffle_write_bytes")}
    tot["jobs"] = [j for g in gs for j in g["jobs"]]
    tot["task_s"] = sorted(t for g in gs for t in g["task_s"])
    tot["sql"] = {}
    for g in gs:
        for k, v in g["sql"].items():
            tot["sql"][k] = tot["sql"].get(k, 0) + v
    return tot


def layer_metrics(traced: dict, lines: int) -> dict:
    spans = traced["spans"]
    ev = traced["eventlog"]

    def secs(path):
        return [s["end"] - s["start"] for s in spans
                if s["path"] == path and s["end"] is not None]

    m: dict = {}
    builds = secs("pipeline")
    m["pipeline.cache_build_s"] = _median(builds)
    m["pipeline.cache_bytes_per_line"] = _median(traced.get("cache_bytes", [])) / lines
    per = {}
    for layer, n in (("pipeline", len(builds)), ("route", len(secs("route"))),
                     ("aggregate", len(secs("aggregate")))):
        g = per[layer] = _group(ev, layer)
        n = max(n, 1)
        m[f"{layer}.run_s"] = g["run_s"] / n
        m[f"{layer}.cpu_s"] = g["cpu_s"] / n
        m[f"{layer}.gc_s"] = g["gc_s"] / n
        m[f"{layer}.spill_bytes"] = g["spill_bytes"] / n
        m[f"{layer}.jobs"] = len(g["jobs"]) / n
    parsed = max(len(builds), 1) * lines
    m["parser.udf_py_s"] = traced.get("udf_profile_s", 0.0) / max(len(builds), 1)
    sql = per["pipeline"]["sql"]
    m["parser.arrow_bytes_in_per_line"] = sql.get("data sent to Python workers", 0) / parsed
    m["parser.arrow_bytes_out_per_line"] = (
        sql.get("data returned from Python workers", 0) / parsed)
    m["enrich.s"] = _median(secs("enrich"))
    routes = secs("route")
    r = per["route"]
    m["route.s"] = _median(routes)
    m["route.sizing_s"] = sum(t for site, t in r["jobs"]
                              if site.startswith("collect")) / max(len(routes), 1)
    m["route.shuffle_write_bytes"] = r["shuffle_write_bytes"] / max(len(routes), 1)
    files = [(p["files"], p["bytes"]) for p in traced["passes"] if "files" in p]
    if "probe_route" in traced:
        files.append((traced["probe_route"]["files"], traced["probe_route"]["bytes"]))
    m["route.files"] = _median([f for f, _ in files])
    m["route.rows_per_file"] = lines / m["route.files"] if m["route.files"] else 0.0
    m["route.out_bytes_per_line"] = _median([b for _, b in files]) / lines
    tasks = r["task_s"]
    m["route.task_p50_s"] = _median(tasks)
    m["route.task_max_s"] = max(tasks) if tasks else 0.0
    m["aggregate.pipeline_counts_s"] = _median(secs("aggregate/pipeline_counts"))
    m["aggregate.salted_counts_s"] = _median(secs("aggregate/salted_counts"))
    aggs = max(len(secs("aggregate")), 1)
    m["aggregate.shuffle_bytes"] = per["aggregate"]["shuffle_write_bytes"] / aggs
    traced_rate = _throughput(traced["passes"])
    untraced_rate = _throughput(traced["untraced_passes"])
    m["trace.lines_per_s"] = traced_rate
    m["trace.overhead_frac"] = 1 - traced_rate / untraced_rate if untraced_rate else 0.0
    return m


def main(argv=None) -> int:
    _adopt_orphans()
    try:
        return _main(argv)
    finally:
        _reap_all()  # the reference pool's resource tracker, and any stray


def _main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still reaps its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pysyslog", "__init__.py")):
        print("perfbench: pysyslog/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import reference
    import workloads
    from pysyslog.gen import GEN_NOW_EPOCH
    from pysyslog.options import ParserOptions

    options = ParserOptions(now_epoch=GEN_NOW_EPOCH, auto_detect_json=True,
                            auto_detect_key_values=True)
    cpus = os.cpu_count() or 1
    cache = os.path.join(root, WORK_DIR, "reference")
    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    try:
        corpus = os.path.join(work, "corpus")
        lines = workloads.write_tokens(args.workload, args.seed, corpus, files=cpus * 2)
        ref_path = os.path.join(cache, f"{args.workload}-{args.seed}-{len(lines)}.json")
        job = {"workload": args.workload, "corpus": corpus, "reference": ref_path,
               "lines": len(lines), "cpus": cpus, "work_dir": work,
               "seconds": args.seconds, "trace": bool(args.trace), "setups": SETUPS}
        # the reference is computed while the worker starts its JVM; the
        # worker waits for it before the first timed pass
        result = run_worker(job, work, lambda: reference.cached(
            ref_path, lines, options, procs=cpus))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = result.get("untraced_passes", []) + result["passes"]
    info = {} if args.trace else {"peak_rss_mb": (result["peak_rss_bytes"] / 2**20, "MB")}
    routed = [p for p in passes if "bytes" in p]
    if routed:
        info["out_bytes_per_line"] = (
            _median([p["bytes"] / p["lines"] for p in routed]), "B/line")
    if args.trace:
        spans = os.path.join(root, WORK_DIR, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as fh:
            json.dump(result.get("spans", []), fh)
        print(f"spans: {os.path.relpath(spans, root)}")
        metrics = layer_metrics(result, len(lines))
        metrics["run.peak_rss_mb"] = result["peak_rss_bytes"] / 2**20
        metrics.update(single_core(lines, options))
        units = LAYER_UNITS
    else:
        metrics = {"lines_per_s": _median(_pass_rates(passes)),
                   "setup_s": _median(result.get("setup_s", []))}
        units = END_TO_END_UNITS

    failed = sum(1 for p in passes if p["errors"])
    attempted = max(len(passes), 1)
    correct = not failed and not result["errors"] and bool(passes)
    report(args, result, passes, metrics, units, info, attempted, failed)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


END_TO_END_UNITS = {"lines_per_s": "lines/s", "setup_s": "s"}

LAYER_UNITS = {
    "pipeline.cache_build_s": "s",
    "pipeline.cache_bytes_per_line": "B/line",
    "pipeline.run_s": "s",
    "pipeline.cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.spill_bytes": "B",
    "pipeline.jobs": "count",
    "parser.udf_py_s": "s",
    "parser.arrow_bytes_in_per_line": "B/line",
    "parser.arrow_bytes_out_per_line": "B/line",
    "parser.batch_rows_per_s": "rows/s",
    "parser.fast_share": "ratio",
    "parser_core.rows_per_s": "rows/s",
    "enrich.s": "s",
    "route.s": "s",
    "route.sizing_s": "s",
    "route.shuffle_write_bytes": "B",
    "route.files": "count",
    "route.rows_per_file": "rows",
    "route.out_bytes_per_line": "B/line",
    "route.task_p50_s": "s",
    "route.task_max_s": "s",
    "route.run_s": "s",
    "route.cpu_s": "s",
    "route.gc_s": "s",
    "route.spill_bytes": "B",
    "route.jobs": "count",
    "aggregate.pipeline_counts_s": "s",
    "aggregate.salted_counts_s": "s",
    "aggregate.shuffle_bytes": "B",
    "aggregate.run_s": "s",
    "aggregate.cpu_s": "s",
    "aggregate.gc_s": "s",
    "aggregate.spill_bytes": "B",
    "aggregate.jobs": "count",
    "trace.lines_per_s": "lines/s",
    "trace.overhead_frac": "ratio",
    "run.peak_rss_mb": "MB",
}


def report(args, result, passes, metrics, units, info, attempted, failed) -> None:
    """Human-readable summary; the JSON result line follows it."""
    rates = sorted(_pass_rates(result["passes"]))
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("settings: " + json.dumps(result.get("settings", {}), sort_keys=True))
    for k, u in units.items():
        print(f"  {k:34s} {metrics[k]:>16.6g} {u}")
    if rates:
        print(f"  {'pass lines/s':34s} n={len(rates)} min={rates[0]:.6g} "
              f"median={statistics.median(rates):.6g} max={rates[-1]:.6g}")
    spans = result.get("spans", []) if not args.trace else []
    warm = max((s["end"] for s in spans if s["name"] == "warmup"), default=0)
    for stage in ("pipeline", "route", "aggregate", "check"):
        t = [s["end"] - s["start"] for s in spans if s["name"] == stage
             and s["parent"] is None and s["start"] >= warm and s["end"] is not None]
        if t:
            print(f"  {stage + ' s':34s} median={statistics.median(t):.4g} "
                  f"min={min(t):.4g} max={max(t):.4g}")
    if result.get("setup_s"):
        print(f"  {'setup_s samples':34s} " + " ".join(f"{x:.3f}" for x in result["setup_s"]))
    for k, (v, u) in info.items():
        print(f"  {k:34s} {v:>16.6g} {u}")
    print(f"  {'failed_frac':34s} {failed / attempted:>16.6g} ratio "
          f"({failed} of {attempted} passes failed the output check)")
    for p in passes:
        if p["errors"]:
            print("  check failed: " + "; ".join(p["errors"]), file=sys.stderr)
    for e in result["errors"]:
        print("  worker error: " + e, file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
