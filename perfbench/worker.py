"""Spark side of the benchmark: one process sets up a Spark session, runs
the workload's timed stage sequence in a closed loop until its time share
is used, and checks every pass against the plain-Python reference.

    python3 perfbench/worker.py <job.json>

The job file names the workload, the corpus and reference paths, the
time share, whether to trace, and where to write the result JSON.  Run
from the repository root so `pysyslog` imports in this process and in the
Python workers Spark starts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from urllib.parse import unquote

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pysyslog.aggregate import pipeline_counts, salted_counts  # noqa: E402
from pysyslog.enrich import enrich  # noqa: E402
from pysyslog.gen import GEN_NOW_EPOCH  # noqa: E402
from pysyslog.options import ParserOptions  # noqa: E402
from pysyslog.parser import parse_syslog_tokens  # noqa: E402
from pysyslog.pipeline import transform  # noqa: E402
from pysyslog.route import route_by_facility_severity  # noqa: E402

import eventlog  # noqa: E402
import spark_session  # noqa: E402
from reference import UNKNOWN  # noqa: E402

# the pipeline's options, as bench.pipeline_run and run_pipeline use them
OPTIONS = ParserOptions(now_epoch=GEN_NOW_EPOCH, auto_detect_json=True,
                        auto_detect_key_values=True)

# the stage sequence each workload times (see BENCHMARK.json)
STAGES = {
    "headline_mix": ("pipeline", "route", "aggregate"),
    "odd_lines": ("pipeline", "aggregate"),
}

# timed passes a run makes at least; an odd_lines pass is short, so its
# rate is the median of two
MIN_PASSES = {"headline_mix": 1, "odd_lines": 2}

SPAWN_LINES = 400  # set-up parses this slice on every core to start the Python workers


class Tracer:
    """Spans (name, path, start, end, parent) kept in memory.  When
    `groups` is set, each span also tags the Spark jobs it runs with a
    job group named by its path ("aggregate/salted_counts"), so the
    event log can be split by layer."""

    def __init__(self, sc, groups: bool):
        self.sc = sc
        self.groups = groups
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = name if parent is None else f"{self.spans[parent]['path']}/{name}"
        rec = {"name": name, "path": path, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.groups:
            self.sc.setJobGroup(path, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.groups:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(outer["path"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


def read_back(path: str) -> dict:
    """Files, bytes and per-sink rows of a routed output, read from the
    parquet footers with pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    files = size = 0
    rows: Counter = Counter()
    for root, _, names in os.walk(path):
        keys = dict(unquote(seg).split("=", 1)
                    for seg in os.path.relpath(root, path).split(os.sep) if "=" in seg)
        for n in names:
            if n.endswith(".parquet"):
                f = os.path.join(root, n)
                files += 1
                size += os.path.getsize(f)
                rows[(keys["facility_name"], keys["severity_name"])] += (
                    pq.ParquetFile(f).metadata.num_rows)
    return {"files": files, "bytes": size,
            "sinks": sorted([*k, v] for k, v in rows.items())}


def _cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos)


def _rows(df, cols) -> list[list]:
    return sorted([[r[c] if r[c] is not None else UNKNOWN for c in cols[:-1]]
                   + [r[cols[-1]]] for r in df.collect()])


class Pass:
    """One run of the workload's stage sequence, keeping the frames the
    output check reads."""

    def __init__(self, tokens, tracer, sink_dir: str):
        self.tokens, self.tr, self.sink_dir = tokens, tracer, sink_dir
        self.enriched = self.n = self.base = self.hourly = self.sinks = None

    def pipeline(self):
        self.enriched = (transform(self.tokens, OPTIONS)
                         .drop("tokens", "message_raw").persist())
        self.n = self.enriched.count()

    def route(self):
        route_by_facility_severity(self.enriched, self.sink_dir, rows_hint=self.n)

    def aggregate(self):
        with self.tr.span("pipeline_counts"):
            base, self.hourly, self.sinks = pipeline_counts(self.enriched)
            self.base = base.persist()
            self.hourly.count()
            self.sinks.count()
        with self.tr.span("salted_counts"):
            salted_counts(self.enriched, "host").count()

    def run(self, stages) -> float:
        if "route" in stages:
            # start every pass from empty sinks with nothing left to write
            # back, so neither the delete nor the previous pass's writeback
            # lands in the timed window
            shutil.rmtree(self.sink_dir, ignore_errors=True)
            os.sync()
        t0 = time.perf_counter()
        for stage in stages:
            with self.tr.span(stage):
                getattr(self, stage)()
        return time.perf_counter() - t0

    def check(self, ref, routed: dict | None) -> list[str]:
        """Errors against the reference; empty when the output is right."""
        errors = []
        if self.n != ref["lines"]:
            errors.append(f"rows {self.n} != lines {ref['lines']}")
        if _rows(self.sinks, ["facility_name", "severity_name", "n"]) != ref["sinks"]:
            errors.append("sink counts differ from the reference")
        hourly = self.hourly.select("facility_name", "severity_name",
                                    F.col("hour").cast("long").alias("h"), "n")
        if _rows(hourly, ["facility_name", "severity_name", "h", "n"]) != ref["hourly"]:
            errors.append("hourly counts differ from the reference")
        hosts = salted_counts(self.enriched, "host").agg(F.sum("n")).first()[0]
        if hosts != ref["lines"]:
            errors.append(f"host counts sum to {hosts}, not {ref['lines']}")
        if routed is not None and routed["sinks"] != ref["sinks"]:
            errors.append("routed rows per sink differ from the reference")
        return errors

    def release(self):
        for df in (self.base, self.enriched):
            if df is not None:
                df.unpersist()


class Session:
    """A Spark session made ready for work.  Its set-up time covers the
    session start (the JVM launch too, for the first session of a
    process) and the Python workers: a small slice is parsed and
    enriched on every core, so each worker imports pysyslog and builds
    its parser."""

    def __init__(self, job: dict, trace: bool):
        self.stages = STAGES[job["workload"]]
        self.sink_dir = os.path.join(job["work_dir"], "sinks")
        event_dir = os.path.join(job["work_dir"], "eventlog") if trace else None
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
        self.conf = spark_session.settings(job["cpus"], job["work_dir"], event_dir)
        t0 = time.perf_counter()
        self.spark = spark_session.make_spark(self.conf)
        self.tracer = Tracer(self.spark.sparkContext, groups=trace)
        self.tokens = self.spark.read.parquet(job["corpus"])
        cpus = self.spark.sparkContext.defaultParallelism
        w = Pass(self.tokens.limit(SPAWN_LINES).repartition(cpus),
                 self.tracer, self.sink_dir)
        with self.tracer.span("setup"):
            w.pipeline()
        w.release()
        self.setup_s = time.perf_counter() - t0

    def warm_up(self) -> None:
        """One untimed full-size pass: the JVM compiles the hot paths of
        every timed stage before the clock starts."""
        p = Pass(self.tokens, self.tracer, self.sink_dir)
        with self.tracer.span("warmup"):
            p.run(self.stages)
        p.release()

    def timed_passes(self, ref: dict, seconds: float, cache_bytes: list | None,
                     min_passes: int = 1) -> list:
        """Closed loop: run and check passes until `seconds` have gone and
        at least `min_passes` have run."""
        passes = []
        start = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - start < seconds:
            p = Pass(self.tokens, self.tracer, self.sink_dir)
            rec: dict = {}
            try:
                rec["seconds"] = p.run(self.stages)
                rec["lines"] = p.n
                if cache_bytes is not None:
                    cache_bytes.append(_cache_bytes(self.spark))
                routed = None
                if "route" in self.stages:
                    routed = read_back(os.path.join(self.sink_dir, "by_facility_severity"))
                    rec["files"], rec["bytes"] = routed["files"], routed["bytes"]
                with self.tracer.span("check"):
                    rec["errors"] = p.check(ref, routed)
            except Exception:  # a failed pass is counted and the loop goes on
                rec["errors"] = [traceback.format_exc(limit=3)]
            finally:
                p.release()
            passes.append(rec)
        return passes

    def probes(self, out: dict) -> None:
        """Layer numbers the timed sequence does not give: enrich alone
        over a persisted parsed frame, and a route for a workload that
        does not route."""
        parsed = (parse_syslog_tokens(self.tokens, "tokens", OPTIONS)
                  .drop("tokens", "message_raw").persist())
        with self.tracer.span("probe.parse"):
            parsed.count()
        with self.tracer.span("enrich"):
            enrich(parsed).write.format("noop").mode("overwrite").save()
        parsed.unpersist()
        if "route" not in self.stages:
            p = Pass(self.tokens, self.tracer, self.sink_dir)
            with self.tracer.span("probe.cache"):
                p.pipeline()
            with self.tracer.span("route"):
                p.route()
            routed = read_back(os.path.join(self.sink_dir, "by_facility_severity"))
            out["probe_route"] = {"files": routed["files"], "bytes": routed["bytes"]}
            p.release()

    def stop(self) -> None:
        self.spark.stop()


def load_reference(path: str, timeout: float = 120) -> dict:
    """The reference counts, which the parent process computes while
    this one starts; waits for the file to appear."""
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise RuntimeError(f"no reference at {path}")
        time.sleep(0.1)
    with open(path) as fh:
        return json.load(fh)


def timed(job: dict, out: dict) -> None:
    """`setups` sessions in a row, each set up from nothing (the first
    also starts the JVM); the last one warms up and runs the timed
    passes."""
    out["setup_s"] = []
    for i in range(job["setups"]):
        s = Session(job, trace=False)
        out["setup_s"].append(s.setup_s)
        out["settings"] = s.conf
        if i < job["setups"] - 1:
            s.stop()
    try:
        s.warm_up()
        out["passes"] = s.timed_passes(load_reference(job["reference"]), job["seconds"],
                                       None, MIN_PASSES[job["workload"]])
    finally:
        out["spans"] = s.tracer.spans
        s.stop()


def traced(job: dict, out: dict) -> None:
    """An untraced session, then a traced one in the same (warm) JVM with
    the event log, the UDF perf profiler and a job group per stage call;
    each gets half of the time share.  The traced session also runs the
    layer probes."""
    s = Session(job, trace=False)
    out["settings"] = s.conf
    try:
        s.warm_up()
        ref = load_reference(job["reference"])
        out["untraced_passes"] = s.timed_passes(ref, job["seconds"] / 2, None)
    finally:
        s.stop()
    s = Session(job, trace=True)
    try:
        s.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        out["cache_bytes"] = []
        out["passes"] = s.timed_passes(ref, job["seconds"] / 2, out["cache_bytes"])
        s.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        out["udf_profile_s"] = sum(
            st.total_tt for st in
            s.spark._profiler_collector._perf_profile_results.values())
        s.probes(out)
    finally:
        out["spans"] = s.tracer.spans
        s.stop()
    out["eventlog"] = eventlog.summarize(os.path.join(job["work_dir"], "eventlog"))


def main(job_path: str) -> None:
    with open(job_path) as fh:
        job = json.load(fh)
    out: dict = {"passes": [], "errors": []}
    try:
        (traced if job["trace"] else timed)(job, out)
    except Exception:
        out["errors"].append(traceback.format_exc())
    with open(job["result"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1])
