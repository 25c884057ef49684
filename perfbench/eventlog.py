"""Per-job-group totals from Spark's JSON-lines event log: the jobs
(call site, seconds), task metrics summed over every task, each task's
duration, and the SQL metrics of every completed stage.

The traced run tags each stage call with a job group named after its
layer, so a run explains itself without the Spark UI.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GROUP = "spark.jobGroup.id"


def _new() -> dict:
    return {"jobs": [], "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "spill_bytes": 0, "shuffle_write_bytes": 0,
            "task_s": [], "sql": defaultdict(float)}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def summarize(event_dir: str) -> dict:
    groups: dict = defaultdict(_new)
    stage_group: dict = {}
    job_start: dict = {}
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_start[ev["Job ID"]] = (props.get(GROUP), ev["Submission Time"],
                                               props.get("callSite.short", ""))
                elif kind == "SparkListenerJobEnd":
                    group, t0, site = job_start.pop(ev["Job ID"], (None, None, ""))
                    if group is not None:
                        groups[group]["jobs"].append(
                            [site, (ev["Completion Time"] - t0) / 1000])
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(GROUP)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is not None:
                        for acc in info.get("Accumulables", []):
                            groups[group]["sql"][acc.get("Name", "")] += _num(acc.get("Value"))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups[group]
                    info = ev["Task Info"]
                    g["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000)
                    g["run_s"] += m.get("Executor Run Time", 0) / 1000
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    for g in groups.values():
        g["sql"] = dict(g["sql"])
    return dict(groups)
