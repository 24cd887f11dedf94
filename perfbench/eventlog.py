"""Per-layer Spark metrics from an application's event log.

Spark 4.1 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` set;
the benchmark turns compression off so it is plain JSON lines. Jobs
are attributed to passes by job group (``SparkContext.setJobGroup``),
SQL metrics to passes through their execution's job group.

Two sources are needed because they disagree on scans: the task-level
``Input Metrics / Bytes Read`` only sees parquet footer reads under
Spark 4.1's vectored reader, so scan bytes come from the scan node's
driver-side ``size of files read`` SQL metric instead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List

MB = 1024.0 * 1024.0

_START_ACCUMS = ("time to start Python workers",
                 "time to initialize Python workers")
_TASK_ACCUMS = ("data sent to Python workers",
                "data returned from Python workers",
                "time to run Python workers",
                "task commit time") + _START_ACCUMS


def load(event_dir: str) -> List[dict]:
    """Every event of the (single) application logged under
    ``event_dir``, in write order."""
    apps = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*")))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {event_dir}, "
                           f"found {len(apps)}")

    def part(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    events = []
    for path in sorted(glob.glob(os.path.join(apps[0], "events_*")),
                       key=part):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class _Plan:
    """accumulator id -> (metric name, scan location or None)."""

    def __init__(self) -> None:
        self.acc: Dict[int, tuple] = {}

    def walk(self, node: dict) -> None:
        loc = None
        if node.get("nodeName", "").startswith("Scan "):
            loc = node.get("metadata", {}).get("Location", "")
        for m in node.get("metrics", ()):
            self.acc[m["accumulatorId"]] = (m["name"], loc)
        for child in node.get("children", ()):
            self.walk(child)


def summarize(events: List[dict], group: str, input_path: str,
              input_bytes: int, n_passes: int) -> Dict[str, float]:
    """Spark-runtime layer metrics of the passes run under job group
    ``group`` (per pass), plus Python worker start-up from the set-up
    pass (job group "warmup")."""
    plan = _Plan()
    exec_group: Dict[int, str] = {}
    stage_group: Dict[int, str] = {}
    jobs = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            plan.walk(e["sparkPlanInfo"])
        if kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", ()):
                plan.acc.setdefault(m["accumulatorId"], (m["name"], None))
        if kind.endswith("SQLExecutionStart"):
            exec_group[e["executionId"]] = e.get("jobGroupId")
        elif kind == "SparkListenerJobStart":
            g = e.get("Properties", {}).get("spark.jobGroup.id")
            jobs[g] += 1
            for s in e["Stage IDs"]:
                stage_group[s] = g

    def is_input(acc_id: int, name: str) -> bool:
        got = plan.acc.get(acc_id)
        return (got is not None and got[0] == name and got[1] is not None
                and input_path in got[1])

    sums = defaultdict(float)
    for e in events:
        if not e["Event"].endswith("DriverAccumUpdates"):
            continue
        g = exec_group.get(e["executionId"])
        for acc_id, value in e["accumUpdates"]:
            name = plan.acc.get(acc_id, ("", None))[0]
            if g == group and is_input(acc_id, "size of files read"):
                sums["scan_bytes"] += value
            elif g == group and name == "job commit time":
                sums["job_commit_ms"] += value

    stage_tasks: Dict[int, List[float]] = defaultdict(list)
    gc_before = gc_in = 0.0
    rss = {"jvm": 0.0, "py": 0.0}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e["Stage ID"])
        tm = e.get("Task Metrics") or {}
        xm = e.get("Task Executor Metrics") or {}
        gc_total = float(xm.get("TotalGCTime", 0))
        if g != group:
            if not stage_tasks:
                gc_before = max(gc_before, gc_total)
            if g == "warmup":
                for a in e["Task Info"].get("Accumulables", ()):
                    if a.get("Name") in _START_ACCUMS:
                        sums["py_start_ms"] += float(a.get("Update", 0))
            continue
        gc_in = max(gc_in, gc_total)
        stage_tasks[e["Stage ID"]].append(
            tm.get("Executor Run Time", 0) / 1e3)
        for a in e["Task Info"].get("Accumulables", ()):
            name = a.get("Name")
            if name in _TASK_ACCUMS:
                sums[name] += float(a.get("Update", 0))
            elif is_input(a.get("ID"), "scan time"):
                sums["scan_ms"] += float(a.get("Update", 0))
        sr = tm.get("Shuffle Read Metrics", {})
        sums["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        sums["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        sums["spill"] += tm.get("Disk Bytes Spilled", 0)
        sums["write_bytes"] += tm.get("Output Metrics", {}).get(
            "Bytes Written", 0)
        rss["jvm"] = max(rss["jvm"], xm.get("ProcessTreeJVMRSSMemory", 0))
        rss["py"] = max(rss["py"], xm.get("ProcessTreePythonRSSMemory", 0))
    if not stage_tasks:
        raise RuntimeError(f"no tasks logged under job group {group!r}")

    # the widest stages (most tasks: each span pass has one stage, one
    # task per file); median over them of task p50, max and max/p50
    width = max(len(t) for t in stage_tasks.values())
    wide = [t for t in stage_tasks.values() if len(t) == width]
    p50s = [statistics.median(t) for t in wide]
    maxs = [max(t) for t in wide]
    skews = [max(t) / max(statistics.median(t), 1e-3) for t in wide]

    per = float(n_passes)
    return {
        "scan.bytes_read": sums["scan_bytes"] / per,
        "scan.read_amp": sums["scan_bytes"] / per / input_bytes,
        "scan.time_s": sums["scan_ms"] / 1e3 / per,
        "engine.arrow_in_bytes": sums["data sent to Python workers"] / per,
        "engine.arrow_out_bytes":
            sums["data returned from Python workers"] / per,
        "engine.python_run_s":
            sums["time to run Python workers"] / 1e3 / per,
        "engine.python_start_s": sums["py_start_ms"] / 1e3,
        "task.p50_s": statistics.median(p50s),
        "task.max_s": statistics.median(maxs),
        "task.skew": statistics.median(skews),
        "shuffle.write_bytes": sums["shuffle_write"] / per,
        "shuffle.fetch_wait_s": sums["fetch_wait_ms"] / 1e3 / per,
        "spill.bytes": sums["spill"] / per,
        "write.bytes": sums["write_bytes"] / per,
        "write.commit_s": (sums["task commit time"]
                           + sums["job_commit_ms"]) / 1e3 / per,
        "spark.jobs": jobs[group] / per,
        "jvm.gc_s": max(gc_in - gc_before, 0.0) / 1e3 / per,
        "python.rss_peak_mb": rss["py"] / MB,
        "jvm.rss_peak_mb": rss["jvm"] / MB,
    }
