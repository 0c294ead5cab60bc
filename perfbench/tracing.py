"""Per-layer accounting for the traced run (``--trace 1``).

Every traced call runs under its own Spark job group.  Job, stage and task
counts are read from ``SparkContext.statusTracker()`` once the listener bus
has drained; task times, rows, bytes and SQL metrics are read afterwards
from the Spark event log, which only the traced run enables.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
from collections import defaultdict

# event-log SQL metric names (Spark 4.x)
PYTHON_TIME = "time to run Python workers"
FILES_READ = "number of files read"


def event_log_args(event_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that enable an uncompressed event log."""
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf {shlex.quote('spark.eventLog.dir=file://' + event_dir)} pyspark-shell"
    )


class Tracer:
    """Runs calls under labelled job groups and records their counts.

    Disabled, :meth:`call` is a plain call, so the untraced run pays nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.counts: dict[str, dict[str, int]] = {}

    def call(self, spark, label: str, fn):
        if not self.enabled:
            return fn()
        sc = spark.sparkContext
        sc.setJobGroup(label, label)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.counts[label] = _tracker_counts(sc, label)


def _tracker_counts(sc, label: str) -> dict[str, int]:
    # job/stage completion reaches the status store through the listener
    # bus; drain it so the counts are complete
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(label)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:  # skipped stages ran no task
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def parse_event_logs(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task run time, GC time, input rows, shuffle bytes
    written, bytes spilled, Python worker time and files read."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for app in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if os.path.isdir(app):  # rolling (v2) log: events_<n>_<app id> parts
            parts = glob.glob(os.path.join(app, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            parts = [app]
        _parse_one(parts, out)
    return {g: dict(m) for g, m in out.items()}


def _lines(parts):
    for part in parts:
        with open(part) as f:
            yield from f


def _parse_one(parts: list[str], out) -> None:
    # job/stage/execution ids restart with every SparkContext, so each
    # log file is resolved on its own
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    accum_updates: list[tuple[int, int, float]] = []

    def plan_metrics(info):
        for m in info.get("metrics", ()):
            acc_name[m["accumulatorId"]] = m["name"]
        for child in info.get("children", ()):
            plan_metrics(child)

    for line in _lines(parts):
        ev = json.loads(line)
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            m = out[group]
            m["task_ms"] += tm["Executor Run Time"]
            m["gc_ms"] += tm["JVM GC Time"]
            m["input_rows"] += tm["Input Metrics"]["Records Read"]
            m["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            m["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") == PYTHON_TIME:
                    m["python_ms"] += float(acc.get("Update", 0))
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan_metrics(ev["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev["sqlPlanMetrics"]:
                acc_name[m["accumulatorId"]] = m["name"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                accum_updates.append((ev["executionId"], acc_id, value))
    for exec_id, acc_id, value in accum_updates:
        group = exec_group.get(exec_id)
        if group is not None and acc_name.get(acc_id) == FILES_READ:
            out[group]["files_read"] += value

