"""Offline parser for Spark's JSON event log.

Turns a ``file://`` event log (a single file, or a rolling
``eventlog_v2_*`` directory) into per-job-group numbers: stages and tasks
run, executor CPU, JVM GC, scheduler delay, shuffle bytes, spill, and,
from the SQL plan metrics, the rows that crossed into Python, the rows a
filter kept right above a Python node, and the sort operators planned.

Job groups are set by the benchmark around every action, so each group
names one (workload, query, pass, phase) trace record.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, fields

PY_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "FlatMapGroupsInArrow",
}
_SQL = "org.apache.spark.sql.execution.ui."
_PLAN_EVENTS = (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class GroupStats:
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    py_rows: int = 0
    py_s: float = 0.0
    py_kept_rows: int = 0
    sorts: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name,
                    getattr(self, f.name) + getattr(other, f.name))


def log_files(path: str) -> list[str]:
    """The event-log files under ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus"):
                continue
            found.append(os.path.join(root, n))

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)
    return sorted(found, key=order)


def _events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _walk(node, parents, out):
    out.append((node, parents))
    for child in node.get("children", ()):
        _walk(child, parents + [node], out)


def _metric(node, name):
    for m in node.get("metrics", ()):
        if m["name"] == name:
            return m
    return None


def parse(path: str) -> dict[str, GroupStats]:
    """Per-job-group statistics of the event log at ``path``."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    accum: dict[int, int] = defaultdict(int)

    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None and group:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            stats[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats[stage_group.get(ev["Stage ID"], "")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            g.tasks += 1
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            run_ms = m.get("Executor Run Time", 0)
            g.run_s += run_ms / 1e3
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
            g.spill_mb += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / 2**20
            # the Spark UI's scheduler delay
            got = info.get("Getting Result Time", 0)
            fetch = info["Finish Time"] - got if got else 0
            delay = (info["Finish Time"] - info["Launch Time"] - run_ms
                     - m.get("Executor Deserialize Time", 0)
                     - m.get("Result Serialization Time", 0) - fetch)
            g.sched_wait_s += max(0, delay) / 1e3
            for a in info.get("Accumulables", ()):
                # SQL metrics are logged as strings, task metrics as numbers
                try:
                    accum[a["ID"]] += int(a.get("Update"))
                except (TypeError, ValueError):
                    pass
        elif kind in _PLAN_EVENTS:
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in ev.get("accumUpdates", ()):
                accum[aid] += int(val)

    for eid, plan in plans.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        g = stats[group]
        nodes = []
        _walk(plan, [], nodes)
        for node, parents in nodes:
            name = node["nodeName"]
            if name == "Sort":
                g.sorts += 1
            if name not in PY_NODES:
                continue
            rows = _metric(node, "number of output rows")
            if rows:
                g.py_rows += accum.get(rows["accumulatorId"], 0)
            t = _metric(node, "time to run Python workers")
            if t:
                scale = 1e9 if t.get("metricType") == "nsTiming" else 1e3
                g.py_s += accum.get(t["accumulatorId"], 0) / scale
            for up in reversed(parents):
                if up["nodeName"] in PY_NODES or "Exchange" in up["nodeName"]:
                    break
                if up["nodeName"] == "Filter":
                    kept = _metric(up, "number of output rows")
                    if kept:
                        g.py_kept_rows += accum.get(kept["accumulatorId"], 0)
                    break
    return dict(stats)
