"""Per-layer metrics of a traced run, named ``<module>.<metric>`` after the
``ocgis_spark`` modules.

``*.plan_s`` is time inside the operator call that builds a query's plan
(driver-side planning, including any action the call runs), ``*.exec_s``
the wall time of the action that runs it; both come from the trace
records and are medians over timed passes of the per-pass sum over the
module's queries. ``*.cpu_s``, ``*_mb``, ``*.py_*``, ``*.sorts`` and
``spark.*`` come from the event log (:mod:`eventlog`): counts are taken
from the first timed pass, so they repeat exactly for a seed, and the
rest are means per timed pass. A module the workload does not call
reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import GroupStats

#: (name, unit, better) for every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("fixtures.build_s", "s", "lower"),
    ("fixtures.cache_mb", "MB", "lower"),
    ("spatial.plan_s", "s", "lower"),
    ("spatial.exec_s", "s", "lower"),
    ("spatial.cpu_s", "s", "lower"),
    ("spatial.py_rows", "count", "lower"),
    ("spatial.py_s", "s", "lower"),
    ("spatial.kept_ratio", "ratio", "higher"),
    ("tiling.exec_s", "s", "lower"),
    ("tiling.cpu_s", "s", "lower"),
    ("knn.exec_s", "s", "lower"),
    ("knn.cpu_s", "s", "lower"),
    ("knn.shuffle_mb", "MB", "lower"),
    ("crs.exec_s", "s", "lower"),
    ("vectorgrid.exec_s", "s", "lower"),
    ("regrid.exec_s", "s", "lower"),
    ("urls.exec_s", "s", "lower"),
    ("urls.cpu_s", "s", "lower"),
    ("text.exec_s", "s", "lower"),
    ("text.cpu_s", "s", "lower"),
    ("dedup.exec_s", "s", "lower"),
    ("dedup.shuffle_mb", "MB", "lower"),
    ("similarity.exec_s", "s", "lower"),
    ("trajectory.exec_s", "s", "lower"),
    ("trajectory.cpu_s", "s", "lower"),
    ("trajectory.shuffle_mb", "MB", "lower"),
    ("trajectory.spill_mb", "MB", "lower"),
    ("trajectory.sorts", "count", "lower"),
    ("gridstats.exec_s", "s", "lower"),
    ("gridstats.cpu_s", "s", "lower"),
    ("gridstats.shuffle_mb", "MB", "lower"),
    ("gridstats.pins_left", "count", "lower"),
    ("temporal.exec_s", "s", "lower"),
    ("windows.exec_s", "s", "lower"),
    ("checkpoint.fingerprint_s", "s", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.read_s", "s", "lower"),
    ("checkpoint.write_mb", "MB", "lower"),
    ("checkpoint.files", "count", "lower"),
    ("checkpoint.bytes_per_row", "B/row", "lower"),
    ("checkpoint.rewrite_ratio", "ratio", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.sched_wait_s", "s", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
UNITS = {n: u for n, u, _ in PER_LAYER}
#: checkpoint step -> its per-layer time metric
CHECKPOINT_STEPS = {"fingerprint": "fingerprint_s", "write": "write_s",
                    "resume": "resume_s", "readback": "read_s"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def compose(traced: dict, untraced: dict, groups: dict[str, GroupStats],
            modules: dict[str, str]) -> dict[str, float]:
    """Every per-layer metric for one workload. ``traced``/``untraced`` are
    driver results, ``groups`` the parsed event log of the traced run and
    ``modules`` the workload's query -> module map."""
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    timed = [str(i) for i in range(len(traced["pass_s"]))]

    # trace records: plan/exec time per module per pass, then the median
    spent = defaultdict(lambda: defaultdict(float))
    step = defaultdict(lambda: defaultdict(float))
    for r in traced["trace_records"]:
        if r["pass"] not in timed:
            continue
        mod = modules[r["query"]]
        spent[(mod, r["phase"])][r["pass"]] += r["end"] - r["start"]
        if r["phase"] == "exec" and mod == "checkpoint":
            step[r["query"]][r["pass"]] += r["end"] - r["start"]
    for (mod, phase), per_pass in spent.items():
        key = f"{mod}.{phase}_s"
        if key in out:
            out[key] = _median(list(per_pass.values()))
    for q, per_pass in step.items():
        out[f"checkpoint.{CHECKPOINT_STEPS[q]}"] = _median(
            list(per_pass.values()))

    # event log: per module, per pass
    per_mod = defaultdict(GroupStats)
    first_mod = defaultdict(GroupStats)
    total, first = GroupStats(), GroupStats()
    for gid, g in groups.items():
        parts = gid.split("|")
        if len(parts) != 4 or parts[2] not in timed:
            continue
        mod = modules[parts[1]]
        per_mod[mod].add(g)
        total.add(g)
        if parts[2] == "0":
            first_mod[mod].add(g)
            first.add(g)
    n = max(1, len(timed))
    for mod, g in per_mod.items():
        for attr in ("cpu_s", "shuffle_mb", "spill_mb"):
            key = f"{mod}.{attr}"
            if key not in out:
                continue
            if attr == "shuffle_mb":
                out[key] = (g.shuffle_read_mb + g.shuffle_write_mb) / n
            else:
                out[key] = getattr(g, attr) / n
        if f"{mod}.py_s" in out:
            out[f"{mod}.py_s"] = g.py_s / n
    sp = first_mod["spatial"]
    out["spatial.py_rows"] = sp.py_rows
    if sp.py_rows:
        out["spatial.kept_ratio"] = sp.py_kept_rows / sp.py_rows
    out["trajectory.sorts"] = first_mod["trajectory"].sorts
    out["spark.stages"] = first.stages
    out["spark.tasks"] = first.tasks
    out["spark.gc_s"] = total.gc_s / n
    out["spark.sched_wait_s"] = total.sched_wait_s / n
    out["spark.shuffle_read_mb"] = total.shuffle_read_mb / n
    out["spark.spill_mb"] = total.spill_mb / n

    out["session.start_s"] = traced["session_start_s"]
    out["fixtures.build_s"] = _median(traced["build_s"])
    out["fixtures.cache_mb"] = traced["cache_mb"]
    if "gridstats" in modules.values():
        out["gridstats.pins_left"] = traced["pins_left"]
    tiles = traced.get("tiles")
    if tiles:
        out["checkpoint.write_mb"] = tiles["bytes"] / 2**20
        out["checkpoint.files"] = tiles["files"]
        out["checkpoint.bytes_per_row"] = (tiles["bytes"]
                                           / max(1, tiles["rows"]))
        out["checkpoint.rewrite_ratio"] = (tiles["rewritten"]
                                           / max(1, tiles["dropped"]))
    out["trace.overhead_s"] = (_median(traced["pass_s"])
                               - _median(untraced["pass_s"]))
    return out
