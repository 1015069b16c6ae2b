"""The offline event-log parser on a small recorded log, and the per-layer
composition on hand-made inputs."""

import os

import eventlog
import layers
from eventlog import GroupStats

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


def test_parser_maps_stages_and_plan_metrics_to_job_groups():
    groups = eventlog.parse(LOG)
    udf, srt, plain = (groups["t|udf|0|exec"], groups["t|sort|0|exec"],
                       groups["t|plain|0|plan"])
    for g in (udf, srt, plain):
        assert g.stages >= 1 and g.tasks >= 1 and g.cpu_s > 0
    # the UDF runs once under the filter (1000 rows in, 250 kept) and
    # again for the projected column over the 250 survivors
    assert udf.py_rows == 1250
    assert udf.py_kept_rows == 250
    assert udf.py_s > 0
    assert udf.shuffle_write_mb > 0 and udf.shuffle_read_mb > 0
    assert srt.sorts >= 1 and srt.py_rows == 0
    assert plain.sorts == 0 and plain.py_rows == 0


def test_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1",
                     "events_10_local-1"]


def _rec(q, p, phase, dt):
    return {"workload": "w", "query": q, "pass": p, "phase": phase,
            "start": 0.0, "end": dt, "parent": f"w|{p}"}


def test_compose_takes_medians_counts_from_pass_0_and_skips_warmup():
    modules = {"a": "spatial", "b": "spatial", "c": "knn"}
    records = [_rec("a", "warm", "exec", 9.0)]
    for p, dt in (("0", 1.0), ("1", 3.0), ("2", 2.0)):
        records += [_rec("a", p, "exec", dt), _rec("b", p, "exec", 1.0),
                    _rec("a", p, "plan", 0.5), _rec("c", p, "exec", 0.25)]
    traced = {"trace_records": records, "pass_s": [5.0, 6.0, 7.0],
              "session_start_s": 2.0, "build_s": [1.0, 3.0, 2.0],
              "cache_mb": 10.0, "pins_left": 0, "tiles": None}
    groups = {
        "w|a|0|exec": GroupStats(stages=2, tasks=8, cpu_s=1.0,
                                 py_rows=100, py_kept_rows=25),
        "w|a|1|exec": GroupStats(stages=2, tasks=8, cpu_s=3.0,
                                 py_rows=100, py_kept_rows=25),
        "w|a|warm|exec": GroupStats(stages=9, tasks=99, cpu_s=50.0),
        "w|c|0|exec": GroupStats(stages=1, tasks=4, shuffle_read_mb=1.0,
                                 shuffle_write_mb=1.0),
    }
    out = layers.compose(traced, {"pass_s": [4.0, 5.0, 6.0]}, groups, modules)
    assert set(out) == set(layers.UNITS)
    assert out["spatial.exec_s"] == 3.0  # median of 2, 4, 3
    assert out["spatial.plan_s"] == 0.5
    assert out["knn.exec_s"] == 0.25
    assert out["spatial.cpu_s"] == 4.0 / 3  # per timed pass
    assert out["spatial.py_rows"] == 100
    assert out["spatial.kept_ratio"] == 0.25
    assert out["knn.shuffle_mb"] == 2.0 / 3
    assert out["spark.stages"] == 3 and out["spark.tasks"] == 12
    assert out["fixtures.build_s"] == 2.0
    assert out["trace.overhead_s"] == 1.0
    assert out["urls.exec_s"] == 0.0
