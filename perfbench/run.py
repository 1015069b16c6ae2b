"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload subset_tile --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run starts the workload in a fresh
driver process (``driver.py``) at ``local[nproc]`` with one client, with
Spark's local dirs and all scratch output in ``.perfbench_work/`` (removed
afterwards). ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
runs the workload twice, untraced and then with Spark's event log
enabled through ``PYSPARK_SUBMIT_ARGS``, and prints the per-layer metrics
(see ``layers.py``), including the tracing overhead; its trace records
and per-group event-log numbers are kept in ``.perfbench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
non-zero when any query raised or failed its correctness check.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import procstat  # noqa: E402
import workloads as W  # noqa: E402

CHILD_TIMEOUT_S = 170
DRIVER_MEM = "1536m"

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("rows_per_s", "rows/s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"),
]


def _child(args, work: str, tag: str, timeout: float,
           event_dir: str | None = None) -> dict:
    """Run ``driver.py`` once in a fresh process and return its result."""
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ)
    root = os.getcwd()
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # a private temp dir and no perf-data file keep every write of the
    # Python side and of both JVMs (spark-submit's launcher and Spark's)
    # inside the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a pre-touched fixed heap keeps the JVM's resident size from
    # depending on when the collector grows the heap
    java_opts = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--conf", shlex.quote(
                  f"spark.driver.extraJavaOptions={java_opts}")]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        log_dir = shlex.quote(f"spark.eventLog.dir=file://{event_dir}")
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", log_dir,
                   "--conf", "spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    out = os.path.join(work, f"{tag}.json")
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--work", work, "--out", out]
    with open(os.path.join(work, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            raise RuntimeError(f"{tag} run exceeded {timeout:.0f} s")
        finally:
            _stop_group(proc.pid)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, f"{tag}.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{tag} run exited {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def _stop_group(pgid: int) -> None:
    """Kill what is left of the child's process group (the JVM and Python
    workers share it) and wait until it is gone."""
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        return
    for _ in range(200):
        if not procstat.group_pids(pgid):
            return
        time.sleep(0.05)


def end_to_end(res: dict) -> dict[str, float]:
    pass_s = statistics.median(res["pass_s"])
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": res["input_rows"] / pass_s,
        "cpu_s": statistics.median(res["cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _report(res: dict) -> None:
    """Human-readable lines before the result line."""
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"workload {res['workload']} seed {res['seed']} nproc {res['nproc']}"
          f" loadavg {res['loadavg_start']} -> {res['loadavg_end']}")
    for c in res["checks"]:
        status = "ok" if c["ok"] else "MISMATCH"
        print(f"check {c['query']:<26} truth {c['truth']:<36} {status}"
              + ("" if c["ok"] else f"  {c['detail']}"))
    for e in res["errors"]:
        print(f"error {e}")
    print(f"phases session {res['session_start_s']:.2f} s, set-ups "
          f"{', '.join(f'{b:.2f}' for b in res['build_s'])} s, warm-up "
          f"{res['warm_s']:.2f} s, passes "
          f"{', '.join(f'{p:.2f}' for p in res['pass_s'])} s, gate "
          f"{res['gate_s']:.2f} s")
    print(f"passes {len(res['pass_s'])}  fail_ratio {ratio:.6f} ratio "
          f"({res['failed']}/{res['attempted']})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    try:
        res = _child(args, os.path.join(work, "plain"), "plain",
                     CHILD_TIMEOUT_S / (2 if args.trace else 1))
        _report(res)
        if args.trace:
            event_dir = os.path.join(work, "eventlog")
            traced = _child(args, os.path.join(work, "traced"), "traced",
                            CHILD_TIMEOUT_S / 2, event_dir)
            import eventlog

            groups = eventlog.parse(event_dir)
            wl = W.WORKLOADS[args.workload]
            values = layers.compose(traced, res, groups, wl.modules)
            metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                       for k, v in values.items()}
            _save_trace(args, traced, groups)
            res["failed"] += traced["failed"]
            res["attempted"] += traced["attempted"]
        else:
            metrics = {k: {"value": v, "unit": u}
                       for (k, u), v in zip(END_TO_END,
                                            end_to_end(res).values())}
        for k, m in metrics.items():
            print(f"metric {k:<28} {m['value']:.6g} {m['unit']}")
    except RuntimeError as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if res["failed"] == 0 else 1


def _save_trace(args, traced: dict, groups: dict) -> None:
    out = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace.json")
    with open(path, "w") as fh:
        json.dump({"trace_records": traced["trace_records"],
                   "groups": {g: dataclasses.asdict(s)
                              for g, s in groups.items()}}, fh)


if __name__ == "__main__":
    sys.exit(main())
