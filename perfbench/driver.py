"""One benchmark run of one workload, in a fresh driver process.

Started by ``run.py``, which owns the environment (Spark local dirs, the
event log for a traced run, the Python path of the workers). This process
sets the workload up several times, runs one untimed warm-up pass, checks
every query against its truth (which warms the JVM a second time), runs
timed passes in a closed loop with one client (as many as fit in
``--seconds`` at the workload's nominal pass time), and writes one JSON result
file, including the trace records kept in memory during the run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T_PROCESS = time.time()
#: set-ups per run; setup_s takes their median
SETUPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import procstat  # noqa: E402
import truth  # noqa: E402
import workloads as W  # noqa: E402


class Tracer:
    """Trace records, one per (workload, query, pass, phase), kept in
    memory and returned with the result. Every Spark action of a record
    runs under the job group ``workload|query|pass|phase``, which is how
    the event-log parser maps stages back to queries. Set-ups and the
    correctness gate are recorded too, as the queries ``setup`` and
    ``gate`` of untimed passes."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.records: list[dict] = []

    def span(self, query: str, pass_label: str, phase: str, fn):
        group = f"{self.workload}|{query}|{pass_label}|{phase}"
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            return fn()
        finally:
            self.records.append({
                "workload": self.workload, "query": query,
                "pass": pass_label, "phase": phase, "start": t0,
                "end": time.time(),
                "parent": f"{self.workload}|{pass_label}",
            })
            self.sc.setJobGroup("", "")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Runner:
    def __init__(self, spark, wl: W.Workload, ctx: W.BenchCtx):
        self.spark = spark
        self.wl = wl
        self.ctx = ctx
        self.tracer = Tracer(spark.sparkContext, wl.name)
        self.attempted = 0
        self.errors: list[str] = []
        self.peak_rss_mb = 0.0
        self.builders = None
        self.last_tiles = None
        if wl.name != "tile_write_resume":
            import bench_extra

            self.builders = bench_extra._builders()

    def sample_rss(self) -> None:
        """JVM plus Python workers: the processes below this one, whose
        own memory also holds the gate's DuckDB and pandas buffers."""
        self.peak_rss_mb = max(self.peak_rss_mb,
                               procstat.descendants_rss_mb(os.getpid()))

    def run_pass(self, label: str, count: bool) -> None:
        tiles = (W.TileWriteResume(self.ctx, label)
                 if self.builders is None else None)
        for q in self.wl.queries:
            if count:
                self.attempted += 1
            try:
                if tiles is not None:
                    run = self.tracer.span(q, label, "plan",
                                           lambda: tiles.step(q))
                    self.tracer.span(q, label, "exec", run)
                else:
                    df = self.tracer.span(q, label, "plan",
                                          lambda: self.builders[q](self.ctx))
                    self.tracer.span(q, label, "exec", lambda: _noop(df))
            except Exception as exc:  # a failed query is counted, not fatal
                self.errors.append(f"{q} pass {label}: {exc!r}"[:500])
            self.sample_rss()
        self.last_tiles = tiles


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wl = W.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    load_start = procstat.loadavg()
    t0 = time.time()
    from ocgis_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t0
    ctx = W.BenchCtx(spark, args.work, args.seed)
    runner = Runner(spark, wl, ctx)
    try:
        build_s = []
        for rep in range(SETUPS):
            if rep:
                ctx.release()
            t = time.time()
            runner.tracer.span("setup", f"setup{rep}", "exec",
                               lambda: ctx.build(wl.needs))
            build_s.append(time.time() - t)
            runner.sample_rss()
        cache_mb = _cache_mb(spark)
        t = time.time()
        runner.run_pass("warm", count=False)
        warm_s = time.time() - t
        # the correctness gate doubles as a second warm-up pass, so the
        # JIT is past its steepest part when the timed passes start; the
        # tile workload checks its last timed pass instead
        gate = truth.Gate(ctx)
        t = time.time()
        if runner.builders is not None:
            checks = runner.tracer.span(
                "gate", "gate", "exec", lambda: gate.check_queries(
                    (q, lambda q=q: runner.builders[q](ctx))
                    for q in wl.queries))
        else:
            runner.run_pass("warm2", count=False)
        gate_s = time.time() - t
        pins_setup = _persistent_rdds(spark)

        pass_s, cpu_s, pins_left = [], [], None
        me = os.getpid()
        for _ in range(wl.passes(args.seconds)):
            c0, t = procstat.tree_cpu_s(me), time.time()
            runner.run_pass(str(len(pass_s)), count=True)
            pass_s.append(time.time() - t)
            cpu_s.append(procstat.tree_cpu_s(me) - c0)
            if pins_left is None:
                pins_left = _persistent_rdds(spark) - pins_setup

        tiles = tile_stats(runner.last_tiles)
        if runner.builders is None:
            t = time.time()
            checks = runner.tracer.span(
                "gate", "gate", "exec",
                lambda: check_tiles(gate, runner.last_tiles))
            gate_s += time.time() - t
        gate.close()
        load_end = procstat.loadavg()
    finally:
        spark.stop()

    failed = len(runner.errors) + sum(not c.ok for c in checks)
    result = {
        "workload": wl.name, "seed": args.seed, "nproc": nproc,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "session_start_s": start_s, "build_s": build_s, "warm_s": warm_s,
        # process start to the first timed pass, with one set-up: the
        # median of the repeated set-ups stands for it
        "setup_s": (t0 - T_PROCESS) + start_s + statistics.median(build_s)
        + warm_s,
        "gate_s": gate_s, "pass_s": pass_s, "cpu_s": cpu_s,
        "peak_rss_mb": runner.peak_rss_mb,
        "cache_mb": cache_mb, "pins_left": pins_left, "tiles": tiles,
        "input_rows": wl.input_rows,
        "attempted": runner.attempted, "failed": failed,
        "errors": runner.errors,
        "checks": [c.__dict__ for c in checks],
        "trace_records": runner.tracer.records,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


def tile_stats(tiles):
    """Files, bytes and rows the last ``tile_write_resume`` pass left on
    disk, and how many tiles its resume rewrote."""
    if tiles is None or "second" not in tiles.state:
        return None
    st = tiles.state
    files = nbytes = 0
    for root, _, names in os.walk(st["cp"].data_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": nbytes,
            "rows": sum(r["rows"] for r in st["cp"].records()),
            "rewritten": len(st["second"]["processed"]),
            "dropped": len(st["dropped"])}


def check_tiles(gate, tiles) -> list:
    """The checkpoint/resume invariants of the last timed pass."""
    import truth

    try:
        return gate.check_tiles(tiles.state)
    except Exception as exc:  # the run reports it as a failure
        return [truth.Check("tiles", "tiles", False, repr(exc)[:500])]


if __name__ == "__main__":
    sys.exit(main())
