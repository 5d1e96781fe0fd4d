#!/usr/bin/env python3
"""Benchmark entry point.

    python3 fmlbench/run.py --workload solution_chain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Generates the seeded inputs under
``.fmlbench_work/``, starts a ``local[4]`` session with a 2 GiB driver
heap cap, then runs operations in a closed loop (one client) until the
summed operation time reaches ``--seconds`` (at least one operation).
Every operation's output is checked outside the timed region; between
operations the session is cleaned the same way every time.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The line before it carries the
details (latencies, set-up parts, wall split, host steal time).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".fmlbench_work")
CORES = 4
HEAP = "2g"
GEN_REPEATS = 3

sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


class Op:
    """One operation: the items it completed and, for its check, what
    it returned."""

    __slots__ = ("items", "result")

    def __init__(self):
        self.items, self.result = 0, None


class Bench:
    """What an operation needs: the session and, in a traced run, the
    tracer."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _start_session(event_log: str | None):
    from fastmlframework_spark.core.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        # VmHWM counts the heap pages the JVM has touched.  G1 grows the
        # heap, sizes the young generation and starts marking by its
        # measured pause and GC times, which moved peak RSS by 10-30%
        # between runs of one workload.  So the heap is committed at the
        # cap from the start (but not touched), the young generation has
        # a fixed size, and marking starts at a fixed occupancy.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn512m -XX:-G1UseAdaptiveIHOP"
        ),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="fmlbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session() -> None:
    """Stop the active session and the JVM it launched, and wait for
    both.  Does nothing when no session runs."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over this host's CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _hygiene(bench, wl) -> None:
    """Between operations, outside the timed region."""
    from fastmlframework_spark.core import checkpoints

    checkpoints.release_all()
    bench.spark.catalog.clearCache()
    bench.spark.sparkContext._jvm.System.gc()
    wl.clean(bench)
    tmp = tempfile.gettempdir()
    for p in glob.glob(os.path.join(tmp, "fmlf_*")) + glob.glob(os.path.join(tmp, "fastml_*")):
        shutil.rmtree(p, ignore_errors=True)


class Loop:
    """Runs operations, checks them, and records latencies."""

    def __init__(self, bench, wl):
        self.bench, self.wl = bench, wl
        self.attempted = self.failed = 0
        self.check_s = self.hygiene_s = 0.0
        self.errors: list[str] = []

    def one(self) -> tuple[Op, float]:
        """Run, check and clean up after one operation; return it with
        its latency in seconds."""
        op = Op()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.wl.run(self.bench, op)
            dt = time.perf_counter() - t0
            t1 = time.perf_counter()
            self.wl.check(self.bench, op)
            self.check_s += time.perf_counter() - t1
        except Exception:
            dt = time.perf_counter() - t0
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=6))
            print(self.errors[-1], file=sys.stderr)
        t1 = time.perf_counter()
        _hygiene(self.bench, self.wl)
        self.hygiene_s += time.perf_counter() - t1
        return op, dt


def _setup(wl, event_log=None):
    gen_s = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(wl.inputs, ignore_errors=True)
        t0 = time.perf_counter()
        wl.prepare(wl.inputs)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = _start_session(event_log)
    session_s = time.perf_counter() - t0
    bench = Bench(spark)
    wl.start(bench)  # oracle answers and other check inputs: not set-up
    setup = {"gen_s": statistics.median(gen_s), "session_s": session_s}
    return bench, Loop(bench, wl), setup


def _measure(loop, seconds: float) -> list[tuple[Op, float]]:
    """Closed loop until the summed operation time reaches ``seconds``,
    at least one operation."""
    timed = [loop.one()]
    while sum(dt for _, dt in timed) < seconds:
        timed.append(loop.one())
    return timed


def _end_to_end(bench, wl, loop, setup, timed) -> tuple[dict, dict]:
    lat = [dt * 1000.0 for _, dt in timed]
    window = sum(dt for _, dt in timed)
    items = sum(op.items for op, _ in timed)
    jvm_pid = bench.spark.sparkContext._gateway.proc.pid
    rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    out = {
        "setup_s": {"value": setup["gen_s"] + setup["session_s"], "unit": "s"},
        "items_per_s": {"value": items / window, "unit": "1/s"},
        # one operation type per workload: the plain median
        "latency_p50_ms": {"value": M.geomean_of_type_medians({wl.name: lat}), "unit": "ms"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    detail = {
        "workload": wl.name,
        "item": wl.item,
        "items": items,
        "window_s": window,
        "latencies_ms": lat,
        "setup": setup,
        "check_s": loop.check_s,
        "hygiene_s": loop.hygiene_s,
        "heap": HEAP,
        "jvm_max_heap_mb": bench.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        / 2**20,
    }
    return out, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM runs the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "fastmlframework_spark")):
        print(f"no fastmlframework_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tempfile.tempdir = None

    wl = WORKLOADS[args.workload](WORK, args.seed)
    try:
        if args.trace:
            import traced

            result, detail = traced.run(wl, args.seconds)
        else:
            t_in = time.perf_counter()
            bench, loop, setup = _setup(wl)
            t_setup = time.perf_counter()
            steal0 = _steal_s()
            timed = _measure(loop, args.seconds)
            steal = _steal_s() - steal0
            t_measure = time.perf_counter()
            metrics_, detail = _end_to_end(bench, wl, loop, setup, timed)
            result = {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics_,
            }
            _stop_session()
            detail["wall_s"] = {
                "to_main": t_in - T_START,
                "setup": t_setup - t_in,
                "measure": t_measure - t_setup,
                "stop": time.perf_counter() - t_measure,
            }
            detail["host_steal_s"] = steal
    finally:
        _stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
