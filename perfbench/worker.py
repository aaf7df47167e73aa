"""One benchmark run, in the process run.py starts for it.

Phases: host-memory warm (kept out of every metric), session start,
input generation (three times, median kept), one warm-up cycle whose
samples and counters are discarded, then the closed loop.  The traced
run first measures untraced cycles, then installs the tracer for the
rest, so the tracing overhead is measured inside one process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

PERCENTILES = (99, 95, 90, 75, 50)
UNITS = {"_per_s": "items/s", "_s": "s", "space_amp": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def summary(name: str, values: list[float]) -> dict:
    """Median, plus the highest percentile with at least 10 samples beyond it."""
    if not values:
        return {"n": 0, "unit": unit_of(name)}
    vals = sorted(values)
    n = len(vals)
    out = {"median": statistics.median(vals), "n": n, "unit": unit_of(name)}
    pct = next((p for p in PERCENTILES if n * (100 - p) / 100 >= 10), None)
    if pct is not None:
        out[f"p{pct}"] = vals[min(n - 1, int(n * pct / 100))]
    return out


class StoragePeak:
    """Peak Spark storage memory (cached and checkpointed blocks), sampled
    at op boundaries."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.peak = 0

    def __call__(self) -> None:
        it = self.jsc.getExecutorMemoryStatus().valuesIterator()
        used = 0
        while it.hasNext():
            mx_rem = it.next()
            used += mx_rem._1() - mx_rem._2()
        self.peak = max(self.peak, used)


def stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def run_cycles(cycle, ops, first: int, deadline: float, cycle_s: list[float]) -> int:
    """Closed loop: cycle after cycle until ``deadline``; at least one."""
    i = first
    while True:
        ops.busy_s = 0.0
        try:
            cycle(i)
        except Exception as e:
            ops.fail_uncounted(e, traceback.format_exc(limit=3))
        cycle_s.append(ops.busy_s)
        i += 1
        if time.perf_counter() >= deadline:
            return i


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--settings", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    settings = json.loads(a.settings)

    from bigdatamigratecloud_spark.warmup import ensure_host_memory_warm
    from workloads import OWN_LAYER_METRICS, WORKLOADS, Ops

    t = time.perf_counter()
    warm_ran = ensure_host_memory_warm(settings["warm_gb"], n_procs=settings["cores"])
    warm_s = time.perf_counter() - t

    cls = WORKLOADS[a.workload]
    gen_s = []
    for k in range(3):  # set-up repeated in-process; the median is kept
        data_dir = os.path.join(a.scratch, "data", str(k))
        if k:
            shutil.rmtree(os.path.join(a.scratch, "data", str(k - 1)))
        os.makedirs(data_dir)
        t = time.perf_counter()
        inputs = cls.generate(a.seed, data_dir)
        gen_s.append(time.perf_counter() - t)
    work_dir = os.path.join(a.scratch, "work")
    os.makedirs(work_dir)

    with ThreadPoolExecutor(1) as pool:
        # expected outputs need no Spark: compute them while the JVM starts
        oracle = pool.submit(cls.oracle, inputs)
        t = time.perf_counter()
        from bigdatamigratecloud_spark.session import get_spark

        spark = get_spark(f"perfbench-{a.workload}", cpus=settings["cores"])
        session_s = time.perf_counter() - t
        expected = oracle.result()

    storage = StoragePeak(spark)
    ops = Ops(on_boundary=storage)
    w = cls(spark, data_dir, work_dir, ops, inputs, expected)
    t = time.perf_counter()
    try:
        w.warmup()
    except Exception as e:
        ops.fail_uncounted(e, traceback.format_exc(limit=3))
    warmup_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + warmup_s

    ops.recording = True
    storage.peak = 0
    cycle_s: list[float] = []
    t0 = time.perf_counter()
    layers: dict[str, float] = {}
    if not a.trace:
        run_cycles(w.cycle, ops, 1, t0 + a.seconds, cycle_s)
    else:
        from spans import Tracer, summarize

        nxt = run_cycles(w.cycle, ops, 1, t0 + a.seconds / 2, cycle_s)
        plain = list(ops.samples.get(w.main_op, []))
        tracer = Tracer(spark, run_id=str(os.getpid()))
        registry = getattr(w, "queries", None)
        tracer.install(registry, (w.QUERY,) if registry is not None else ())
        traced_cycles: list[float] = []
        deadline = time.perf_counter() + a.seconds / 2

        def traced_cycle(i: int) -> None:
            with tracer.span("cycle", "bench"):
                w.cycle(i)

        try:
            run_cycles(traced_cycle, ops, nxt, deadline, traced_cycles)
        finally:
            tracer.uninstall()
        cycle_s += traced_cycles
    measured_s = time.perf_counter() - t0

    try:
        w.finish()
    except Exception:
        ops.check("whole-run check", False, traceback.format_exc(limit=3)[-400:])
    if a.trace:
        traced = ops.samples.get(w.main_op, [])[len(plain):]
        layers = summarize(
            tracer, len(traced_cycles), getattr(w, "last_report", None), w.delta_rows,
        )
        layers.update(w.layer_extras(layers))
        layers["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(plain) if traced and plain else 0.0
        )
        layers["mem.storage_peak_mb"] = storage.peak / 2**20
        for name in OWN_LAYER_METRICS:
            layers.setdefault(name, 0.0)
    stop_session(spark)

    main_op = ops.samples.get(w.main_op, [])
    second_op = ops.samples.get(w.second_op, [])
    result = {
        "attempted": max(1, ops.attempted),
        "failed": ops.failed if ops.attempted else 1,
        "problems": ops.problems,
        "imports": w.imports,
        "e2e": {
            "setup_s": setup_s,
            "cycle_s": statistics.median(cycle_s) if cycle_s else 0.0,
            "main_op_s": statistics.median(main_op) if main_op else 0.0,
            "second_op_s": statistics.median(second_op) if second_op else 0.0,
        },
        "layers": layers,
        "report": {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "settings": settings,
            "host_warm": {"ran": warm_ran, "s": warm_s},
            "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s},
            "measured_s": measured_s,
            "cycles": len(cycle_s),
            "main_op": w.main_op,
            "second_op": w.second_op,
            "metrics": {
                name: summary(name, vals)
                for name, vals in {
                    "setup_s": [setup_s], "cycle_s": cycle_s, "main_op_s": main_op,
                    "second_op_s": second_op, **w.report(),
                }.items()
            },
            "mem.storage_peak_mb": storage.peak / 2**20,
            "ops_failed_frac": ops.failed / max(1, ops.attempted),
        },
    }
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
