"""Benchmark entry point for the etl_lens_spark engine.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

Run from the repository root. One run: generate the workload's inputs
from the seed, start the engine's Spark session, set up and warm up the
workload, run its closed loop (one client) for ``--seconds``, check the
outputs, and print one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``setup_s`` is the session start plus the median of three repetitions
of the workload's set-up plus its warm-up; ``op_geomean_ms`` is the
geometric mean of the timed operations' latencies, so every kind of
operation counts by its share of them, and ``ops_per_s`` is their count
over their summed time. ``--trace 0`` reports these end-to-end metrics
of ``BENCHMARK.json``;
``--trace 1`` is a separate traced run that reports the per-layer
metrics (spans + Spark event log + Catalyst phase times). A detail
object with every per-kind figure, the calibration anchor before and
after the loop, and the trace self-check is printed on the line before.
All files are written under ``.bench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import latency_summary, log, vm_hwm_mb  # noqa: E402

WORKLOADS = ("interactive", "lake_churn")
REQUIRED = ("etl_lens_spark/__init__.py", "bench.py", "tools/make_scale.py",
            "tools/oracle_check.py")
DRIVER_MEM = "3g"
PREPARE_REPS = 3


class Context:
    """Per-run state shared by a workload and the harness."""

    def __init__(self, args, root: str):
        import numpy as np

        from perfbench.trace import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.corrupt = args.corrupt_expected
        self.sf = args.sf
        self.rng = np.random.default_rng(args.seed)
        self.work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.traced = bool(args.trace)
        self.tracer = Tracer()
        self.spark = None
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float]] = []  # (kind, ms) of timed ops
        self.op_traced: list[bool] = []  # whether each op ran traced

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, kind: str, fn, *a, **k):
        """Run one operation of the closed loop; failures are counted."""
        action = len(self.ops)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.action_scope(action, kind):
                out = fn(*a, **k)
        except Exception:
            self.failed += 1
            log(f"{kind} failed:\n{traceback.format_exc()}")
            out = None
        self.ops.append((kind, (time.perf_counter() - t0) * 1000.0))
        self.op_traced.append(self.tracer.enabled)
        return out

    def check(self, ok: bool, what: str) -> None:
        """Record one correctness check (a wrong result counts as failed)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")


def start_spark(ctx: Context):
    from etl_lens_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.traced:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibrate(spark) -> float:
    """Box-speed anchor: ``bench._calibration_df`` through the noop sink."""
    from bench import _calibration_df

    t0 = time.perf_counter()
    _calibration_df(spark).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)


def run_loop(ctx: Context, wl) -> None:
    """Closed loop: whole blocks of operations until ``ctx.seconds`` have
    passed. A traced run alternates untraced and traced blocks (at least
    one of each), so that comparing them gives the tracing overhead with
    warm-in spread over both."""
    deadline = time.perf_counter() + ctx.seconds
    n = 0
    while True:
        ctx.tracer.enabled = ctx.traced and n % 2 == 1
        wl.block()
        n += 1
        if time.perf_counter() >= deadline and (n >= 2 or not ctx.traced):
            break
    ctx.tracer.enabled = False


def run(args, root: str) -> dict:
    mod = importlib.import_module(f"perfbench.{args.workload}")
    ctx = Context(args, root)
    shutil.rmtree(ctx.work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(ctx.path(d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": ctx.path("local"),
        "TMPDIR": ctx.path("tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    wl = mod.Workload(ctx)
    try:
        t0 = time.perf_counter()
        wl.generate()
        ctx.detail["generate_s"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        ctx.spark = start_spark(ctx)
        session_s = time.perf_counter() - t0
        if ctx.traced:
            ctx.tracer.install(ctx.spark)
        prep = []
        ctx.tracer.enabled = ctx.traced  # set-up spans belong to no action
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        ctx.tracer.enabled = False
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warm_s
        ctx.detail.update(session_start_s=session_s, prepare_s=prep, warmup_s=warm_s)

        ctx.detail["calibration_before_s"] = calibrate(ctx.spark)
        t_loop = time.perf_counter()
        run_loop(ctx, wl)
        loop_s = time.perf_counter() - t_loop
        ctx.detail["calibration_after_s"] = calibrate(ctx.spark)
        ctx.detail["loop_s"] = loop_s

        try:
            wl.verify()
        except Exception:
            ctx.check(False, f"verification raised:\n{traceback.format_exc()}")
        lat = latency_summary([ms for _, ms in ctx.ops])
        ctx.detail["latency"] = lat
        ctx.detail.update(wl.detail())
        ctx.detail["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(
            ctx.spark.sparkContext._gateway.proc.pid
        )
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_geomean_ms": {
                "value": statistics.geometric_mean(ms for _, ms in ctx.ops),
                "unit": "ms",
            },
            "ops_per_s": {
                "value": len(ctx.ops) / (sum(ms for _, ms in ctx.ops) / 1000.0),
                "unit": "1/s",
            },
        }
        if ctx.traced:
            ctx.tracer.uninstall()
            stop_spark(ctx.spark)  # flushes and closes the event log
            ctx.spark = None
            from perfbench.layers import layer_metrics

            p50 = {
                flag: latency_summary(
                    [ms for (_, ms), t in zip(ctx.ops, ctx.op_traced) if t == flag]
                )["p50"]
                for flag in (False, True)
            }
            ctx.detail["trace_overhead_pct"] = 100.0 * (p50[True] / p50[False] - 1.0)
            metrics = layer_metrics(ctx, session_s)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        sinks = sys.modules.get("etl_lens_spark.sources.sinks")
        if sinks is not None:
            shutil.rmtree(sinks.SCRATCH_DIR, ignore_errors=True)
        shutil.rmtree(ctx.work, ignore_errors=True)
    ctx.detail["error_rate"] = ctx.failed / max(ctx.attempted, 1)
    print(json.dumps({"detail": ctx.detail}, default=float))
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="base scale factor of the generated inputs")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="alter one expected result (self-test of the checks)")
    args = p.parse_args(argv)

    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(root, f))]
    if missing:
        log(f"not a checkout of the engine (missing {', '.join(missing)})")
        return 2
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
