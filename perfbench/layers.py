"""Per-layer metrics of a traced run, and what each is expected to move.

``BENCHMARK.json``'s ``per_layer`` list names the metrics and gives
their units and better directions. ``LAYERS`` adds, for each name, the
engine module the layer is, and the end-to-end figure and workload it
should move (figures not in ``BENCHMARK.json`` are in the detail line).
Time figures are means per timed operation ("action") of the layer's
self time unless the name says per call, per drain or per micro-batch;
``catalog.build_ms`` is per catalog scan of the set-up, which is traced
outside any action.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.interactive import BATCH_QUERIES
from perfbench.trace import (
    action_walls, check_trace, executor_by_action, join_jobs,
    read_event_log, self_times,
)

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")
LAKELOG = "etl_lens_spark.operators.lakelog"
EXEC = "batch_p50_ms, ops_per_s, op_geomean_ms"

# name → (layer module, moves (end-to-end figure), workload)
LAYERS = {
    "session.start_s": ("etl_lens_spark.session", "setup_s", "all"),
    "sources.load_table_ms": ("etl_lens_spark.sources.tables", "sql_p50_ms, ops_per_s, op_geomean_ms", "interactive"),
    "sources.load_table_calls": ("etl_lens_spark.sources.tables", "sql_p50_ms, ops_per_s, op_geomean_ms", "interactive"),
    "sources.pyds_ms": ("etl_lens_spark.sources.pyds", "cdf_batch_p50_ms", "lake_churn"),
    "catalog.build_ms": ("etl_lens_spark.catalog", "catalog_p50_ms, setup_s", "interactive"),
    "catalog.per_type_ms": ("etl_lens_spark.catalog", "click_p50_ms, op_geomean_ms", "interactive"),
    "planner.analysis_ms": ("Catalyst (QueryExecution.tracker)", "click_p50_ms, op_geomean_ms", "interactive"),
    "planner.optimization_ms": ("Catalyst (QueryExecution.tracker)", "click_p50_ms, op_geomean_ms", "interactive"),
    "planner.planning_ms": ("Catalyst (QueryExecution.tracker)", "click_p50_ms, op_geomean_ms", "interactive"),
    "queries.construct_s": ("etl_lens_spark.queries", EXEC, "interactive"),
    "executor.jobs": ("Spark scheduler", "interactive_tail_ms", "interactive"),
    "executor.tasks": ("Spark scheduler", "interactive_tail_ms", "interactive"),
    "executor.run_s": ("Spark executors", EXEC, "interactive"),
    "executor.gc_s": ("Spark executors", EXEC, "interactive"),
    "executor.shuffle_read_mb": ("Spark executors", EXEC, "interactive"),
    "executor.shuffle_write_mb": ("Spark executors", EXEC, "interactive"),
    "executor.spill_mb": ("Spark executors", EXEC, "interactive"),
    "executor.python_eval_s": ("etl_lens_spark.dedup / text / similarity", EXEC, "interactive"),
    "executor.sched_wait_ms": ("Spark scheduler", "op_geomean_ms", "interactive"),
    **{f"batch.{q}_s": ("etl_lens_spark.queries", EXEC, "interactive") for q in BATCH_QUERIES},
    "lakelog.merge_ms": (LAKELOG, "write_p50_ms, write_tail_ms", "lake_churn"),
    "lakelog.delete_ms": (LAKELOG, "write_p50_ms, write_tail_ms", "lake_churn"),
    "lakelog.append_ms": (LAKELOG, "write_p50_ms, write_tail_ms", "lake_churn"),
    "lakelog.commit_ms": (LAKELOG, "write_p50_ms, write_tail_ms", "lake_churn"),
    "lakelog.files_rewritten_per_write": (LAKELOG, "write_amp, write_p50_ms", "lake_churn"),
    "lakelog.rows_rewritten_per_row_changed": (LAKELOG, "write_amp, write_p50_ms", "lake_churn"),
    "lakelog.snapshot_files_ms": (LAKELOG, "read_p50_ms", "lake_churn"),
    "lakelog.files_active": (LAKELOG, "read_p50_ms", "lake_churn"),
    "lakelog.optimize_ms": (LAKELOG, "write_tail_ms, space_amp", "lake_churn"),
    "lakelog.checkpoint_ms": (LAKELOG, "write_tail_ms, space_amp", "lake_churn"),
    "streaming.trigger_ms": ("etl_lens_spark.streaming", "cdf_batch_p50_ms", "lake_churn"),
    "streaming.get_batch_ms": ("etl_lens_spark.streaming", "cdf_batch_p50_ms", "lake_churn"),
    "streaming.input_rows": ("etl_lens_spark.streaming", "cdf_batch_p50_ms", "lake_churn"),
    "driver.residual_ms": ("driver-side residual (no layer span)", "every latency figure", "all"),
    "driver.trace_overhead_pct": ("perfbench.trace (span and event-log cost)", "none (traced runs only)", "all"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _span_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def layer_metrics(ctx, session_s: float) -> dict:
    """Reduce the traced phase of a run to every per-layer metric."""
    tr = ctx.tracer
    spans = [s for s in tr.spans if s["end"] is not None]
    walls = action_walls(spans)
    actions = sorted(walls)
    n = max(len(actions), 1)

    own: dict[str, float] = defaultdict(float)  # span name → Σ self ms
    layers: dict[str, float] = defaultdict(float)  # layer → Σ self ms
    by_action = self_times(spans)
    setup = by_action.pop(None, {})  # the traced set-up, outside any action
    for per in by_action.values():
        for name, ms in per.items():
            own[name] += ms
            layers[name.split(".")[0]] += ms
    calls = sum(1 for s in spans if s["name"] == "sources.load_table" and s["action"] is not None)
    setup_scans = sum(1 for s in spans if s["name"] == "catalog.build_catalog" and s["action"] is None)

    def per_call(name: str) -> float:
        return _mean(_span_ms(s) for s in spans if s["name"] == name and s["action"] is not None)

    def per_action(*names: str) -> float:
        return sum(own[x] for x in names) / n

    evlog = read_event_log(ctx.path("eventlog"))
    jobs = join_jobs(spans, evlog)
    execs = executor_by_action(evlog, jobs)
    op_ms = {i: ms for i, (_, ms) in enumerate(ctx.ops)}
    problems = check_trace(spans, evlog, jobs, op_ms)
    ctx.check(not problems, "trace self-check: " + "; ".join(problems[:5]))
    ctx.detail["trace"] = {
        "actions": len(actions), "jobs_joined": sum(len(v) for v in jobs.values()),
        "spans": len(spans), "problems": problems[:20],
        "residual_share": layers.get("driver", 0.0) / max(sum(walls.values()), 1e-9),
        "layer_self_ms_per_action": {k: v / n for k, v in sorted(layers.items())},
    }

    def ex(key: str) -> float:
        return sum(e.get(key, 0.0) for e in execs.values()) / n

    def phase(key: str) -> float:
        return sum(p[key] for p in tr.phases if p["action"] is not None) / n

    def counter(key: str) -> float:
        return _mean(tr.counters.get(key, []))

    by_kind = defaultdict(list)
    for (kind, ms), traced in zip(ctx.ops, ctx.op_traced):
        if traced:
            by_kind[kind].append(ms)
    values = {
        "session.start_s": session_s,
        "sources.load_table_ms": per_action("sources.load_table"),
        "sources.load_table_calls": calls / n,
        "sources.pyds_ms": counter("sources.pyds_ms"),
        "catalog.build_ms": (setup.get("catalog.build_catalog", 0.0)
                             + setup.get("catalog.multi_key_sort", 0.0)) / max(setup_scans, 1),
        "catalog.per_type_ms": per_action("catalog.per_type_query"),
        "planner.analysis_ms": phase("analysis"),
        "planner.optimization_ms": phase("optimization"),
        "planner.planning_ms": phase("planning"),
        "queries.construct_s": per_action("queries.construct") / 1000.0,
        "executor.jobs": ex("jobs"),
        "executor.tasks": ex("tasks"),
        "executor.run_s": ex("run_s"),
        "executor.gc_s": ex("gc_s"),
        "executor.shuffle_read_mb": ex("shuffle_read_mb"),
        "executor.shuffle_write_mb": ex("shuffle_write_mb"),
        "executor.spill_mb": ex("spill_mb"),
        "executor.python_eval_s": ex("python_eval_s"),
        "executor.sched_wait_ms": ex("sched_wait_ms"),
        **{f"batch.{q}_s": _mean(by_kind.get(q, [])) / 1000.0 for q in BATCH_QUERIES},
        "lakelog.merge_ms": per_call("lakelog.merge_upsert"),
        "lakelog.delete_ms": per_call("lakelog.delete_where"),
        "lakelog.append_ms": per_call("lakelog.append"),
        "lakelog.commit_ms": per_call("lakelog.commit"),
        "lakelog.files_rewritten_per_write": counter("lakelog.files_rewritten"),
        "lakelog.rows_rewritten_per_row_changed": counter("lakelog.rows_rewritten_per_row_changed"),
        "lakelog.snapshot_files_ms": per_call("lakelog.replay"),
        "lakelog.files_active": counter("lakelog.files_active"),
        "lakelog.optimize_ms": per_call("lakelog.maybe_optimize"),
        "lakelog.checkpoint_ms": per_call("lakelog.write_checkpoint"),
        "streaming.trigger_ms": counter("streaming.trigger_ms"),
        "streaming.get_batch_ms": counter("streaming.get_batch_ms"),
        "streaming.input_rows": counter("streaming.input_rows"),
        "driver.residual_ms": sum(v for k, v in own.items() if k.startswith("driver.")) / n,
        "driver.trace_overhead_pct": ctx.detail.get("trace_overhead_pct", 0.0),
    }
    with open(BENCHMARK_JSON) as fh:
        declared = json.load(fh)["per_layer"]
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
