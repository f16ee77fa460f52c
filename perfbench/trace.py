"""Spans, Spark event-log join and per-layer self times for traced runs.

A traced run wraps calls into each engine layer in a span (name, start,
end, parent, action id). Spans are kept in memory; at the end of the run
they are joined with the Spark event log (jobs, stages, task metrics) and
reduced to per-layer self times: a span's self time is its duration minus
the time its child spans cover, and the root span of each action carries
the residual (``driver``). Wrapping is done by replacing module attributes
for the duration of the run; no engine file changes.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

# Spark operators whose time is Python/Arrow evaluation.
PYTHON_OPS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython",
    "FlatMapGroupsInArrow", "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


class Tracer:
    """Span recorder; while ``enabled`` is false ``span`` is a no-op."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.phases: list[dict] = []  # planner phase times per action
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self.action: int | None = None
        self._sc = None
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "action": self.action,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def action_scope(self, action_id: int, kind: str):
        """Root span of one timed operation; tags its Spark jobs."""
        if not self.enabled:
            yield
            return
        self.action = action_id
        self._sc.setLocalProperty("perfbench.action", str(action_id))
        try:
            with self.span(f"driver.{kind}"):
                yield
        finally:
            self._sc.setLocalProperty("perfbench.action", None)
            self.action = None

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name].append(value)

    # -- instrumentation -------------------------------------------------

    def _wrap(self, owner, attr: str, span_name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(span_name):
                return orig(*a, **k)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        """Wrap the layer entry points the workloads reach."""
        self._sc = spark.sparkContext
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from etl_lens_spark import catalog
        from etl_lens_spark.operators import lakelog
        from etl_lens_spark.sources import tables

        orig_load = tables.load_table
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("etl_lens_spark") and getattr(
                mod, "load_table", None
            ) is orig_load:
                self._wrap(mod, "load_table", "sources.load_table")
        for fn in ("build_catalog", "per_type_query", "multi_key_sort"):
            self._wrap(catalog, fn, f"catalog.{fn}")
        self._wrap(lakelog, "_replay", "lakelog.replay")
        self._wrap(lakelog, "commit", "lakelog.commit")
        for fn in ("save", "parquet"):
            self._wrap(DataFrameWriter, fn, "executor.write")
        self._wrap(DataFrame, "count", "executor.count")
        orig_collect = DataFrame.collect
        tracer = self

        @functools.wraps(orig_collect)
        def collect(df):
            tracer.plan(df)
            with tracer.span("executor.collect"):
                return orig_collect(df)

        self._restore.append((DataFrame, "collect", orig_collect))
        DataFrame.collect = collect

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def plan(self, df) -> None:
        """Traced runs: plan ``df`` ahead of its action in a ``planner``
        span and record Catalyst's phase durations from
        ``QueryExecution.tracker().phases()``. ``collect`` reuses this
        plan; a write plans its command again, a cost only traced runs
        pay (it shows in the tracing overhead)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        with self.span("planner.plan"):
            qe.executedPlan()
        phases = qe.tracker().phases()
        rec = {"action": self.action}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            rec[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.phases.append(rec)


# -- event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task metrics from uncompressed event logs."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    action = props.get("perfbench.action")
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                        "action": int(action) if action else None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["python"] = st["python"] or any(
                        op in (r.get("Scope") or "") or op in (r.get("Name") or "")
                        for r in info.get("RDD Info", [])
                        for op in PYTHON_OPS
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    st["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    st["max_task_ms"] = max(st["max_task_ms"], dur)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_read": 0,
        "shuffle_write": 0, "spill": 0, "max_task_ms": 0,
        "python": False,
    }


# -- reduction ------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int | None, dict[str, float]]:
    """Per action: span name → self time (ms), where a name's first dot
    segment is its layer. The root span's self time is the ``driver``
    residual; an action's values sum to its root's duration. Spans
    outside any action (the set-up) are under ``None``."""
    child_sum: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] += s["end"] - s["start"]
    out: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        own = (s["end"] - s["start"] - child_sum[s["id"]]) * 1000.0
        out[s["action"]][s["name"]] += own
    return out


def action_walls(spans: list[dict]) -> dict[int, float]:
    return {
        s["action"]: (s["end"] - s["start"]) * 1000.0
        for s in spans
        if s["parent"] is None and s["action"] is not None
    }


def join_jobs(spans: list[dict], log: dict) -> dict[int, list[int]]:
    """Action id → job ids: by the job's ``perfbench.action`` property,
    else by the root span whose interval holds the job's submission
    (jobs started from a streaming thread carry no local properties)."""
    roots = [
        s for s in spans if s["parent"] is None and s["action"] is not None
    ]
    out: dict[int, list[int]] = defaultdict(list)
    for jid, job in sorted(log["jobs"].items()):
        action = job["action"]
        if action is None:
            for r in roots:
                if r["start"] - 0.005 <= job["start"] <= r["end"] + 0.005:
                    action = r["action"]
                    break
        if action is not None:
            out[action].append(jid)
    return out


def check_trace(
    spans: list[dict], log: dict, jobs_by_action: dict, op_ms: dict[int, float]
) -> list[str]:
    """Consistency of a traced run against figures measured apart from
    the spans. Σ self times equals the root span by construction; what
    can fail is whether that sum is the action's time and a partition
    of it:

    - the root span covers the action's wall time as the harness timed
      it (``op_ms``, a ``perf_counter`` interval around the span);
    - no self time is negative, so child spans nest inside their parent
      without overlapping (one thread, a proper tree);
    - every joined Spark job ran inside its action's root span, by the
      event log's clock, and has a stage that ran tasks.

    Returns the list of violations (empty when consistent)."""
    problems = []
    roots = {
        s["action"]: s for s in spans if s["parent"] is None and s["action"] is not None
    }
    for action, root in roots.items():
        wall = (root["end"] - root["start"]) * 1000.0
        timed = op_ms.get(action)
        if timed is None or not (wall - 1.0 <= timed <= wall + 5.0 + 0.02 * wall):
            problems.append(f"action {action}: root span {wall:.3f} ms, timed {timed} ms")
    for action, layers in self_times(spans).items():
        for name, ms in layers.items():
            if ms < -0.01:
                problems.append(f"action {action}: {name} self time {ms:.3f} ms < 0")
    slack = 0.01  # the event log keeps milliseconds
    for action, jids in jobs_by_action.items():
        root = roots.get(action)
        for jid in jids:
            job = log["jobs"][jid]
            if not any(log["stages"].get(s, {}).get("tasks") for s in job["stages"]):
                problems.append(f"action {action}: job {jid} has no stage with tasks")
            if root is not None and not (
                root["start"] - slack <= job["start"]
                and job["end"] is not None
                and job["end"] <= root["end"] + slack
            ):
                problems.append(f"action {action}: job {jid} ran outside its span")
    return problems


def executor_by_action(log: dict, jobs_by_action: dict) -> dict[int, dict[str, float]]:
    """Per action: jobs, tasks, run/gc/python seconds, shuffle and spill
    MB, and scheduler wait (job span minus its stages' longest tasks)."""
    out = {}
    for action, jids in jobs_by_action.items():
        acc = defaultdict(float)
        seen: set[int] = set()
        for jid in jids:
            job = log["jobs"][jid]
            acc["jobs"] += 1
            crit = 0.0
            for sid in job["stages"]:
                st = log["stages"].get(sid)
                if st is None or sid in seen or not st["tasks"]:
                    continue
                seen.add(sid)
                acc["tasks"] += st["tasks"]
                acc["run_s"] += st["run_ms"] / 1000.0
                acc["gc_s"] += st["gc_ms"] / 1000.0
                acc["shuffle_read_mb"] += st["shuffle_read"] / 1e6
                acc["shuffle_write_mb"] += st["shuffle_write"] / 1e6
                acc["spill_mb"] += st["spill"] / 1e6
                if st["python"]:
                    acc["python_eval_s"] += st["run_ms"] / 1000.0
                crit += st["max_task_ms"]
            if job["end"] is not None:
                span_ms = (job["end"] - job["start"]) * 1000.0
                acc["sched_wait_ms"] += max(0.0, span_ms - crit)
        out[action] = dict(acc)
    return out
