"""bench.py is the one timer of registry queries: named queries, input
validation before any Spark session, and the scale replica it reads
from ``tools/make_scale.py``."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "bench.py")


def _bench(args, **env):
    return subprocess.run(
        [sys.executable, BENCH, *args],
        cwd=ROOT, env={**os.environ, **env},
        capture_output=True, text=True, timeout=600,
    )


def test_unknown_query_names_exit_before_spark_starts(tmp_path):
    # a JAVA_HOME with no java fails any JVM launch, so the names can
    # only be reported if validation runs before the session starts
    res = _bench(
        ["no_such_query", "q1_pricing_summary", "nor_this_one"],
        JAVA_HOME=str(tmp_path / "no-java"),
    )
    assert res.returncode != 0
    assert "no_such_query" in res.stderr and "nor_this_one" in res.stderr
    assert "q1_pricing_summary" not in res.stderr
    assert "gateway" not in res.stderr.lower()
    assert res.stdout == ""


def test_named_query_run_times_exactly_those_queries(sf_dir):
    res = _bench(
        ["q1_pricing_summary"],
        SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    detail, final = [json.loads(line) for line in res.stdout.splitlines()]
    assert detail["detail"] == "bench_runs"
    assert list(detail["runs"]) == ["q1_pricing_summary"]
    assert list(final["queries"]) == ["q1_pricing_summary"]
    assert final["metric"] == "queries_total_sec"
    assert final["calibration_sec"] > 0
    assert final["sf"] == 0.001


def test_scale_replica_outlives_the_dead_run_sweep(tmp_path, monkeypatch):
    from etl_lens_spark.sources import sinks

    spec = importlib.util.spec_from_file_location(
        "make_scale", os.path.join(ROOT, "tools", "make_scale.py")
    )
    make_scale = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(make_scale)

    monkeypatch.setattr(sinks, "_SCRATCH_ROOT", str(tmp_path))
    dead = f"run_{2**31 - 1}"  # above any Linux pid_max: never alive
    live = f"run_{os.getpid()}"
    for d in (dead, live, "sf1"):
        (tmp_path / d).mkdir()
    sinks._sweep_dead_runs()
    assert sorted(os.listdir(tmp_path)) == sorted([live, "sf1"])
    assert make_scale.out_dir_for(10) == str(tmp_path / "sf1")
