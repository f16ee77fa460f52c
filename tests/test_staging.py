"""The materialization vocabulary: ``stage()`` honours the stage mode,
``freeze()`` ignores it, and nothing else in the engine checkpoints."""

import pathlib
import re

import pytest

import etl_lens_spark
from etl_lens_spark.operators.staging import freeze, stage

_MODE = "spark.etl_lens.stage.mode"


@pytest.fixture
def mode_none(spark):
    old = spark.conf.get(_MODE, None)
    spark.conf.set(_MODE, "none")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_MODE)
        else:
            spark.conf.set(_MODE, old)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_stage_passes_through_under_mode_none(spark, mode_none):
    df = spark.range(10).selectExpr("id * 2 AS v")
    assert stage(df, "t") is df


def test_freeze_materializes_under_mode_none(spark, mode_none):
    df = spark.range(10).selectExpr("id * 2 AS v")
    frozen = freeze(df, "test invariant")
    assert "Scan ExistingRDD" in _plan(frozen)
    assert sorted(r.v for r in frozen.collect()) == list(range(0, 20, 2))


def test_only_staging_calls_local_checkpoint():
    root = pathlib.Path(etl_lens_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).as_posix() != "operators/staging.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.localCheckpoint\(", line)
    ]
    assert not hits, f"materialize through stage()/freeze(): {hits}"
