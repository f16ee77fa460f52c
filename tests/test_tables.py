"""load_table's footer-schema memo: a repeat read of an unchanged file
runs no Spark job, a rewritten file re-infers (and is not served from
a frame cached over its old bytes), and every call still returns its
own DataFrame."""

import datetime as dt
import functools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_lens_spark.sources.tables import (
    _INFERENCE_CONFS,
    load_table,
    parquet_schema,
)
from etl_lens_spark.streaming.stream_ops import eviction_safe_cutoff_us


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number
    of Spark jobs the group saw."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def _epoch_us(t):
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def test_repeat_load_runs_no_spark_job(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=[0, 1], r_name=["A", "B"])
    load = functools.partial(load_table, spark, str(tmp_path), "region")
    first, n_first = _jobs_in(spark, "tables-memo-first", load)
    second, n_second = _jobs_in(spark, "tables-memo-second", load)
    # the first read infers the schema with a job; the repeat does not
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_shows_new_column(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, r_regionkey=[0, 1], r_name=["A", "B"])
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name",
    ]
    _write(path, r_regionkey=[0, 1], r_name=["A", "B"], r_extra=[7, 8])
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_rewritten_part_in_table_dir_shows_new_column(spark, tmp_path):
    part = tmp_path / "region.parquet" / "part-0.parquet"
    part.parent.mkdir()
    _write(part, r_regionkey=[0, 1])
    load = functools.partial(load_table, spark, str(tmp_path), "region")
    assert load().columns == ["r_regionkey"]
    _, n_jobs = _jobs_in(spark, "tables-memo-dir", load)
    assert n_jobs == 0
    _write(part, r_regionkey=[0, 1], r_extra=[7, 8])
    assert load().columns == ["r_regionkey", "r_extra"]


def test_rewritten_file_is_not_served_from_a_persisted_frame(
    spark, tmp_path
):
    path = tmp_path / "nation.parquet"
    _write(path, n_nationkey=list(range(5)), n_name=list("ABCDE"))
    cached = load_table(spark, str(tmp_path), "nation").persist()
    try:
        assert cached.count() == 5
        _write(path, n_nationkey=[0, 1], n_name=["A", "B"])
        assert load_table(spark, str(tmp_path), "nation").count() == 2
    finally:
        cached.unpersist()


def test_two_loads_self_join(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is not b
    rows = (
        a.join(b, a["n_nationkey"] == b["n_regionkey"])
        .select(a["n_nationkey"], b["n_name"])
        .collect()
    )
    nation = pq.read_table(f"{sf_dir}/nation.parquet").to_pylist()
    keys = {n["n_nationkey"] for n in nation}
    want = sorted(
        (n["n_regionkey"], n["n_name"])
        for n in nation
        if n["n_regionkey"] in keys
    )
    assert sorted(tuple(r) for r in rows) == want


def _events_layouts(tmp_path):
    """The same five events written once per ``ts`` layout (ns with a
    sub-µs remainder the load floors away, and plain µs). Returns
    {unit: table dir} and the expected µs instants."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    us = [base + dt.timedelta(microseconds=k * 1_000_003) for k in range(5)]
    ns = pa.array(
        [_epoch_us(t) * 1000 + 999 for t in us],
        pa.timestamp("ns"),
    )
    dirs = {}
    for unit, ts in {"ns": ns, "us": pa.array(us, pa.timestamp("us"))}.items():
        d = tmp_path / unit
        d.mkdir()
        _write(d / "events.parquet", event_id=list(range(5)), ts=ts)
        dirs[unit] = str(d)
    return dirs, [_epoch_us(t) for t in us]


def test_events_ts_ns_and_us_layouts_load_alike(spark, tmp_path):
    dirs, want_us = _events_layouts(tmp_path)
    got = {}
    for unit, d in dirs.items():
        for call in ("first", "second"):
            df = load_table(spark, d, "events")
            assert dict(df.dtypes)["ts"] == "timestamp", (unit, call)
            got[unit, call] = sorted(
                (r.event_id, r.ts_us)
                for r in df.selectExpr(
                    "event_id", "unix_micros(ts) AS ts_us"
                ).collect()
            )
    want = sorted(enumerate(want_us))
    assert all(v == want for v in got.values()), got


def test_watermark_cutoff_same_for_both_ts_layouts(spark, tmp_path):
    dirs, want_us = _events_layouts(tmp_path)
    want = max(want_us) - 4 * 3600 * 1_000_000
    got = {u: eviction_safe_cutoff_us(spark, d) for u, d in dirs.items()}
    assert got == {"ns": want, "us": want}


# one column per type family Spark's parquet writer stores, NOT NULL
# where a literal makes it so, plus all-null columns and field metadata
_ZOO = """
SELECT CAST(1 AS TINYINT) ti, CAST(2 AS SMALLINT) si, 3 i,
  CAST(4 AS BIGINT) bi, CAST(1.5 AS FLOAT) fl, 2.5D db,
  CAST(1.234 AS DECIMAL(12,3)) d12, CAST(1.234 AS DECIMAL(30,3)) d30,
  'abc' s, CAST('ab' AS VARCHAR(5)) vc, CAST('x' AS BINARY) bin,
  true bo, DATE'2024-01-02' dt, TIMESTAMP'2024-01-02 03:04:05' ts,
  TIMESTAMP_NTZ'2024-01-02 03:04:05' ntz, array(1, 2) arr,
  map('a', named_struct('v', 1)) mp,
  named_struct('x', 1, 'y', named_struct('z', 'q')) st,
  CAST(NULL AS INT) null_i, CAST(NULL AS STRING) null_s, NULL null_v
"""


@pytest.mark.parametrize("flip", [None, *_INFERENCE_CONFS])
def test_parquet_schema_of_spark_written_file_is_sparks_inference(
    spark, tmp_path, flip
):
    """On a Spark-written file the memo reads the schema from the
    footer with no Spark job, and it equals what Spark infers — under
    the default confs and with each inference conf flipped."""
    out = str(tmp_path / "zoo")
    spark.sql(_ZOO).withColumn(
        "tagged", F.col("i").alias("tagged", metadata={"comment": "c"})
    ).coalesce(1).write.parquet(out)
    [part] = [
        f"{out}/{f}" for f in os.listdir(out) if f.endswith(".parquet")
    ]
    before = spark.conf.get(flip) if flip else None
    if flip:
        spark.conf.set(flip, "false" if before == "true" else "true")
    try:
        got, n_jobs = _jobs_in(
            spark, f"zoo_{flip}", lambda: parquet_schema(spark, part)
        )
        want = spark.read.parquet(part).schema
    finally:
        if flip:
            spark.conf.set(flip, before)
    assert n_jobs == 0
    assert got == want
    assert want["tagged"].metadata == {"comment": "c"}
