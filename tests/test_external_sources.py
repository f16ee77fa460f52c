"""External connector surface (sources/external.py): JDBC + Kafka.

No database server, JDBC driver jar, or Kafka broker ships in this
container, so the integration paths skip cleanly; what CAN run
in-container is tested for real — argument validation, the
single-stream guard, plan construction up to the connector boundary,
and the JVM-side Kafka JSON decode (which needs no broker).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lens_spark.sources import external


def _jdbc_backend(spark) -> tuple[str, dict] | None:
    """Best available JDBC backend: Derby's embedded engine ships in
    the Spark distribution (metastore dependency), so a real
    relational roundtrip runs with no external server; sqlite-jdbc is
    probed as an alternative for other environments."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.derby.jdbc.EmbeddedDriver"
        )
        return (
            "derby",
            {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
    except Exception:
        pass
    try:
        spark._jvm.java.lang.Class.forName("org.sqlite.JDBC")
        return ("sqlite", {})
    except Exception:
        return None


def test_read_jdbc_refuses_unpartitioned_single_stream(spark):
    with pytest.raises(ValueError, match="one connection"):
        external.read_jdbc(spark, "jdbc:sqlite:/tmp/x.db", "t")


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        external.read_jdbc(
            spark,
            "jdbc:sqlite:/tmp/x.db",
            "t",
            partition_column="id",
        )


def test_jdbc_roundtrip_if_driver_present(spark, tmp_path):
    backend = _jdbc_backend(spark)
    if backend is None:
        pytest.skip("no JDBC driver jar in container")
    kind, props = backend
    url = (
        f"jdbc:derby:{tmp_path}/t;create=true"
        if kind == "derby"
        else f"jdbc:sqlite:{tmp_path}/t.db"
    )
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    external.write_jdbc(df, url, "t", mode="overwrite", properties=props)
    back = external.read_jdbc(
        spark, url, "t", partition_column="id", lower_bound=0,
        upper_bound=10, num_partitions=2, properties=props,
    )
    assert back.count() == 10
    assert back.rdd.getNumPartitions() == 2
    assert sorted(r["v"] for r in back.collect()) == [
        i * 2 for i in range(10)
    ]


def test_decode_kafka_json_shapes_records(spark):
    """The decode path is pure DataFrame code — testable without a
    broker by faking the Kafka record schema."""
    import datetime

    rows = [
        (
            b"k1",
            b'{"user_id": 7, "value": 1.5}',
            "events",
            0,
            42,
            datetime.datetime(2024, 1, 1),
        )
    ]
    df = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = external.decode_kafka_json(
        df, "user_id long, value double"
    ).collect()[0]
    assert out["key"] == "k1"
    assert out["user_id"] == 7
    assert out["value"] == 1.5
    assert out["offset"] == 42


def test_write_kafka_value_projection(spark):
    """write_kafka's (key, value) projection — asserted up to the
    connector boundary by reproducing its select."""
    df = spark.createDataFrame([(1, "a", 2.0)], "id long, s string, x double")
    out = df.select(
        F.col("id").cast("string").alias("key"),
        F.to_json(F.struct("s", "x")).alias("value"),
    ).collect()[0]
    assert out["key"] == "1"
    assert out["value"] == '{"s":"a","x":2.0}'


def test_synth_tick_stream_reader_offsets_and_splits():
    """Driver-side offset arithmetic: bounded advance, empty range
    planning, and even splits — pure-Python contract, no engine."""
    from etl_lens_spark.sources.pyds import SynthTickStreamReader

    r = SynthTickStreamReader({"n_rows": 2500, "batch_rows": 1000, "n_parts": 4})
    assert r.initialOffset() == {"pos": 0}
    assert [r.latestOffset()["pos"] for _ in range(4)] == [
        1000, 2000, 2500, 2500  # saturates at n_rows
    ]
    assert r.partitions({"pos": 5}, {"pos": 5}) == []
    parts = r.partitions({"pos": 0}, {"pos": 1000})
    assert [(p.start, p.end) for p in parts] == [
        (0, 250), (250, 500), (500, 750), (750, 1000)
    ]
    rows = list(r.read(parts[0]))
    assert len(rows) == 250 and rows[0][0] == 0
    # generation is a pure function of the id range (replay-safe)
    assert rows == list(r.read(parts[0]))


def test_synth_tick_stream_live_drains_bounded(spark):
    from pyspark.sql import functions as F

    from etl_lens_spark.sources.pyds import SynthTickStreamDataSource
    from etl_lens_spark.streaming import stream_ops as so

    try:
        spark.dataSource.register(SynthTickStreamDataSource)
    except Exception:
        pass
    ticks = (
        spark.readStream.format("synth_ticks")
        .option("n_rows", 3000)
        .option("batch_rows", 1000)
        .load()
    )
    out = so.run_to_memory(
        ticks.agg(
            F.count(F.lit(1)).alias("n"), F.sum("rid").alias("rid_sum")
        ),
        "t_synth_ticks",
        output_mode="complete",
    ).first()
    assert out["n"] == 3000
    assert out["rid_sum"] == 3000 * 2999 // 2


def test_synth_events_empty_relation_n_rows_zero(spark):
    """n_rows=0 must yield an empty relation, not the pyspark
    ValueError on an empty partition list (round-4 ADVICE latent):
    the reader returns one empty slice."""
    from etl_lens_spark.sources.pyds import SynthEventsDataSource

    spark.dataSource.register(SynthEventsDataSource)
    df = (
        spark.read.format("synth_events")
        .option("n_rows", "0")
        .option("n_parts", "0")  # also guards the step=.../0 division
        .load()
    )
    assert df.count() == 0
    assert df.columns == ["rid", "h", "category", "score"]


def _mk_lake(spark, base):
    from etl_lens_spark.operators import lakelog

    for v in range(3):
        spark.createDataFrame(
            [(v * 10 + i, f"v{v}") for i in range(3)],
            "k long, tag string",
        ).coalesce(1).write.parquet(f"{base}/b{v}")
        lakelog.commit(base, v, [{"add": f"b{v}"}])
    return lakelog


def test_lakelog_stream_reader_offset_contract(spark, tmp_path):
    """The lake-log streaming source's driver-side contract, driven
    as plain Python (no engine needed): offsets advance ONE commit
    per latestOffset call and stop at head; partitions(start, end]
    yields exactly that range's added files; read() returns their
    rows via pyarrow."""
    from etl_lens_spark.sources.pyds import LakeLogStreamReader

    base = str(tmp_path / "t")
    _mk_lake(spark, base)
    r = LakeLogStreamReader(
        {"path": base, "schema_ddl": "k long, tag string"}
    )
    assert r.initialOffset() == {"version": -1}
    # one commit per micro-batch, clamped at head
    assert [r.latestOffset()["version"] for _ in range(5)] == [
        0, 1, 2, 2, 2,
    ]
    parts = r.partitions({"version": -1}, {"version": 0})
    assert len(parts) == 1 and parts[0].path.endswith("b0")
    rows = sorted(r.read(parts[0]))
    assert rows == [(0, "v0"), (1, "v0"), (2, "v0")]
    # restart-safety: an uncommitted multi-version range re-plans
    parts = r.partitions({"version": 0}, {"version": 2})
    assert sorted(p.path[-2:] for p in parts) == ["b1", "b2"]
    assert r.partitions({"version": 2}, {"version": 2}) == []


def test_lakelog_stream_reader_append_only_contract(spark, tmp_path):
    """Removes raise without ignore_changes (and pass with it,
    emitting the commit's adds); deletion vectors always raise."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    lakelog = _mk_lake(spark, base)
    lakelog.commit(base, 3, [{"remove": "b0"}, {"add": "b3x"}])
    spark.createDataFrame([(99, "x")], "k long, tag string")\
        .coalesce(1).write.parquet(f"{base}/b3x")
    from etl_lens_spark.sources.pyds import LakeLogStreamReader

    r = LakeLogStreamReader(
        {"path": base, "schema_ddl": "k long, tag string"}
    )
    with _pytest.raises(ValueError, match="append-only"):
        r.partitions({"version": 2}, {"version": 3})
    r2 = LakeLogStreamReader(
        {"path": base, "schema_ddl": "k long, tag string",
         "ignore_changes": "true"}
    )
    parts = r2.partitions({"version": 2}, {"version": 3})
    assert [p.path[-3:] for p in parts] == ["b3x"]
    # a deletion-vector commit is never streamable
    lakelog.delete_where_mor(spark, base, F.col("k") == 11)
    with _pytest.raises(ValueError, match="deletion vector"):
        r2.partitions({"version": 3}, {"version": 4})


def test_lakelog_stream_restart_safety_and_pacing(spark, tmp_path):
    """Round-8 review fix: a RESTARTED reader (initialOffset never
    called — Spark reads the checkpoint instead) must never return a
    latest offset below committed progress; its first answer is head.
    A FRESH reader (initialOffset called) paces one commit per batch
    as before, and max_commits_per_batch widens the stride."""
    from etl_lens_spark.sources.pyds import LakeLogStreamReader

    base = str(tmp_path / "t")
    _mk_lake(spark, base)  # commits 0..2
    opts = {"path": base, "schema_ddl": "k long, tag string"}

    # restarted reader, fully-committed checkpoint at version 1:
    # latestOffset fires FIRST and must jump to head (2), never 0
    r = LakeLogStreamReader(opts)
    assert r.latestOffset() == {"version": 2}
    assert [p.path[-2:] for p in r.partitions(
        {"version": 1}, {"version": 2})] == ["b2"]

    # restarted reader, uncommitted last batch: Spark replays it via
    # partitions(logged start, logged end) BEFORE any latestOffset —
    # the cursor re-anchors there and pacing resumes without regress
    r2 = LakeLogStreamReader(opts)
    r2.partitions({"version": 1}, {"version": 2})
    assert r2.latestOffset() == {"version": 2}  # head; no regress

    # fresh reader paces 1/batch (the original pinned contract)
    r3 = LakeLogStreamReader(opts)
    assert r3.initialOffset() == {"version": -1}
    assert [r3.latestOffset()["version"] for _ in range(4)] == [
        0, 1, 2, 2,
    ]

    # max_commits_per_batch strides the backlog
    r4 = LakeLogStreamReader({**opts, "max_commits_per_batch": "2"})
    assert r4.initialOffset() == {"version": -1}
    assert [r4.latestOffset()["version"] for _ in range(3)] == [1, 2, 2]
    parts = r4.partitions({"version": -1}, {"version": 1})
    assert sorted(p.path[-2:] for p in parts) == ["b0", "b1"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_commits_per_batch"):
        LakeLogStreamReader({**opts, "max_commits_per_batch": "0"})


def test_lakelog_stream_skips_data_change_false(spark, tmp_path):
    """An OPTIMIZE commit (every add/remove marked data_change false)
    is a pure layout change: the streaming source emits nothing for
    it and does NOT raise the append-only error."""
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogStreamReader

    base = str(tmp_path / "t")
    _mk_lake(spark, base)  # commits 0..2, files b0..b2
    st = lakelog.optimize_compact(spark, base)  # commit 3
    assert st["version"] == 3
    r = LakeLogStreamReader(
        {"path": base, "schema_ddl": "k long, tag string"}
    )
    assert r.partitions({"version": 2}, {"version": 3}) == []
    # a real append after the compaction still emits
    spark.createDataFrame([(99, "x")], "k long, tag string")\
        .coalesce(1).write.parquet(f"{base}/b4")
    lakelog.commit(base, 4, [{"add": "b4"}])
    parts = r.partitions({"version": 3}, {"version": 4})
    assert [p.path[-2:] for p in parts] == ["b4"]


def test_lakelog_cdf_stream_matches_batch(spark, tmp_path):
    """The CDF streaming source's driver-side contract: partitions()
    over any commit range emits exactly lakelog.table_changes' rows
    (shared classification — lakelog.commit_change_plan), including
    derived MOR-delete rows; layout-only commits emit nothing; the
    restart/pacing behavior is inherited from LakeLogStreamReader."""
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamReader

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark, base,
        spark.createDataFrame([(1, 99), (50, 500)], "k long, c long"),
        ["k"], cdf=True,
    )
    lakelog.delete_where_mor(spark, base, F.col("k").isin(2, 3))
    head = lakelog.latest_version(base)

    r = LakeLogCDFStreamReader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    parts = r.partitions({"version": -1}, {"version": head})
    got = sorted(t for p in parts for t in r.read(p))
    want = sorted(
        (x.k, x.c, x._change_type, x._commit_version)
        for x in lakelog.table_changes(spark, base, -1, head).collect()
    )
    assert got == want
    assert (2, 20, "delete", 2) in got and (1, 10, "update_preimage", 1) in got
    # per-commit pacing and restart clamp inherited
    r2 = LakeLogCDFStreamReader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    assert r2.latestOffset() == {"version": head}  # restart-safe jump
    r3 = LakeLogCDFStreamReader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    r3.initialOffset()
    assert [r3.latestOffset()["version"] for _ in range(2)] == [0, 1]
    # a layout-only commit emits nothing
    lakelog.materialize_deletion_vectors(spark, base)
    assert r.partitions({"version": head}, {"version": head + 1}) == []


def test_lakelog_cdf_stream_starting_version_after_retention(
    spark, tmp_path
):
    """Round-9 review fix: after vacuum(cdf_retain_versions=N)
    reclaims a record, a FRESH consumer pacing from -1 plans the
    reclaimed commit and raises — the starting_version option
    (Delta's startingVersion) is the documented way to begin above
    the horizon, and the first served commit is starting_version+1."""
    import pytest
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamReader

    base = str(tmp_path / "sv")
    spark.createDataFrame(
        [(k, k) for k in range(6)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    for i in (1, 2, 3):
        lakelog.merge_upsert(
            spark,
            base,
            spark.createDataFrame([(i, i * 100)], "k long, c long"),
            ["k"],
            cdf=True,
        )
    lakelog.vacuum(base, retain_versions=3, cdf_retain_versions=1)
    head = lakelog.latest_version(base)  # 3; records v1 reclaimed
    opts = {"path": base, "schema_ddl": "k long, c long"}
    fresh = LakeLogCDFStreamReader(opts)
    assert fresh.initialOffset() == {"version": -1}
    with pytest.raises(ValueError, match="reclaimed by CDF retention"):
        fresh.partitions({"version": -1}, {"version": head})
    above = LakeLogCDFStreamReader({**opts, "starting_version": 1})
    start = above.initialOffset()
    assert start == {"version": 1}
    parts = above.partitions(start, {"version": head})
    got = sorted(t for p in parts for t in above.read(p))
    assert {t[3] for t in got} == {2, 3}  # commits above the horizon
    assert (2, 200, "update_postimage", 2) in got


def test_ddl_column_names_handles_parametrized_types():
    """Round-8 review fix: top-level-comma splitting — decimal/map/
    struct type parameters must not become phantom columns."""
    from etl_lens_spark.sources.pyds import _ddl_column_names

    assert _ddl_column_names(
        "k long, price decimal(18,2), m map<string,int>, "
        "s struct<a:int,b:string>, v string"
    ) == ["k", "price", "m", "s", "v"]
    assert _ddl_column_names("k long") == ["k"]


def test_lakelog_cdf_stream_serves_restore_commits(spark, tmp_path):
    """A cdf=True RESTORE streams its change record (inserts for
    re-added files, deletes for removed ones, DV resurrections by
    position) exactly as the batch read serves it; a cdf=False
    restore refuses at planning time — the CoW-rewrite-without-
    record rule extended to rollback."""
    import pytest
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamReader

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 2)  # v1: DV
    spark.createDataFrame(
        [(9, 90)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 2, [{"add": "s1"}])
    lakelog.restore_table(spark, base, 0, cdf=True)  # v3

    r = LakeLogCDFStreamReader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    got = sorted(
        t
        for p in r.partitions({"version": 2}, {"version": 3})
        for t in r.read(p)
    )
    want = sorted(
        (x.k, x.c, x._change_type, x._commit_version)
        for x in lakelog.table_changes(spark, base, 2, 3).collect()
    )
    assert got == want
    assert (2, 20, "insert", 3) in got  # the DV resurrection
    assert (9, 90, "delete", 3) in got  # the un-appended row

    # cdf=False restore: the stream refuses instead of guessing
    base2 = str(tmp_path / "t2")
    spark.createDataFrame(
        [(1, 1)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base2}/a")
    lakelog.commit(base2, 0, [{"add": "a"}])
    spark.createDataFrame(
        [(2, 2)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base2}/b")
    lakelog.commit(base2, 1, [{"add": "b"}])
    lakelog.restore_table(spark, base2, 0)  # no change record
    r2 = LakeLogCDFStreamReader(
        {"path": base2, "schema_ddl": "k long, c long"}
    )
    with pytest.raises(ValueError, match="RESTORE without a change"):
        r2.partitions({"version": 1}, {"version": 2})
