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


def _lake_reader(spark, source, **options):
    """A lake-log stream reader built the way Spark builds one: from
    its DataSource, given the parsed declared schema."""
    ds = source(options)
    return ds.streamReader(spark.createDataFrame([], ds.schema()).schema)


def _read_rows(reader, parts):
    """Every row the reader's Arrow batches carry for ``parts``, as
    tuples."""
    return [
        tuple(row.values())
        for p in parts
        for batch in reader.read(p)
        for row in batch.to_pylist()
    ]


def _slice_rels(parts):
    """The add rel (parent directory) of each packed file slice."""
    import os

    return sorted(
        os.path.basename(os.path.dirname(s.path))
        for p in parts
        for s in p.slices
    )


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
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource

    base = str(tmp_path / "t")
    _mk_lake(spark, base)
    r = _lake_reader(
        spark, LakeLogStreamDataSource, path=base,
        schema_ddl="k long, tag string",
    )
    assert r.initialOffset() == {"version": -1}
    # one commit per micro-batch, clamped at head
    assert [r.latestOffset()["version"] for _ in range(5)] == [
        0, 1, 2, 2, 2,
    ]
    parts = r.partitions({"version": -1}, {"version": 0})
    assert len(parts) == 1 and _slice_rels(parts) == ["b0"]
    rows = sorted(_read_rows(r, parts))
    assert rows == [(0, "v0"), (1, "v0"), (2, "v0")]
    # restart-safety: an uncommitted multi-version range re-plans
    parts = r.partitions({"version": 0}, {"version": 2})
    assert _slice_rels(parts) == ["b1", "b2"]
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
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource

    r = _lake_reader(
        spark, LakeLogStreamDataSource, path=base,
        schema_ddl="k long, tag string",
    )
    with _pytest.raises(ValueError, match="append-only"):
        r.partitions({"version": 2}, {"version": 3})
    r2 = _lake_reader(
        spark, LakeLogStreamDataSource, path=base,
        schema_ddl="k long, tag string", ignore_changes="true",
    )
    parts = r2.partitions({"version": 2}, {"version": 3})
    assert _slice_rels(parts) == ["b3x"]
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
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource

    base = str(tmp_path / "t")
    _mk_lake(spark, base)  # commits 0..2
    opts = {"path": base, "schema_ddl": "k long, tag string"}

    def make_reader(options):
        return _lake_reader(spark, LakeLogStreamDataSource, **options)

    # restarted reader, fully-committed checkpoint at version 1:
    # latestOffset fires FIRST and must jump to head (2), never 0
    r = make_reader(opts)
    assert r.latestOffset() == {"version": 2}
    assert _slice_rels(r.partitions(
        {"version": 1}, {"version": 2})) == ["b2"]

    # restarted reader, uncommitted last batch: Spark replays it via
    # partitions(logged start, logged end) BEFORE any latestOffset —
    # the cursor re-anchors there and pacing resumes without regress
    r2 = make_reader(opts)
    r2.partitions({"version": 1}, {"version": 2})
    assert r2.latestOffset() == {"version": 2}  # head; no regress

    # fresh reader paces 1/batch (the original pinned contract)
    r3 = make_reader(opts)
    assert r3.initialOffset() == {"version": -1}
    assert [r3.latestOffset()["version"] for _ in range(4)] == [
        0, 1, 2, 2,
    ]

    # max_commits_per_batch strides the backlog
    r4 = make_reader({**opts, "max_commits_per_batch": "2"})
    assert r4.initialOffset() == {"version": -1}
    assert [r4.latestOffset()["version"] for _ in range(3)] == [1, 2, 2]
    parts = r4.partitions({"version": -1}, {"version": 1})
    assert _slice_rels(parts) == ["b0", "b1"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_commits_per_batch"):
        make_reader({**opts, "max_commits_per_batch": "0"})


def test_lakelog_stream_skips_data_change_false(spark, tmp_path):
    """An OPTIMIZE commit (every add/remove marked data_change false)
    is a pure layout change: the streaming source emits nothing for
    it and does NOT raise the append-only error."""
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource

    base = str(tmp_path / "t")
    _mk_lake(spark, base)  # commits 0..2, files b0..b2
    st = lakelog.optimize_compact(spark, base)  # commit 3
    assert st["version"] == 3
    r = _lake_reader(
        spark, LakeLogStreamDataSource, path=base,
        schema_ddl="k long, tag string",
    )
    assert r.partitions({"version": 2}, {"version": 3}) == []
    # a real append after the compaction still emits
    spark.createDataFrame([(99, "x")], "k long, tag string")\
        .coalesce(1).write.parquet(f"{base}/b4")
    lakelog.commit(base, 4, [{"add": "b4"}])
    parts = r.partitions({"version": 3}, {"version": 4})
    assert _slice_rels(parts) == ["b4"]


def test_lakelog_cdf_stream_matches_batch(spark, tmp_path):
    """The CDF streaming source's driver-side contract: partitions()
    over any commit range emits exactly lakelog.table_changes' rows
    (shared classification — lakelog.commit_change_plan), including
    derived MOR-delete rows; layout-only commits emit nothing; the
    restart/pacing behavior is inherited from LakeLogStreamReader."""
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    def make_reader(options):
        return _lake_reader(spark, LakeLogCDFStreamDataSource, **options)

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

    r = make_reader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    parts = r.partitions({"version": -1}, {"version": head})
    got = sorted(_read_rows(r, parts))
    want = sorted(
        (x.k, x.c, x._change_type, x._commit_version)
        for x in lakelog.table_changes(spark, base, -1, head).collect()
    )
    assert got == want
    assert (2, 20, "delete", 2) in got and (1, 10, "update_preimage", 1) in got
    # per-commit pacing and restart clamp inherited
    r2 = make_reader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    assert r2.latestOffset() == {"version": head}  # restart-safe jump
    r3 = make_reader(
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
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    def make_reader(options):
        return _lake_reader(spark, LakeLogCDFStreamDataSource, **options)

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
    fresh = make_reader(opts)
    assert fresh.initialOffset() == {"version": -1}
    with pytest.raises(ValueError, match="reclaimed by CDF retention"):
        fresh.partitions({"version": -1}, {"version": head})
    above = make_reader({**opts, "starting_version": 1})
    start = above.initialOffset()
    assert start == {"version": 1}
    parts = above.partitions(start, {"version": head})
    got = sorted(_read_rows(above, parts))
    assert {t[3] for t in got} == {2, 3}  # commits above the horizon
    assert (2, 200, "update_postimage", 2) in got


def test_ddl_column_names_handles_parametrized_types(spark, tmp_path):
    """Round-8 review fix: top-level-comma splitting — decimal/map/
    struct type parameters must not become phantom columns. The
    reader now takes its columns from the parsed declared schema, and
    its Arrow batches carry these types through."""
    import decimal

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource

    ddl = (
        "k long, price decimal(18,2), m map<string,int>, "
        "s struct<a:int,b:string>, v string"
    )
    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, decimal.Decimal("2.50"), {"x": 3}, (4, "y"), "z")], ddl
    ).coalesce(1).write.parquet(f"{base}/a")
    lakelog.commit(base, 0, [{"add": "a"}])
    r = _lake_reader(
        spark, LakeLogStreamDataSource, path=base, schema_ddl=ddl
    )
    assert r.schema.fieldNames() == ["k", "price", "m", "s", "v"]
    parts = r.partitions({"version": -1}, {"version": 0})
    assert _read_rows(r, parts) == [
        (1, decimal.Decimal("2.50"), [("x", 3)], {"a": 4, "b": "y"}, "z")
    ]
    r1 = _lake_reader(
        spark, LakeLogStreamDataSource, path=base, schema_ddl="k long"
    )
    assert r1.schema.fieldNames() == ["k"]


def test_lakelog_cdf_stream_serves_restore_commits(spark, tmp_path):
    """A cdf=True RESTORE streams its change record (inserts for
    re-added files, deletes for removed ones, DV resurrections by
    position) exactly as the batch read serves it; a cdf=False
    restore refuses at planning time — the CoW-rewrite-without-
    record rule extended to rollback."""
    import pytest
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    def make_reader(options):
        return _lake_reader(spark, LakeLogCDFStreamDataSource, **options)

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

    r = make_reader(
        {"path": base, "schema_ddl": "k long, c long"}
    )
    got = sorted(
        _read_rows(r, r.partitions({"version": 2}, {"version": 3}))
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
    r2 = make_reader(
        {"path": base2, "schema_ddl": "k long, c long"}
    )
    with pytest.raises(ValueError, match="RESTORE without a change"):
        r2.partitions({"version": 1}, {"version": 2})


def _stream_job_tasks(spark, query_name):
    """Task count of every job a streaming query ran (its micro-batch
    job descriptions start with the query name)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    tasks = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        desc = job.description()
        if desc.isDefined() and desc.get().startswith(query_name + "\n"):
            tasks.append(job.numTasks())
    return tasks


def test_lakelog_cdf_stream_drain_packs_files(spark, tmp_path):
    """An availableNow drain of the lakelog_cdf source over appends, a
    merge, a merge-on-read delete and an OPTIMIZE commit streams
    exactly table_changes' rows, and its read stage runs at most one
    task per usable core however many files the range touches."""
    import os

    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.streaming import stream_ops

    base = str(tmp_path / "t")
    for v in range(6):
        spark.createDataFrame(
            [(v * 10 + i, v) for i in range(4)], "k long, c long"
        ).coalesce(1).write.parquet(f"{base}/s{v}")
        lakelog.commit(base, v, [{"add": f"s{v}"}])
    lakelog.merge_upsert(
        spark, base,
        spark.createDataFrame([(11, 99), (70, 7)], "k long, c long"),
        ["k"], cdf=True,
    )
    lakelog.delete_where_mor(spark, base, F.col("k").isin(2, 31))
    assert lakelog.optimize_compact(spark, base)["n_files_compacted"] > 1
    head = lakelog.latest_version(base)

    spark.dataSource.register(LakeLogCDFStreamDataSource)
    stream = (
        spark.readStream.format("lakelog_cdf")
        .option("path", base)
        .option("schema_ddl", "k long, c long")
        .load()
    )
    name = "cdf_drain_packs_files"
    out = stream_ops.run_to_memory(stream, name, available_now=True)
    got = sorted(tuple(r) for r in out.collect())
    spark.sql(f"DROP VIEW IF EXISTS {name}")
    want = sorted(
        tuple(r)
        for r in lakelog.table_changes(spark, base, -1, head).collect()
    )
    assert got == want
    assert (2, 0, "delete", 7) in got and (11, 99, "update_postimage", 6) in got
    tasks = _stream_job_tasks(spark, name)
    assert tasks and max(tasks) <= len(os.sched_getaffinity(0))


def test_lakelog_cdf_stream_timestamps(spark, tmp_path):
    """Naive timestamps as pandas writes them (ns) and at µs, streamed
    as ``timestamp`` and ``timestamp_ntz``: µs columns equal
    table_changes exactly; ns columns stream without raising and equal
    the written values floored to µs (table_changes itself returns
    them as bigint ns under the session's nanosAsLong)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.streaming import stream_ops

    ns = pd.to_datetime([
        "2024-03-01 10:00:00.123456789",
        "1969-12-31 23:59:59.999999999",
        "2001-01-01 00:00:00.000000001",
    ])
    us = ns.floor("us")
    pdf = pd.DataFrame({
        "k": [1, 2, 3],
        "us_ltz": us, "us_ntz": us, "ns_ltz": ns, "ns_ntz": ns,
    })
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.cast(pa.schema([
        ("k", pa.int64()),
        ("us_ltz", pa.timestamp("us")), ("us_ntz", pa.timestamp("us")),
        ("ns_ltz", pa.timestamp("ns")), ("ns_ntz", pa.timestamp("ns")),
    ]))
    base = str(tmp_path / "t")
    os.makedirs(f"{base}/a")
    pq.write_table(table, f"{base}/a/part-00000.parquet")
    lakelog.commit(base, 0, [{"add": "a"}])

    spark.dataSource.register(LakeLogCDFStreamDataSource)
    stream = (
        spark.readStream.format("lakelog_cdf")
        .option("path", base)
        .option(
            "schema_ddl",
            "k long, us_ltz timestamp, us_ntz timestamp_ntz, "
            "ns_ltz timestamp, ns_ntz timestamp_ntz",
        )
        .load()
    )
    name = "cdf_timestamps"
    got = stream_ops.run_to_memory(stream, name, available_now=True)

    def micros(df, cols):
        # epoch µs; a naive value is read in the session time zone (UTC)
        return sorted(
            tuple(r)
            for r in df.selectExpr(
                "k", *(f"unix_micros(CAST({c} AS TIMESTAMP))" for c in cols)
            ).collect()
        )

    want = lakelog.table_changes(spark, base, -1, 0)
    assert dict(want.dtypes)["ns_ntz"] == "bigint"
    assert micros(got, ["us_ltz", "us_ntz"]) == micros(
        want, ["us_ltz", "us_ntz"]
    )
    floored = [int(x) // 1000 for x in ns.asi8]
    assert micros(got, ["ns_ltz", "ns_ntz"]) == [
        (k, f, f) for k, f in zip([1, 2, 3], floored)
    ]
    assert floored[1] == -1  # floored, not truncated toward zero
    spark.sql(f"DROP VIEW IF EXISTS {name}")
