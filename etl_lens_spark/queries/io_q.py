"""Coverage queries: Python UDTF (LATERAL table function) and the
write-path round-trips (partitioned parquet, csv, json, orc). Each
sink query writes to the repo-local .scratch dir, reads its own output
back, and aggregates — the oracle aggregates the original table, so a
lossy or mistyped round-trip fails the hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.functions.table_funcs import register_udtfs
from etl_lens_spark.queries import bench_setup, query
from etl_lens_spark.sources import sinks
from etl_lens_spark.sources.tables import load_table


@query(
    "udtf_split_parts",
    oracle="""
    SELECT doc_id,
           unnest(generate_series(1, len(parts))) AS pos,
           unnest(parts) AS part
    FROM (
        SELECT doc_id, string_split(text, ' ') AS parts
        FROM documents WHERE doc_id < 20
    )
    ORDER BY doc_id, pos
    """,
)
def udtf_split_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via SQL LATERAL join (SQLite virtual-table/TVF
    analog, ``sqlite3.h:7586``): one row in, N (pos, part) rows out,
    schema declared on the class. Fan-out is executor-side."""
    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 20
    ).createOrReplaceTempView("docs_small")
    return spark.sql(
        """
        SELECT doc_id, p.pos, p.part
        FROM docs_small, LATERAL split_parts(text, ' ') AS p
        ORDER BY doc_id, pos
        """
    )


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-parquet write + pruned read-back: orders written
    ``partitionBy(o_orderpriority)``; the read-back filter on the
    partition column prunes to 2 of 5 directories (PartitionFilters,
    asserted in tests/test_io.py) — the mechanism that lets a 100 TB
    table answer a partition-scoped query by touching only its slice."""
    o = load_table(spark, sf_dir, "orders")
    path = sinks.write_partitioned_parquet(
        o, "orders_by_priority", ["o_orderpriority"]
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sink_csv_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           MIN(CAST(l_shipdate AS DATE)) AS min_ship,
           MAX(l_linestatus) AS max_status
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + schema-locked read-back (header on, explicit DDL —
    no inference scan). Covers int/string/date fidelity through the
    text format."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_shipdate", "l_linestatus"
    )
    path, ddl = sinks.write_csv(li, "lineitem_csv")
    back = sinks.read_csv(spark, path, ddl)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.min(F.col("l_shipdate").cast("date")).alias("min_ship"),
            F.max("l_linestatus").alias("max_status"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sink_json_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(epoch_us(ts)) AS first_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write + schema-locked read-back over the event log
    (timestamps carried as unix micros — json has no timestamp type)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    path, ddl = sinks.write_json(ev, "events_json")
    back = sinks.read_json(spark, path, ddl)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_us").alias("first_us"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "bucketed_join_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table join: both sides bucketed 8-ways on the order
    key at write time, so the fact-fact join itself needs NO exchange
    (shuffle-free-ness asserted in tests/test_io.py) — the amortize-
    the-shuffle-once pattern for repeated joins on the same key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    sinks.write_bucketed_table(o, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    sinks.write_bucketed_table(
        li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"]
    )
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "salted_join_skew",
    oracle="""
    WITH dim AS (
        SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY event_type
    )
    SELECT e.user_id,
           COUNT(*) AS n_events,
           CAST(SUM(d.type_total) AS BIGINT) AS weight_sum
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE e.user_id < 50
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators.partitioning.salted_join): events
    join a tiny per-type dimension on ``event_type`` — a 5-value key,
    the worst-case skew shape (every row of a type lands on one
    reducer in a plain shuffle join). Salting fans each hot key over 8
    reducers; the result is hash-identical to the unsalted join the
    oracle runs."""
    from etl_lens_spark.operators.partitioning import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_total"))
    joined = salted_join(
        ev.filter(F.col("user_id") < 50), dim, on=["event_type"], salt=8
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("type_total").cast("long").alias("weight_sum"),
        )
        .orderBy("user_id")
    )


@query(
    "schema_evolution_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(COUNT(o_totalprice_dbl) AS BIGINT) AS n_with_price
    FROM (
        SELECT o_orderpriority, NULL AS o_totalprice_dbl
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS o_totalprice_dbl
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 written without a
    column, generation 2 with it; ``mergeSchema`` unifies the lake
    (old rows NULL-padded — catalog.conform semantics, R13, applied
    at the storage layer). The production shape for append-only lakes
    whose schema widens over time."""
    o = load_table(spark, sf_dir, "orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice_dbl"),
    )
    path = sinks.scratch_path("orders_evolving")
    gen1.coalesce(2).write.mode("overwrite").parquet(path)
    gen2.coalesce(2).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_totalprice_dbl").cast("long").alias("n_with_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "streaming_foreachbatch_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink: the streaming escape hatch that reuses
    any batch writer per micro-batch (idempotent by batch_id — the
    exactly-once pattern when the writer is transactional). Here each
    micro-batch appends to a parquet dir partitioned by batch id; the
    replayed result re-read from disk must equal the batch aggregate."""
    import uuid

    from etl_lens_spark.streaming import stream_ops as so

    out_path = sinks.scratch_path(f"febatch_{uuid.uuid4().hex[:8]}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    stream = so.events_stream(spark, sf_dir).select(
        "event_type", "value"
    )
    ckpt = sinks.scratch_path(f"febatch_ckpt_{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out_path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "lax_typing_try_funcs",
    oracle="""
    SELECT doc_id,
           TRY_CAST(lang AS INTEGER) AS lang_as_int,
           CASE WHEN n_chars - 6000 = 0 THEN NULL
                ELSE CAST(n_chars AS DOUBLE) / (n_chars - 6000) END AS risky_ratio,
           TRY_CAST(source AS DOUBLE) AS src_num
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def lax_typing_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite's forgiving dynamic typing mapped to ANSI Spark via the
    ``try_*`` family: failed casts and div-by-zero yield NULL instead
    of erroring — per-row lax semantics without disabling ANSI mode
    engine-wide."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.try_divide(
            F.col("n_chars").cast("double"), F.col("n_chars") - 6000
        ).alias("risky_ratio"),
        F.col("source").try_cast("double").alias("src_num"),
    ).orderBy("doc_id")


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(p_size) AS BIGINT) AS sum_size
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back (the second columnar format; same
    pushdown/pruning properties as parquet through DataSource V2)."""
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_size")
    path = sinks.write_orc(p, "part_orc")
    back = spark.read.orc(path)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_size").cast("long").alias("sum_size"),
        )
        .orderBy("p_brand")
    )


@query(
    "source_text_lines",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS total_tokens
    FROM documents
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text source roundtrip: the corpus writes as one-doc-per-line
    text (fixture docs contain no newlines) and reads back through
    ``spark.read.text`` — the line-oriented source every web-scale
    text pipeline starts from. Totals are recomputed from the raw
    lines and must match the parquet-derived oracle exactly."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    path = sinks.write_text(docs, "documents_txt")
    back = sinks.read_text(spark, path)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(
            F.size(F.split(F.regexp_replace(F.trim("value"), r"\s+", " "), " "))
        )
        .cast("long")
        .alias("total_tokens"),
    )


from etl_lens_spark.operators import layout as _zl

_ZBITS = 8
_ZX = _zl.scale_expr("xk", "xlo", "xhi", _ZBITS, "//")
_ZY = _zl.scale_expr("yk", "ylo", "yhi", _ZBITS, "//")
_ZEXPR = _zl.interleave_expr(f"({_ZX})", f"({_ZY})", _ZBITS)


@query(
    "zorder_cluster_stats",
    oracle=f"""
    WITH t AS (
        SELECT o_custkey AS xk,
               datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS yk
        FROM orders
    ),
    b AS (
        SELECT MIN(xk) AS xlo, MAX(xk) AS xhi,
               MIN(yk) AS ylo, MAX(yk) AS yhi
        FROM t
    ),
    z AS (SELECT xk, yk, {_ZEXPR} AS zval FROM t CROSS JOIN b)
    SELECT CAST(zval >> {2 * _ZBITS - 6} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(xk) - MIN(xk) AS BIGINT) AS x_span,
           CAST(MAX(yk) - MIN(yk) AS BIGINT) AS y_span,
           CAST(MIN(zval) AS BIGINT) AS z_min
    FROM z
    GROUP BY 1
    ORDER BY bucket
    """,
)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics (operators/layout.py): orders mapped
    onto the Morton curve of (customer, order day), folded to
    per-curve-bucket row counts and bounding-box spans. Every bucket
    covering a compact box in BOTH dimensions is exactly the property
    that makes parquet min/max stats prune under predicates on either
    column after a z-ordered write — this query measures the layout;
    the partition-pruning behavior itself is asserted in
    tests/test_layout.py.

    The Morton interleave and the integer scaling are ONE generated
    expression string shared verbatim with the DuckDB oracle (only
    the integer-division token differs), so the bit arithmetic is
    pinned cross-engine down to the last shift."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("xk"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("yk"),
    )
    z = _zl.with_zvalue(o, "xk", "yk", bits=_ZBITS)
    return (
        z.select("xk", "yk", "zval")
        .groupBy(F.expr(f"zval >> {2 * _ZBITS - 6}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("xk") - F.min("xk")).cast("long").alias("x_span"),
            (F.max("yk") - F.min("yk")).cast("long").alias("y_span"),
            F.min("zval").cast("long").alias("z_min"),
        )
        .orderBy("bucket")
    )


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents_sum
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every
    lakehouse runs nightly: a deliberately fragmented write (64 tiny
    files — the classic too-many-partitions symptom) is compacted by
    a range-partitioned rewrite (4 files, key-clustered so min/max
    footer stats support range pruning afterwards). The declared
    output is a content checksum per priority computed FROM THE
    COMPACTED FILES — proving the rewrite lost and mangled nothing —
    which must equal the oracle's direct aggregate over the source.
    File-count before/after (64 → 4) is asserted in
    tests/test_io.py::test_compact_small_files_counts; at 100 TB the
    same job is per-partition with a target file size, and the
    range-repartition keeps it one shuffle."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    frag_path = sinks.scratch_path("compact_fragmented")
    o.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    compact_path = sinks.scratch_path("compact_rewritten")
    frag.repartitionByRange(4, "o_orderkey").write.mode(
        "overwrite"
    ).parquet(compact_path)
    back = spark.read.parquet(compact_path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_jdbc_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_c,
           MIN(CAST(o_orderdate AS DATE)) AS first_d,
           MAX(CAST(o_orderdate AS DATE)) AS last_d
    FROM orders WHERE o_orderkey < 8000
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END JDBC against a real relational database — Apache
    Derby, the embedded SQL engine that ships inside the Spark
    distribution (it backs the Hive metastore), so the round-3 "no
    server in the container" seam closes without installing anything.
    An orders slice is INSERTed through the guarded ``write_jdbc``
    wrapper (batched, connection-capped), read back through
    ``read_jdbc``'s PARTITIONED path — 8 range-predicated queries on
    o_orderkey, the only JDBC read shape that scales — and aggregated;
    the oracle recomputes from the parquet source, so any
    write-side or read-side type mangling (dates, decimals-as-cents,
    strings) fails the hash. In production the embedded URL swaps for
    a client/server one; every wrapper argument stays the same."""
    import uuid

    from etl_lens_spark.sources.external import read_jdbc, write_jdbc
    from etl_lens_spark.sources.sinks import scratch_path

    url = (
        f"jdbc:derby:{scratch_path(f'derby_q_{uuid.uuid4().hex}')}"
        ";create=true"
    )
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 8000
    ).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    write_jdbc(
        src, url, "orders_rt", mode="overwrite",
        properties=props, num_partitions=4,
    )
    back = read_jdbc(
        spark,
        url,
        "orders_rt",
        properties=props,
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=8000,
        num_partitions=8,
    )
    return (
        back.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("price_c").cast("long").alias("total_c"),
            F.min("odate").alias("first_d"),
            F.max("odate").alias("last_d"),
        )
        .orderBy("priority")
    )


@query(
    "source_csv_gzip_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events WHERE event_id < 5000
    GROUP BY event_type ORDER BY event_type
    """,
)
def source_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED text ingestion — the round-3 'compressed codecs'
    gap on the IO side: an events slice round-trips through
    gzip-compressed CSV (written .csv.gz, read back through Hadoop's
    transparent codec path). The scale caveat this query documents is
    the one that matters at 100 TB: gzip is NOT splittable, so each
    .gz file is one input partition — write MANY moderate files (the
    writer here keeps the source partitioning) rather than one giant
    archive, or choose a splittable layout (bzip2, or compressed
    parquet) for large single objects. Values ride as exact cents
    through the text roundtrip; the oracle aggregates the parquet
    source."""
    import uuid

    from etl_lens_spark.sources.sinks import scratch_path

    path = scratch_path(f"gzcsv_{uuid.uuid4().hex}")
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    src.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(path)
    back = spark.read.option("header", True).schema(
        "event_id long, event_type string, cents long"
    ).csv(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("event_type")
    )


@query(
    "sink_parquet_zstd_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_c
    FROM orders WHERE o_orderkey < 6000
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sink_parquet_zstd_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet with EXPLICIT zstd compression (the modern default
    choice at scale: ~30% smaller than snappy at comparable decode
    throughput, and parquet stays SPLITTABLE because compression is
    per-page inside row groups — unlike whole-file gzip text). An
    orders slice writes .zstd.parquet and reads back; the oracle
    aggregates the source."""
    import uuid

    from etl_lens_spark.sources.sinks import scratch_path

    path = scratch_path(f"zstdpq_{uuid.uuid4().hex}")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 6000)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("price_c"),
        )
    )
    src.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("price_c").cast("long").alias("total_c"),
        )
        .orderBy("priority")
    )


@query(
    "lake_snapshot_time_travel",
    oracle="""
    WITH states(version, m1, m2, m3) AS (
        VALUES (0, 0, 1, -1),   -- v0: files A(mod 0) + B(mod 1)
               (1, 0, 1, 2),    -- v1: + C(mod 2)
               (2, 0, 2, 3)     -- v2: - B, + D(mod 3)
    )
    SELECT s.version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS price_cents
    FROM states s JOIN orders o
      ON o.o_orderkey % 4 IN (s.m1, s.m2, s.m3)
    GROUP BY s.version
    ORDER BY s.version
    """,
)
def lake_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse transaction log (operators/lakelog.py — Delta-style
    versioned commits over plain parquet, no table-format library):
    three commits build a table (v0: add A,B; v1: add C; v2: remove B,
    add D — an append, then a delete-by-file), then every historical
    version is read back THROUGH THE LOG and aggregated. The oracle
    recomputes each version's state from the slice predicates — a
    hash-match proves snapshot replay selected exactly the right
    files at every version. Commits are metadata-only (no data file
    is ever rewritten), which is the property that makes this the
    100 TB shape for append/delete workloads."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = sinks.scratch_path("lake_time_travel")
    shutil.rmtree(base, ignore_errors=True)
    for name, m in [("A", 0), ("B", 1), ("C", 2), ("D", 3)]:
        orders.filter(F.col("o_orderkey") % 4 == m).write.mode(
            "overwrite"
        ).parquet(f"{base}/file{name}")
    lakelog.commit(base, 0, [{"add": "fileA"}, {"add": "fileB"}])
    lakelog.commit(base, 1, [{"add": "fileC"}])
    lakelog.commit(base, 2, [{"remove": "fileB"}, {"add": "fileD"}])
    snaps = [
        lakelog.read_snapshot(spark, base, v)
        .agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("price_cents"),
        )
        .select("version", "n_rows", "key_sum", "price_cents")
        for v in range(3)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")


@query(
    "streaming_lake_commits_live",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_lake_commits_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → lakehouse: ``foreachBatch`` lands every micro-batch
    as a new parquet file directory plus ONE transaction-log commit
    (version = batch_id, operators/lakelog.py), then the final table
    is read back THROUGH the log. This is the exactly-once streaming
    sink pattern done properly: the batch_id-keyed commit makes a
    replayed micro-batch idempotent (the O_EXCL conflict is caught
    and skipped — Spark re-runs the batch, the table doesn't double),
    and readers get snapshot isolation against the live writer. The
    oracle is the batch aggregate over the full stream — a hash-match
    proves the commit log captured every micro-batch exactly once."""
    import uuid

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.streaming import stream_ops as so

    table = sinks.scratch_path(f"lake_stream_{uuid.uuid4().hex[:8]}")

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        rel = f"batch_{batch_id:05d}"
        batch_df.write.mode("overwrite").parquet(f"{table}/{rel}")
        try:
            lakelog.commit(table, int(batch_id), [{"add": rel}])
        except lakelog.CommitConflict:
            pass  # replayed micro-batch: data overwritten, commit kept

    stream = so.events_stream(spark, sf_dir).select("event_type", "value")
    ckpt = sinks.scratch_path(f"lake_stream_ckpt_{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = lakelog.read_snapshot(spark, table)
    agg = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )
    # materialize the tiny result, then reclaim per-run scratch
    import shutil

    rows = agg.collect()
    for d in (table, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, agg.schema)


@query(
    "lake_log_describe_history",
    oracle="""
    WITH hist(version, n_adds, n_removes, n_active_files) AS (
        VALUES (0, 2, 0, 2),   -- +A +B
               (1, 1, 0, 3),   -- +C
               (2, 1, 1, 3)    -- -B +D
    ),
    sizes(version, m1, m2, m3) AS (
        VALUES (0, 0, 1, -1), (1, 0, 1, 2), (2, 0, 2, 3)
    ),
    rows_at AS (
        SELECT s.version, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM sizes s JOIN orders o ON o.o_orderkey % 4 IN (s.m1, s.m2, s.m3)
        GROUP BY s.version
    )
    SELECT h.version, h.n_adds, h.n_removes, h.n_active_files, r.n_rows
    FROM hist h JOIN rows_at r ON h.version = r.version
    ORDER BY h.version
    """,
)
def lake_log_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY analog for the transaction log: one row per
    version with its action counts, the active-file count after
    replay-to-that-version, and the row count of the snapshot — the
    audit surface a lakehouse admin reads before a restore. Built by
    walking the log (O(commits) driver-side metadata) plus one count
    per snapshot; the oracle pins both the log arithmetic and the
    snapshot contents."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    base = sinks.scratch_path("lake_describe")
    shutil.rmtree(base, ignore_errors=True)
    for name, m in [("A", 0), ("B", 1), ("C", 2), ("D", 3)]:
        orders.filter(F.col("o_orderkey") % 4 == m).write.mode(
            "overwrite"
        ).parquet(f"{base}/file{name}")
    lakelog.commit(base, 0, [{"add": "fileA"}, {"add": "fileB"}])
    lakelog.commit(base, 1, [{"add": "fileC"}])
    lakelog.commit(base, 2, [{"remove": "fileB"}, {"add": "fileD"}])
    rows = []
    for v in range(lakelog.latest_version(base) + 1):
        actions = lakelog.commit_actions(base, v)
        n_adds = sum(1 for a in actions if "add" in a)
        n_removes = sum(1 for a in actions if "remove" in a)
        files = lakelog.snapshot_files(base, v)
        n_rows = lakelog.read_snapshot(spark, base, v).count()
        rows.append((v, n_adds, n_removes, len(files), n_rows))
    return spark.createDataFrame(
        rows,
        "version int, n_adds int, n_removes int, n_active_files int, "
        "n_rows long",
    ).orderBy("version")


def _lake_build_mod4(spark, sf_dir: str, name: str) -> str:
    """Shared builder: a lakehouse table of orders (o_orderkey,
    price decimal(18,2)) split into 4 files by o_orderkey % 4, one
    add-all commit at v0. Key-clustered files make DML file pruning
    deterministic (a mod-key predicate touches exactly one file)."""
    import shutil

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    base = sinks.scratch_path(name)
    shutil.rmtree(base, ignore_errors=True)
    for fname, m in [("A", 0), ("B", 1), ("C", 2), ("D", 3)]:
        orders.filter(F.col("o_orderkey") % 4 == m).write.mode(
            "overwrite"
        ).parquet(f"{base}/file{fname}")
    from etl_lens_spark.operators import lakelog

    lakelog.commit(
        base,
        0,
        [{"add": f"file{f}"} for f in ("A", "B", "C", "D")],
    )
    return base


@query(
    "lake_merge_upsert",
    headline=True,
    oracle="""
    WITH src AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
                    AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 20 = 1
        UNION ALL
        SELECT o_orderkey + 100000000,
               CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 20 = 7
    ),
    final AS (
        SELECT * FROM src
        UNION ALL
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 20 <> 1
    )
    SELECT CAST(o_orderkey % 4 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(price * 100) AS BIGINT) AS price_cents,
           1 AS version, 1 AS files_rewritten
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE through the transaction log
    (operators/lakelog.py::merge_upsert): a 4-file key-clustered
    table takes an upsert batch of updates (keys %20==1, price
    doubled — all clustered in fileB) plus brand-new keys. The prune
    step's left-semi join identifies exactly ONE touched file; only
    it is rewritten (pinned by the files_rewritten column), the other
    three files are untouched metadata. The oracle recomputes the
    merged end-state relationally — a hash-match proves upsert
    semantics AND that pruning rewrote the right file. This is the
    Delta-style DML shape (SURVEY §2.2 Tx/DML row): at 100 TB the
    rewrite cost scales with rows *touched*, never with table size.
    """
    import shutil

    base = _lake_build_mod4(spark, sf_dir, "lake_merge")
    out = _merge_upsert_answer(spark, sf_dir, base)
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def _merge_upsert_answer(
    spark: SparkSession, sf_dir: str, base: str
) -> DataFrame:
    """Operation half of lake_merge_upsert (prune → rewrite →
    commit → readback); the 4-file fixture build is the setup half,
    run untimed by bench.py via the registered split."""
    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 20 == 1).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 2)
        .cast("decimal(18,2)")
        .alias("price"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 20 == 7).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    stats = lakelog.merge_upsert(
        spark, base, updates.unionByName(inserts), ["o_orderkey"]
    )
    return (
        lakelog.read_snapshot(spark, base)
        .groupBy((F.col("o_orderkey") % 4).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("price") * 100).cast("long").alias("price_cents"),
        )
        .withColumn("version", F.lit(stats["version"]).cast("int"))
        .withColumn(
            "files_rewritten",
            F.lit(stats["n_files_rewritten"]).cast("int"),
        )
        .orderBy("key_mod")
    )


@bench_setup("lake_merge_upsert")
def _bench_lake_merge_upsert(spark: SparkSession, sf_dir: str):
    # merge mutates the table (commits v1), so the fixture is rebuilt
    # before every timed run; the thunk times MERGE + readback only
    base = _lake_build_mod4(spark, sf_dir, "lake_merge")
    return lambda: _merge_upsert_answer(spark, sf_dir, base)


@query(
    "lake_delete_rewrite",
    oracle="""
    WITH states(version, n_files) AS (
        VALUES (0, 4), (1, 4), (2, 3)
    )
    SELECT s.version, s.n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum
    FROM states s JOIN orders o
      ON (s.version = 0)
         OR (s.version = 1 AND o.o_orderkey % 8 <> 3)
         OR (s.version = 2 AND o.o_orderkey % 8 <> 3
             AND o.o_orderkey % 4 <> 0)
    GROUP BY s.version, s.n_files
    ORDER BY s.version
    """,
)
def lake_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE (operators/lakelog.py::delete_where), two
    shapes in one table history: v1 deletes keys %8==3 — a strict
    subset of one file, so that file is pruned, rewritten with its
    survivors and swapped (4 files stay 4); v2 deletes keys %4==0 —
    ALL of fileA, so the file is removed with NO replacement (3
    files, no empty-file litter). Every version stays time-travel
    readable; the oracle replays each version's predicate algebra
    including the active-file count. DELETE cost is O(touched file),
    proven by construction of the key-clustered layout."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _lake_build_mod4(spark, sf_dir, "lake_delete")
    lakelog.delete_where(spark, base, F.col("o_orderkey") % 8 == 3)
    lakelog.delete_where(spark, base, F.col("o_orderkey") % 4 == 0)
    snaps = []
    for v in range(3):
        n_files = len(lakelog.snapshot_files(base, v))
        snaps.append(
            lakelog.read_snapshot(spark, base, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.lit(n_files).cast("int").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
        )
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    out = out.orderBy("version")
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_vacuum_audit",
    oracle="""
    SELECT 2 AS n_dirs_deleted, 3 AS n_dirs_kept,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderkey % 4 <> 0 AND o_orderkey % 8 <> 3
    """,
)
def lake_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM (operators/lakelog.py::vacuum): after a whole-file
    DELETE (fileA, removed with no rewrite) and a partial DELETE
    (fileD → rewritten), the table dir holds 5 data dirs of which the
    latest snapshot references 3. Vacuum physically reclaims exactly
    the 2 unreferenced dirs (fileA's deleted bytes and fileD's
    pre-rewrite original) and the latest snapshot still reads
    byte-identically — pinned by re-aggregating AFTER the vacuum.
    Retention-0 semantics (old versions sacrificed) matches the
    documented Delta VACUUM contract; the log itself survives so
    DESCRIBE HISTORY metadata is intact."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _lake_build_mod4(spark, sf_dir, "lake_vacuum")
    lakelog.delete_where(spark, base, F.col("o_orderkey") % 4 == 0)
    lakelog.delete_where(spark, base, F.col("o_orderkey") % 8 == 3)
    stats = lakelog.vacuum(base)
    out = lakelog.read_snapshot(spark, base).agg(
        F.lit(stats["n_dirs_deleted"]).cast("int").alias("n_dirs_deleted"),
        F.lit(stats["n_dirs_kept"]).cast("int").alias("n_dirs_kept"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_stats_skipping",
    oracle="""
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
    SELECT 4 AS n_files_total, 1 AS n_files_scanned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS price_cents
    FROM orders o, m
    WHERE o.o_orderkey BETWEEN m.mx // 8 AND m.mx // 4 - 1
    """,
)
def lake_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping through the transaction log: add actions carry
    GENUINE per-file min/max stats (collected from the written
    bytes, lakelog.file_stats), and a range predicate prunes the
    file list BEFORE Spark ever plans the scan
    (lakelog.read_snapshot_pruned). The table is range-clustered
    into 4 key-quartile files; the predicate covers half of one
    quartile, so exactly ONE file is opened — pinned by the
    n_files_scanned column — and the row-level results still
    hash-match the whole-table oracle slice. This is the log-level
    analog of parquet row-group skipping: a point query on a 100 TB
    log-structured table opens O(matching files), not O(files)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    base = sinks.scratch_path("lake_skip")
    shutil.rmtree(base, ignore_errors=True)
    q = mx // 4
    bounds = [(0, q), (q, 2 * q), (2 * q, 3 * q), (3 * q, mx + 1)]
    actions = []
    for i, (lo, hi) in enumerate(bounds):
        rel = f"range{i}"
        orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).write.mode("overwrite").parquet(f"{base}/{rel}")
        actions.append(
            {
                "add": rel,
                "stats": lakelog.file_stats(
                    spark, f"{base}/{rel}", ["o_orderkey"]
                ),
            }
        )
    lakelog.commit(base, 0, actions)
    lo, hi = mx // 8, mx // 4 - 1
    df, n_total, n_scanned = lakelog.read_snapshot_pruned(
        spark, base, "o_orderkey", lo, hi
    )
    out = df.filter(F.col("o_orderkey").between(lo, hi)).agg(
        F.lit(n_total).cast("int").alias("n_files_total"),
        F.lit(n_scanned).cast("int").alias("n_files_scanned"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.col("price") * 100).cast("long").alias("price_cents"),
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_bloom_point_lookup",
    oracle="""
    WITH m AS (SELECT MIN(o_custkey) AS ck FROM orders)
    SELECT 4 AS n_files_total, 1 AS n_files_scanned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS price_cents
    FROM orders o, m
    WHERE o.o_custkey = m.ck
    """,
)
def lake_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data skipping (lakelog.file_bloom /
    read_snapshot_bloom_pruned): the table is hash-split on
    o_custkey — every file spans the FULL key range, so min/max zone
    maps cannot prune a point lookup — and each add action carries a
    2^17-bit / 5-hash Bloom filter over o_custkey. A point lookup on
    one customer probes the filters and opens exactly the ONE file
    that hashes that customer (pinned by n_files_scanned; false
    positives would scan more, never return wrong rows — and at this
    m/n the FP probability is ~1e-4 per file, deterministic for
    fixed data), with the row-level results hash-matched against the
    whole-table oracle slice. This is the Delta-style bloom index:
    the mechanism for needle-in-100-TB lookups on unclustered keys."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    target = orders.agg(F.min("o_custkey")).collect()[0][0]
    base = sinks.scratch_path("lake_bloom")
    shutil.rmtree(base, ignore_errors=True)
    actions = []
    for i in range(4):
        rel = f"h{i}"
        orders.filter(
            F.pmod(F.xxhash64("o_custkey"), F.lit(4)) == i
        ).write.mode("overwrite").parquet(f"{base}/{rel}")
        actions.append(
            {
                "add": rel,
                "bloom_o_custkey": lakelog.file_bloom(
                    spark, f"{base}/{rel}", "o_custkey"
                ),
            }
        )
    lakelog.commit(base, 0, actions)
    df, n_total, n_scanned = lakelog.read_snapshot_bloom_pruned(
        spark, base, "o_custkey", target
    )
    out = df.filter(F.col("o_custkey") == target).agg(
        F.lit(n_total).cast("int").alias("n_files_total"),
        F.lit(n_scanned).cast("int").alias("n_files_scanned"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.col("price") * 100).cast("long").alias("price_cents"),
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_cdc_apply",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 3
                    AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 40 = 5
        UNION ALL
        SELECT o_orderkey + 200000000,
               CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 40 = 9
        UNION ALL
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
        FROM orders
        WHERE o_orderkey % 40 <> 5 AND o_orderkey % 40 <> 2
    )
    SELECT CAST(o_orderkey % 4 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(price * 100) AS BIGINT) AS price_cents,
           1 AS version, 2 AS files_rewritten
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def lake_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed apply through the lakehouse
    (operators/lakelog.py::apply_cdc): one mixed feed — deletes
    (keys %40==2, clustered in fileC), updates (%40==5, fileB,
    price tripled), inserts (new keys) — lands in ONE copy-on-write
    pass: one file-identity prune join, one rewrite of exactly the
    two touched files (pinned by files_rewritten), one commit. The
    oracle recomputes the post-apply state relationally. This wires
    the batch CDC algebra family (operators/cdc.py) into the
    transaction log: the Delta change-data-feed apply shape whose
    cost is bounded by the feed, never the 100 TB table."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _lake_build_mod4(spark, sf_dir, "lake_cdc")
    orders = load_table(spark, sf_dir, "orders")
    deletes = orders.filter(F.col("o_orderkey") % 40 == 2).select(
        "o_orderkey",
        F.lit(None).cast("decimal(18,2)").alias("price"),
        F.lit("D").alias("op"),
    )
    updates = orders.filter(F.col("o_orderkey") % 40 == 5).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 3)
        .cast("decimal(18,2)")
        .alias("price"),
        F.lit("U").alias("op"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 40 == 9).select(
        (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.lit("I").alias("op"),
    )
    stats = lakelog.apply_cdc(
        spark,
        base,
        deletes.unionByName(updates).unionByName(inserts),
        ["o_orderkey"],
    )
    out = (
        lakelog.read_snapshot(spark, base)
        .groupBy((F.col("o_orderkey") % 4).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.col("price") * 100).cast("long").alias("price_cents"),
        )
        .withColumn("version", F.lit(stats["version"]).cast("int"))
        .withColumn(
            "files_rewritten",
            F.lit(stats["n_files_rewritten"]).cast("int"),
        )
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "sink_python_datasource_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS price_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_python_datasource_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User-defined Python DataSource WRITE path (sources/pyds.py::
    JsonLinesSinkDataSource) — executor tasks stage uniquely-named
    JSONL part files and return commit messages; the driver publishes
    them atomically with a manifest (retried/speculative tasks can
    never surface partial output). The round-trip reads the published
    files back with the built-in JSON reader and aggregates; the
    oracle aggregates the source table directly, so any lost,
    duplicated, or mis-serialized row across the task-commit protocol
    fails the hash. Completes the Python DSv2 surface next to the
    batch reader (source_python_datasource) and the kafka-shaped
    stream reader (streaming_python_source_live)."""
    import glob
    import json
    import os
    import shutil

    from etl_lens_spark.sources.pyds import JsonLinesSinkDataSource

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass  # already registered in this session
    path = sinks.scratch_path("pyds_jsonl_sink")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
    )
    src.write.format("jsonl_sink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    files = sorted(glob.glob(os.path.join(path, "part-*.jsonl")))
    assert manifest["total_rows"] == sum(
        e["rows"] for e in manifest["files"]
    )
    back = spark.read.schema("priority string, price_c long").json(files)
    out = (
        back.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_c").cast("long").alias("price_cents"),
        )
        .orderBy("priority")
    )
    rows = out.collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_version_diff",
    oracle="""
    SELECT
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 40 = 9) AS BIGINT)
            AS n_added,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 40 = 2) AS BIGINT)
            AS n_removed,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 40 = 5) AS BIGINT)
            AS n_changed,
        CAST(SUM(CASE WHEN o_orderkey % 40 = 5
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) * 200
                      ELSE 0 END) AS BIGINT) AS changed_delta_cents
    FROM orders
    """,
)
def lake_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel DIFF between lake versions: after the mixed CDC
    apply (deletes %40==2, updates %40==5 tripling price, inserts
    %40==9 at shifted keys), the pre- and post-apply snapshots are
    both read THROUGH the log and full-outer joined on the key —
    added / removed / changed row counts plus the exact price delta
    of the changed set. This is the audit query a lakehouse admin
    runs before a restore (the row-level companion of DESCRIBE
    HISTORY), and the CDC-roundtrip property: diff(v0, v1) must
    equal the feed that produced v1. The oracle recomputes all four
    numbers from the feed predicates directly.

    Scale: one key-keyed full-outer join between two snapshots —
    at 100 TB you diff only the touched files (their names are in
    the v1 commit), which bounds the join by the write size."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _lake_build_mod4(spark, sf_dir, "lake_diff")
    orders = load_table(spark, sf_dir, "orders")
    feed = (
        orders.filter(F.col("o_orderkey") % 40 == 2)
        .select(
            "o_orderkey",
            F.lit(None).cast("decimal(18,2)").alias("price"),
            F.lit("D").alias("op"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 40 == 5).select(
                "o_orderkey",
                (F.col("o_totalprice").cast("decimal(18,2)") * 3)
                .cast("decimal(18,2)")
                .alias("price"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 40 == 9).select(
                (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
                F.lit("I").alias("op"),
            )
        )
    )
    lakelog.apply_cdc(spark, base, feed, ["o_orderkey"])
    v0 = lakelog.read_snapshot(spark, base, 0).select(
        "o_orderkey", F.col("price").alias("price_before")
    )
    v1 = lakelog.read_snapshot(spark, base).select(
        "o_orderkey", F.col("price").alias("price_after")
    )
    d = v0.join(v1, "o_orderkey", "full_outer")
    out = d.agg(
        F.count_if(F.col("price_before").isNull()).alias("n_added"),
        F.count_if(F.col("price_after").isNull()).alias("n_removed"),
        F.count_if(
            F.col("price_before").isNotNull()
            & F.col("price_after").isNotNull()
            & (F.col("price_before") != F.col("price_after"))
        ).alias("n_changed"),
        F.sum(
            F.when(
                F.col("price_before").isNotNull()
                & F.col("price_after").isNotNull()
                & (F.col("price_before") != F.col("price_after")),
                (F.col("price_after") - F.col("price_before")) * 100,
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("changed_delta_cents"),
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_optimize_cluster",
    oracle="""
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
    SELECT 2 AS pre_files_scanned, 1 AS post_files_scanned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum
    FROM orders o, m
    WHERE o.o_orderkey BETWEEN m.mx // 8 AND m.mx // 4 - 1
    """,
)
def lake_optimize_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE CLUSTER BY through the log
    (lakelog.optimize_cluster): the table starts as two HASH-
    scattered files — every file spans the full key range, so the
    range predicate scans 2 of 2 despite having genuine min/max
    stats — then one clustering rewrite produces four range files
    with fresh stats, and the SAME predicate opens 1 of 4. Both
    scan counts are pinned in the output and the row-level results
    hash-match the oracle slice both before and after (the after
    read feeds the aggregate). This is the layout-maintenance
    half of data skipping: stats only prune what clustering has
    co-located."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    base = sinks.scratch_path("lake_cluster")
    shutil.rmtree(base, ignore_errors=True)
    actions = []
    for i in range(2):
        rel = f"h{i}"
        orders.filter(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(2)) == i
        ).write.mode("overwrite").parquet(f"{base}/{rel}")
        actions.append(
            {
                "add": rel,
                "stats": lakelog.file_stats(
                    spark, f"{base}/{rel}", ["o_orderkey"]
                ),
            }
        )
    lakelog.commit(base, 0, actions)
    lo, hi = mx // 8, mx // 4 - 1
    _, _, pre_scanned = lakelog.read_snapshot_pruned(
        spark, base, "o_orderkey", lo, hi
    )
    q = mx // 4
    lakelog.optimize_cluster(
        spark,
        base,
        "o_orderkey",
        [(0, q), (q, 2 * q), (2 * q, 3 * q), (3 * q, mx + 1)],
    )
    df, _, post_scanned = lakelog.read_snapshot_pruned(
        spark, base, "o_orderkey", lo, hi
    )
    out = df.filter(F.col("o_orderkey").between(lo, hi)).agg(
        F.lit(pre_scanned).cast("int").alias("pre_files_scanned"),
        F.lit(post_scanned).cast("int").alias("post_files_scanned"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) * 200
                         ELSE CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    END) AS BIGINT) AS price_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (the backfill primitive): the
    full table lands partitioned by priority; a corrected batch for
    ONE partition (1-URGENT, prices doubled) is written with
    ``partitionOverwriteMode=dynamic`` — replacing exactly the
    partitions present in the incoming frame and leaving the other
    four untouched (STATIC mode would have wiped them; the read-back
    hash proves they survived byte-for-byte). This is how a daily
    pipeline re-runs one bad day in place, idempotently."""
    import shutil

    path = sinks.scratch_path("dyn_overwrite")
    shutil.rmtree(path, ignore_errors=True)
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
    )
    src.write.partitionBy("priority").mode("overwrite").parquet(path)
    fixed = src.filter(F.col("priority") == "1-URGENT").withColumn(
        "price_c", (F.col("price_c") * 2).cast("long")
    )
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed.write.partitionBy("priority").mode("overwrite").parquet(
            path
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", old_mode
        )
    back = spark.read.parquet(path)
    out = (
        back.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_c").cast("long").alias("price_cents"),
        )
        .orderBy("priority")
    )
    rows = out.collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "sink_global_sorted_export",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_totalprice FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS is_globally_sorted,
           CAST(1 AS BIGINT) AS files_nonoverlapping,
           CAST(SUM(o_orderkey * 2654435761 % 1000000007) AS BIGINT)
             AS content_checksum
    FROM src
    """,
)
def sink_global_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted file export — the TeraSort decomposition as a
    SINK: ``repartitionByRange`` puts disjoint key ranges on ordered
    partitions, ``sortWithinPartitions`` orders each file internally,
    and the concatenation of part-files in name order IS the total
    order — no single-reducer sort anywhere, which is the only way a
    100 TB extract ships sorted (range-partitioned parallel writes;
    a consumer reads file k after file k−1 and sees one ordered
    stream). The query then PROVES the contract from the written
    artifact: per-file (min, max, sorted?) manifests roll up to
    is_globally_sorted (every file internally ordered AND every
    file's min > previous file's max) and files_nonoverlapping,
    alongside a content checksum the oracle recomputes from the
    source — so the export is verified both ordered and lossless."""
    import glob
    import shutil

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = sinks.scratch_path("global_sorted_export")
    shutil.rmtree(base, ignore_errors=True)
    (
        orders.repartitionByRange(8, F.col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(base)
    )
    from pyspark.sql import Window

    files = sorted(glob.glob(f"{base}/part-*.parquet"))
    manifests = []
    for idx, path in enumerate(files):
        pf = spark.read.parquet(path).select(
            "o_orderkey",
            F.col("_metadata.row_index").alias("__ri"),
        )
        # internal-order probe: zero inversions in physical row order.
        # The window spans ONE part-file (the unit of parallel write),
        # so it is bounded by file size, not table size — the
        # verification is as parallel as the export itself.
        w = Window.orderBy("__ri")
        m = pf.select(
            "o_orderkey",
            (
                F.col("o_orderkey")
                < F.lag("o_orderkey").over(w)
            )
            .cast("int")
            .alias("__inv"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
            F.sum(
                (F.col("o_orderkey") * 2654435761) % 1000000007
            ).alias("ck"),
            F.coalesce(F.sum("__inv"), F.lit(0)).alias("inv"),
        ).collect()[0]
        manifests.append(
            (
                idx,
                int(m["n"]),
                int(m["mn"]),
                int(m["mx"]),
                int(m["ck"]),
                int(m["inv"]) == 0,
            )
        )
    sorted_within = all(m[5] for m in manifests)
    nonoverlap = all(
        manifests[i][3] < manifests[i + 1][2]
        for i in range(len(manifests) - 1)
    )
    return spark.createDataFrame(
        [
            (
                sum(m[1] for m in manifests),
                int(sorted_within and nonoverlap),
                int(nonoverlap),
                sum(m[4] for m in manifests),
            )
        ],
        "n_rows long, is_globally_sorted long, "
        "files_nonoverlapping long, content_checksum long",
    )


@query(
    "dpp_partition_pruned_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the Catalyst runtime-filter
    mechanism static pruning can't reach: the fact table is written
    partitioned by priority, and the dim-side predicate is on a
    column the fact scan cannot see (the dim's weight), so the only
    way to avoid scanning all 5 partitions is for Catalyst to inject
    the dim's surviving join keys into the fact scan AT RUNTIME
    (``dynamicpruningexpression`` on the scan's PartitionFilters —
    asserted in tests/test_io.py). This is the optimizer feature that
    makes star-schema joins over a 100 TB partitioned fact read only
    the partitions the dimension selects — the declarative payoff the
    whole partitioned-layout discipline builds toward.

    The oracle computes the surviving groups directly; a hash match
    plus the plan assertion proves both the result and the pruned
    execution."""
    import shutil

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = sinks.scratch_path("dpp_fact_orders")
    shutil.rmtree(base, ignore_errors=True)
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(
        base
    )
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", 1),
            ("2-HIGH", 0),
            ("3-MEDIUM", 1),
            ("4-NOT SPECIFIED", 0),
            ("5-LOW", 0),
        ],
        "prio string, active int",
    ).filter(F.col("active") == 1)
    return (
        fact.join(dim, fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "lake_multi_table_txn",
    oracle="""
    WITH v0 AS (
        SELECT CAST(0 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_fact,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS weighted_total
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    v1 AS (
        SELECT CAST(1 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_fact,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                    * CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 2 ELSE 1 END) AS DOUBLE)
                 AS weighted_total
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version
    """,
)
def lake_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE atomic transactions — one log governing a fact AND
    its dimension: version 1 lands a new fact batch and a dim
    reprice (URGENT factor 1 → 2) in a SINGLE commit, so no reader
    can ever join the new fact against the old dim or vice versa —
    the cross-table consistency single-table logs can't give (a
    fact/dim pair committed separately has a torn window between the
    two commits; here the window provably doesn't exist because both
    states resolve from the same log version). Each version's
    fact ⋈ dim weighted revenue is read back THROUGH the log and
    hash-pinned by the oracle's residue-class reconstruction —
    version 0 must price URGENT at 1 and version 1 at 2, with the
    matching fact populations.

    Scale: commits stay O(touched-files) metadata; the join runs on
    the snapshot exactly as on plain parquet (broadcast dim)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = sinks.scratch_path("lake_multi_txn")
    shutil.rmtree(base, ignore_errors=True)
    orders.filter(F.col("o_orderkey") % 3 == 0).write.parquet(
        f"{base}/fact/f0"
    )
    orders.filter(F.col("o_orderkey") % 3 == 1).write.parquet(
        f"{base}/fact/f1"
    )
    prios = [
        "1-URGENT",
        "2-HIGH",
        "3-MEDIUM",
        "4-NOT SPECIFIED",
        "5-LOW",
    ]
    spark.createDataFrame(
        [(p, 1) for p in prios], "prio string, factor int"
    ).coalesce(1).write.parquet(f"{base}/dim/d0")
    spark.createDataFrame(
        [(p, 2 if p == "1-URGENT" else 1) for p in prios],
        "prio string, factor int",
    ).coalesce(1).write.parquet(f"{base}/dim/d1")
    # v0: initial fact + dim.  v1: new fact batch AND the dim swap,
    # one atomic commit — the pair can never be observed torn.
    lakelog.commit(base, 0, [{"add": "fact/f0"}, {"add": "dim/d0"}])
    lakelog.commit(
        base,
        1,
        [{"add": "fact/f1"}, {"remove": "dim/d0"}, {"add": "dim/d1"}],
    )
    outs = []
    for v in (0, 1):
        fact = lakelog.read_table_snapshot(spark, base, "fact", v)
        dim = lakelog.read_table_snapshot(spark, base, "dim", v)
        outs.append(
            fact.join(
                F.broadcast(dim),
                fact.o_orderpriority == dim.prio,
            ).agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_fact"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                    * F.col("factor")
                )
                .cast("double")
                .alias("weighted_total"),
            )
        )
    return outs[0].unionAll(outs[1]).orderBy("version")


@query(
    "federated_three_source_join",
    oracle="""
    WITH nat AS (SELECT n_nationkey, n_name FROM nation),
    reg AS (SELECT r_regionkey, r_name FROM region),
    natr AS (
        SELECT n.n_nationkey, n.n_name, r.r_name
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    SELECT nr.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_balance
    FROM customer c JOIN natr nr ON c.c_nationkey = nr.n_nationkey
    GROUP BY nr.r_name
    ORDER BY nr.r_name
    """,
)
def federated_three_source_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FEDERATION in one plan: the fact side stays parquet, the
    nation dimension is served from a REAL relational database
    (embedded Derby over JDBC — in production, the same wrapper
    against Postgres/MySQL), and the region dimension from CSV — the
    everyday enterprise shape where reference data lives in an
    operational RDBMS and drops land as files. Spark joins all three
    sources in a single declarative plan (both dims broadcast; the
    parquet fact never leaves its scan shape), and the oracle
    recomputes everything from the original parquet — so any
    type mangling on the JDBC or CSV hop (string padding, decimal
    widening) fails the hash.

    Scale: federation cost is dim-extraction cost; the JDBC read is
    the partitioned-predicate shape and the CSV dim is one file —
    the 100 TB fact side is untouched parquet pushdown."""
    import uuid

    from etl_lens_spark.sources.external import read_jdbc, write_jdbc
    from etl_lens_spark.sources.sinks import scratch_path

    url = (
        f"jdbc:derby:{scratch_path(f'derby_fed_{uuid.uuid4().hex}')}"
        ";create=true"
    )
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation_src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(nation_src, url, "nation_dim", properties=props)
    nation = read_jdbc(
        spark,
        url,
        "nation_dim",
        properties=props,
        partition_column="n_nationkey",
        num_partitions=4,
        lower_bound=0,
        upper_bound=25,
    )
    csv_dir = scratch_path(f"fed_region_csv_{uuid.uuid4().hex}")
    load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    ).coalesce(1).write.mode("overwrite").option("header", True).csv(
        csv_dir
    )
    region = spark.read.option("header", True).csv(csv_dir).select(
        F.col("r_regionkey").cast("long"), "r_name"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal"
    )
    return (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("r_name")
    )


@query(
    "ingest_quarantine_split",
    oracle="""
    WITH lines AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN doc_id || ',' || (doc_id * 7) % 1000 || ',ok'
               WHEN 1 THEN doc_id || ',' || (doc_id * 7) % 1000 || ',ok'
               WHEN 2 THEN doc_id || ',abc,ok'
               WHEN 3 THEN CAST(doc_id AS VARCHAR)
               ELSE doc_id || ',' || (doc_id * 7) % 1000 || ',ok,EXTRA'
             END AS line
      FROM documents
    ),
    routed AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 5 IN (0, 1) THEN 'main'
               WHEN doc_id % 5 = 2 THEN 'type_error'
               WHEN doc_id % 5 = 3 THEN 'short_row'
               ELSE 'long_row'
             END AS outcome
      FROM lines
    )
    SELECT outcome,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM routed
    GROUP BY outcome
    ORDER BY outcome
    """,
)
def ingest_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUARANTINE ingestion pattern — permissive parse routed to
    two physical sinks: rows that parse clean land in the main
    table; every corrupt row lands in a quarantine table with its
    RAW line and a typed reason (type_error / short_row / long_row —
    classified from the evidence, so an operator triages by class
    instead of re-parsing), and the audit row the pipeline reports
    is computed by RE-READING both sinks — the written artifacts,
    not the in-flight frames, are what the oracle pins (id_sum per
    outcome proves exact row routing, not just counts).

    This is the operational contract every untrusted 100 TB feed
    needs: the job never fails on bad rows, nothing is silently
    dropped (main + quarantine partitions the input exactly), and
    the quarantine table preserves enough to replay after a fix.
    One pass to parse+route, two writes, two scans for the audit."""
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 5
    good = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        (F.col("doc_id") * 7 % 1000).cast("string"),
        F.lit("ok"),
    )
    line = (
        F.when(m == 2, F.concat_ws(",", F.col("doc_id").cast("string"), F.lit("abc"), F.lit("ok")))
        .when(m == 3, F.col("doc_id").cast("string"))
        .when(m == 4, F.concat(good, F.lit(",EXTRA")))
        .otherwise(good)
    )
    parsed = docs.select(
        "doc_id",
        line.alias("line"),
        F.from_csv(
            line,
            "a INT, b INT, c STRING, _c STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_c"},
        ).alias("p"),
    )
    n_tokens = F.size(F.split("line", ","))
    routed = parsed.select(
        "doc_id",
        "line",
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
        F.col("p.c").alias("c"),
        F.when(F.col("p._c").isNull(), "main")
        .when(n_tokens > 3, "long_row")
        .when(n_tokens < 3, "short_row")
        .otherwise("type_error")
        .alias("outcome"),
    )
    base = sinks.scratch_path("quarantine_split")
    shutil.rmtree(base, ignore_errors=True)
    routed.filter(F.col("outcome") == "main").select(
        "doc_id", "a", "b", "c"
    ).write.parquet(f"{base}/main")
    routed.filter(F.col("outcome") != "main").select(
        "doc_id", "line", "outcome"
    ).write.parquet(f"{base}/quarantine")
    main_audit = (
        spark.read.parquet(f"{base}/main")
        .agg(
            F.lit("main").alias("outcome"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )
    quar_audit = (
        spark.read.parquet(f"{base}/quarantine")
        .groupBy("outcome")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )
    return main_audit.unionByName(quar_audit).orderBy("outcome")


@query("diag_parquet_footprint")
def diag_parquet_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORAGE-LAYOUT audit from parquet FOOTERS only — the
    metadata-first discipline behind every partition-sizing decision
    (`spark.sql.files.maxPartitionBytes` tuning starts from exactly
    these numbers: row groups per file, rows per group, compressed
    vs uncompressed column bytes — and never touches data pages):
    the Spark side reads each footer via pyarrow on the driver
    (O(files) metadata fetches, zero data I/O — the same access
    pattern a real table format's planning phase uses). Rows-only in
    the harness (oracle SQL cannot parameterize file paths), but the
    cross-engine pin still exists: tests/test_io.py compares these
    numbers against DuckDB's independent ``parquet_metadata`` at
    BOTH scales — two parquet implementations agreeing on the
    physical layout byte-for-byte."""
    import pyarrow.parquet as pq

    rows = []
    for name in ["customer", "lineitem", "orders"]:
        md = pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata
        comp = unc = 0
        max_rg = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            max_rg = max(max_rg, rg.num_rows)
            for c in range(rg.num_columns):
                col = rg.column(c)
                comp += col.total_compressed_size
                unc += col.total_uncompressed_size
        rows.append((name, md.num_row_groups, max_rg, comp, unc))
    return spark.createDataFrame(
        rows,
        "name string, n_row_groups long, max_rg_rows long, "
        "compressed_bytes long, uncompressed_bytes long",
    ).orderBy("name")


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(epoch_us(ts)) AS first_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + schema-locked read-back over the event log —
    Spark 4's built-in xml format (one <row> element per record),
    completing the text-format sink family next to csv/json.
    Timestamps carried as unix micros (XML, like JSON, has no
    timestamp type in this contract); the aggregate over the
    round-tripped data must equal the oracle's aggregate over the
    original parquet, so any serialization loss fails the hash."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    path, ddl = sinks.write_xml(ev, "events_xml")
    back = sinks.read_xml(spark, path, ddl)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_us").alias("first_us"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


def _hilbert_stats_oracle() -> str:
    from etl_lens_spark.operators.layout import (
        hilbert_ctes_sql,
        scale_expr,
    )

    sx = scale_expr("xk", "xlo", "xhi", _ZBITS, "//")
    sy = scale_expr("yk", "ylo", "yhi", _ZBITS, "//")
    ctes, last = hilbert_ctes_sql("scaled", _ZBITS)
    return f"""
    WITH t AS (
        SELECT o_custkey AS xk,
               datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS yk
        FROM orders
    ),
    b AS (
        SELECT MIN(xk) AS xlo, MAX(xk) AS xhi,
               MIN(yk) AS ylo, MAX(yk) AS yhi
        FROM t
    ),
    scaled AS (
        SELECT xk AS gx, yk AS gy, CAST(0 AS BIGINT) AS d,
               CAST({sx} AS BIGINT) AS x, CAST({sy} AS BIGINT) AS y
        FROM t CROSS JOIN b
    ),
    {ctes}
    SELECT CAST(d >> {2 * _ZBITS - 6} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(gx) - MIN(gx) AS BIGINT) AS x_span,
           CAST(MAX(gy) - MIN(gy) AS BIGINT) AS y_span,
           CAST(MIN(d) AS BIGINT) AS h_min
    FROM {last}
    GROUP BY 1
    ORDER BY bucket
    """


@query("lake_hilbert_cluster_stats", oracle=_hilbert_stats_oracle())
def lake_hilbert_cluster_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hilbert-curve layout statistics — the direct upgrade
    comparison to zorder_cluster_stats on the SAME (customer, order
    day) dimensions and the same 64 curve buckets: per-bucket row
    counts and bounding-box spans after mapping orders onto the
    Hilbert index (operators/layout.with_hilbert_value — min/max
    scaling + the unrolled masked xy2d stages, pure JVM expressions).
    Tighter boxes than the Morton buckets (no Z-seam diagonal jumps)
    mean better parquet min/max pruning after a clustered write;
    tests/test_layout.py asserts the aggregate span comparison.
    The index arithmetic is the shared generated SQL, so every shift
    and rotation is pinned cross-engine."""
    from etl_lens_spark.operators import layout as _zl2

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("xk"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("yk"),
    )
    h = _zl2.with_hilbert_value(o, "xk", "yk", bits=_ZBITS)
    return (
        h.groupBy(
            F.expr(f"hval >> {2 * _ZBITS - 6}").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("xk") - F.min("xk")).cast("long").alias("x_span"),
            (F.max("yk") - F.min("yk")).cast("long").alias("y_span"),
            F.min("hval").cast("long").alias("h_min"),
        )
        .orderBy("bucket")
    )


@query(
    "lake_schema_evolution",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             o_orderpriority AS seg,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    v0 AS (SELECT k, cents FROM src WHERE d < DATE '1998-01-01'),
    v1add AS (SELECT k, cents, seg FROM src
              WHERE d >= DATE '1998-01-01')
    SELECT 0 AS version,
           CAST(3 AS BIGINT) AS n_cols,
           CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(cents) FROM v0) AS BIGINT) AS cents_sum,
           CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_null_seg
    UNION ALL
    SELECT 1,
           CAST(3 AS BIGINT),
           CAST((SELECT COUNT(*) FROM src) AS BIGINT),
           CAST((SELECT SUM(cents) FROM src) AS BIGINT),
           CAST((SELECT COUNT(*) FROM v0) AS BIGINT)
    ORDER BY version
    """,
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the transaction log (the Delta
    metaData-action protocol, the last DML-surface feature the lake
    layer lacked): v0 commits files with (k, cents) under a 2-column
    committed schema, v1 appends files CARRYING A NEW COLUMN (seg)
    and commits the widened 3-column schema in the same atomic
    commit. Reads honor the schema AS OF the version read —
    ``read_snapshot_evolved`` unions physical file schemas with
    mergeSchema, then conforms to the committed schema, so v0-era
    rows surface seg as NULL at v1 while time-traveling to v0 shows
    the original 2 columns (asserted in tests; this query reads BOTH
    versions through the evolved reader with the v1 schema applied,
    so n_cols is 3 and the null count localizes evolution to exactly
    the pre-evolution rows).

    100 TB posture: evolution is O(1) metadata — no file is
    rewritten to add a column; old files are never touched and the
    NULL materializes at scan time. The oracle recomputes every
    aggregate analytically from the source split."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("lake_schema_evo")
    shutil.rmtree(base, ignore_errors=True)
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("o_orderpriority").alias("seg"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    old = src.filter(F.col("d") < "1998-01-01").select("k", "cents")
    new = src.filter(F.col("d") >= "1998-01-01").select(
        "k", "cents", "seg"
    )
    old.write.mode("overwrite").parquet(f"{base}/file0")
    new.write.mode("overwrite").parquet(f"{base}/file1")
    lakelog.commit(
        base,
        0,
        [
            {"metaData": {"fields": [["k", "bigint"], ["cents", "bigint"]]}},
            {"add": "file0"},
        ],
    )
    lakelog.commit(
        base,
        1,
        [
            {
                "metaData": {
                    "fields": [
                        ["k", "bigint"],
                        ["cents", "bigint"],
                        ["seg", "string"],
                    ]
                }
            },
            {"add": "file1"},
        ],
    )
    outs = []
    for v in (0, 1):
        # both aggregates read through the LATEST (3-column) schema —
        # a uniform output shape; the v0 slice is the evolved read
        # restricted to v0's files (pre-evolution rows are exactly
        # the NULL-seg rows). The 2-column v0-schema time travel is
        # pinned separately in tests/test_lakelog.py.
        snap = lakelog.read_snapshot_evolved(spark, base, None)
        if v == 0:
            snap = snap.filter(F.col("seg").isNull())
        outs.append(
            snap.agg(
                F.lit(v).cast("int").alias("version"),
                F.lit(3).cast("long").alias("n_cols"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("cents_sum"),
                F.sum(
                    F.when(F.col("seg").isNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_null_seg"),
            ).select(
                "version", "n_cols", "n_rows", "cents_sum", "n_null_seg"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("version")


@query(
    "lake_gdpr_erasure",
    oracle="""
    WITH t AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    victim AS (
      SELECT user_id AS uid FROM t ORDER BY n DESC, user_id LIMIT 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM t)
    SELECT CAST((SELECT n FROM t WHERE user_id = (SELECT uid FROM victim))
                AS BIGINT) AS n_erased,
           CAST((SELECT total FROM tot)
                - (SELECT n FROM t
                   WHERE user_id = (SELECT uid FROM victim)) AS BIGINT)
             AS n_remaining,
           CAST(0 AS BIGINT) AS n_after_erase,
           CAST(4 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_rewritten,
           CAST(1 AS BIGINT) AS time_travel_blocked
    """,
)
def lake_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as a lakehouse workflow — the erasure
    request every data platform must answer, composed ENTIRELY from
    the existing DML primitives: (1) copy-on-write DELETE prunes to
    the one hash-bucket file containing the subject's rows and
    rewrites only it; (2) retention-0 VACUUM physically removes the
    superseded bytes, so the data is gone from STORAGE, not just
    from the latest snapshot; (3) the audit proves time travel to
    the pre-erasure version now FAILS (that is the point — erasure
    and immutable history are incompatible, and the vacuum makes the
    choice explicit and logged). Output pins the erased/remaining
    counts analytically against the source, the file-level prune
    (4 bucket files, exactly 1 rewritten), and the blocked travel.

    100 TB posture: erasure cost scales with the files the subject
    touches (hash-bucketed layout → 1 of 4 here), never table size;
    the vacuum is O(superseded files) metadata + deletes."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("lake_gdpr")
    shutil.rmtree(base, ignore_errors=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id", "event_type", "value")
    )
    # hash-bucketed layout: the subject lands in exactly one file
    for b in range(4):
        ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == b).write.mode(
            "overwrite"
        ).parquet(f"{base}/bucket{b}")
    lakelog.commit(
        base, 0, [{"add": f"bucket{b}"} for b in range(4)]
    )
    before = lakelog.read_snapshot(spark, base)
    n_before = before.count()
    # erasure subject derived from the DATA (most-active user,
    # user_id tie-break) — computed identically in the oracle, so
    # the query is scale/fixture-portable instead of assuming a
    # particular user_id exists
    victim = (
        before.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .first()["user_id"]
    )
    n_victim = before.filter(F.col("user_id") == victim).count()
    stats = lakelog.delete_where(
        spark, base, F.col("user_id") == victim
    )
    reclaim = lakelog.vacuum(base)
    after = lakelog.read_snapshot(spark, base)
    n_after = after.count()
    n_after_victim = after.filter(F.col("user_id") == victim).count()
    try:
        lakelog.read_snapshot(spark, base, 0).count()
        blocked = 0
    except Exception:  # noqa: BLE001 — vacuumed files gone = blocked
        blocked = 1
    assert reclaim["n_dirs_deleted"] >= 1  # bytes actually reclaimed
    assert n_before == n_after + n_victim
    return spark.createDataFrame(
        [
            (
                n_victim,
                n_after,
                n_after_victim,
                4,
                int(stats["n_files_rewritten"]),
                blocked,
            )
        ],
        "n_erased long, n_remaining long, n_after_erase long, "
        "files_before long, files_rewritten long, "
        "time_travel_blocked long",
    )


@query(
    "lake_stats_only_agg",
    headline=True,
    oracle="""
    SELECT 4 AS n_files_total, 0 AS n_files_opened,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS min_price_cents,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS max_price_cents
    FROM orders
    """,
)
def lake_stats_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only query answering from the transaction log:
    COUNT(*)/MIN/MAX over the whole table computed from add-action
    stats (num_records + per-column [min, max]) WITHOUT opening a
    single data file — the Delta/Iceberg footer-only trick that
    turns a 100 TB dashboard aggregate from 10⁵ file opens into one
    log read, because COUNT/MIN/MAX distribute over the file
    partition of the table (lakelog.stats_only_agg).

    The zero-open pin is physical, not asserted: after the commit
    (whose add actions carry write-time stats), every data file is
    DELETED from disk before the answer is computed. The numbers
    below can only have come from the log — and they still
    hash-match the oracle's full scan of the source table.
    n_files_opened is 0 by construction."""
    import shutil

    base = _stats_only_build(spark, sf_dir)
    out = _stats_only_answer(spark, base)
    shutil.rmtree(base, ignore_errors=True)
    return out


def _stats_only_build(spark: SparkSession, sf_dir: str) -> str:
    """Fixture half of lake_stats_only_agg: write the 4-file table,
    commit with write-time stats, then DELETE every data file (the
    physical zero-open pin). Split out so bench.py can run it
    untimed — the measured operation is the log read, not this
    parquet write."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    base = sinks.scratch_path("lake_statsonly")
    shutil.rmtree(base, ignore_errors=True)
    actions = []
    # hash-bucket split (never empty on any fixture with >= 4 rows —
    # a key-RANGE split can produce an empty file under skew, whose
    # NULL min/max would poison metadata-only answering); COUNT/MIN/
    # MAX folding needs no clustering, only per-file stats coverage
    for i in range(4):
        rel = f"range{i}"
        orders.filter(
            F.pmod(F.col("o_orderkey"), F.lit(4)) == i
        ).write.mode("overwrite").parquet(f"{base}/{rel}")
        stats, n_rec = lakelog.file_stats_with_count(
            spark, f"{base}/{rel}", ["o_orderkey", "price_cents"]
        )
        actions.append({"add": rel, "stats": stats, "num_records": n_rec})
    lakelog.commit(base, 0, actions)
    # burn the data: the answer below CANNOT come from a scan
    for i in range(4):
        shutil.rmtree(f"{base}/range{i}")
    return base


def _stats_only_answer(spark: SparkSession, base: str) -> DataFrame:
    """Answer half of lake_stats_only_agg: one log read, zero file
    opens — this is the part bench.py times."""
    from etl_lens_spark.operators import lakelog

    agg = lakelog.stats_only_agg(base, ["o_orderkey", "price_cents"])
    return spark.createDataFrame(
        [
            (
                int(agg["n_files"]),
                0,
                int(agg["n_rows"]),
                int(agg["min"]["o_orderkey"]),
                int(agg["max"]["o_orderkey"]),
                int(agg["min"]["price_cents"]),
                int(agg["max"]["price_cents"]),
            )
        ],
        "n_files_total int, n_files_opened int, n_rows long, "
        "min_key long, max_key long, min_price_cents long, "
        "max_price_cents long",
    )


@bench_setup("lake_stats_only_agg")
def _bench_lake_stats_only(spark: SparkSession, sf_dir: str):
    base = _stats_only_build(spark, sf_dir)
    return lambda: _stats_only_answer(spark, base)


def _layout_compare_oracle() -> str:
    from etl_lens_spark.operators.layout import hilbert_ctes_sql

    ctes, last = hilbert_ctes_sql("scaled", _ZBITS)
    shift = 2 * _ZBITS - 6
    return f"""
    WITH t AS (
        SELECT o_orderkey AS rid, o_custkey AS xk,
               datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS yk
        FROM orders
    ),
    b AS (
        SELECT MIN(xk) AS xlo, MAX(xk) AS xhi,
               MIN(yk) AS ylo, MAX(yk) AS yhi
        FROM t
    ),
    q AS (
        SELECT xlo + ((xhi - xlo) * 25) // 100 AS qxlo,
               xlo + ((xhi - xlo) * 30) // 100 AS qxhi,
               ylo + ((yhi - ylo) * 25) // 100 AS qylo,
               ylo + ((yhi - ylo) * 30) // 100 AS qyhi
        FROM b
    ),
    scaled AS (
        SELECT xk AS gx, yk AS gy, CAST(0 AS BIGINT) AS d,
               CAST({_ZX} AS BIGINT) AS x, CAST({_ZY} AS BIGINT) AS y
        FROM t CROSS JOIN b
    ),
    {ctes},
    hb AS (SELECT d >> {shift} AS bucket, gx AS xk, gy AS yk
           FROM {last}),
    z AS (SELECT xk, yk, {_ZEXPR} AS zval FROM t CROSS JOIN b),
    zb AS (SELECT zval >> {shift} AS bucket, xk, yk FROM z),
    kb AS (SELECT rid % 64 AS bucket, xk, yk FROM t),
    boxes AS (
        SELECT 'hilbert' AS layout, bucket,
               MIN(xk) AS mnx, MAX(xk) AS mxx,
               MIN(yk) AS mny, MAX(yk) AS mxy
        FROM hb GROUP BY bucket
        UNION ALL
        SELECT 'zorder', bucket, MIN(xk), MAX(xk), MIN(yk), MAX(yk)
        FROM zb GROUP BY bucket
        UNION ALL
        SELECT 'scatter', bucket, MIN(xk), MAX(xk), MIN(yk), MAX(yk)
        FROM kb GROUP BY bucket
    ),
    scan AS (
        SELECT layout,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN mxx < qxlo OR mnx > qxhi
                               OR mxy < qylo OR mny > qyhi
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS files_scanned
        FROM boxes CROSS JOIN q GROUP BY layout
    ),
    inbox AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS rows_in_box
        FROM t CROSS JOIN q
        WHERE xk BETWEEN qxlo AND qxhi AND yk BETWEEN qylo AND qyhi
    )
    SELECT layout, n_files, files_scanned, rows_in_box
    FROM scan CROSS JOIN inbox ORDER BY layout
    """


@query("lake_layout_pruning_compare", oracle=_layout_compare_oracle())
def lake_layout_pruning_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Files-opened under Z-order vs Hilbert vs key-scattered layout
    for the SAME 2-D box query — the end-to-end composition of
    operators/layout.py clustering with log-level zone-map skipping
    that the per-layout stats queries (zorder_cluster_stats,
    lake_hilbert_cluster_stats) measure only half of. Each layout
    splits orders into 64 files (top-6 curve bits; rid%64 for the
    scatter baseline); a file is opened iff its (custkey, orderday)
    bounding box intersects a ~5%x5% box query; rows_in_box is
    layout-invariant, proving all three answer identically — they
    differ ONLY in files opened. Curve arithmetic is the shared
    generated SQL (scale/interleave/masked-xy2d), so every count is
    pinned cross-engine; the physical read path is
    lakelog.read_snapshot_pruned_2d, test-pinned to agree with this
    relational census (tests/test_layout.py).

    At 100 TB this is THE layout decision measurement: scatter scans
    everything; a space-filling-curve OPTIMIZE turns the box query
    into O(intersecting files). PLANS.md records which curve wins at
    which selectivity."""
    from etl_lens_spark.operators import layout as _lay

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("rid"),
        F.col("o_custkey").cast("long").alias("xk"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("yk"),
    )
    shift = 2 * _ZBITS - 6
    hb = _lay.with_hilbert_value(o, "xk", "yk", bits=_ZBITS).select(
        F.expr(f"hval >> {shift}").alias("bucket"), "xk", "yk"
    )
    zb = _lay.with_zvalue(o, "xk", "yk", bits=_ZBITS).select(
        F.expr(f"zval >> {shift}").alias("bucket"), "xk", "yk"
    )
    kb = o.select((F.col("rid") % 64).alias("bucket"), "xk", "yk")

    def boxes(df, name):
        return df.groupBy("bucket").agg(
            F.min("xk").alias("mnx"),
            F.max("xk").alias("mxx"),
            F.min("yk").alias("mny"),
            F.max("yk").alias("mxy"),
        ).select(F.lit(name).alias("layout"), "*")

    allb = (
        boxes(hb, "hilbert")
        .unionByName(boxes(zb, "zorder"))
        .unionByName(boxes(kb, "scatter"))
    )
    bounds = o.agg(
        F.min("xk").alias("xlo"),
        F.max("xk").alias("xhi"),
        F.min("yk").alias("ylo"),
        F.max("yk").alias("yhi"),
    )
    qbox = bounds.select(
        (F.col("xlo") + ((F.col("xhi") - F.col("xlo")) * 25) / 100)
        .cast("long")
        .alias("qxlo"),
        (F.col("xlo") + ((F.col("xhi") - F.col("xlo")) * 30) / 100)
        .cast("long")
        .alias("qxhi"),
        (F.col("ylo") + ((F.col("yhi") - F.col("ylo")) * 25) / 100)
        .cast("long")
        .alias("qylo"),
        (F.col("ylo") + ((F.col("yhi") - F.col("ylo")) * 30) / 100)
        .cast("long")
        .alias("qyhi"),
    )
    scan = (
        allb.crossJoin(F.broadcast(qbox))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(
                F.when(
                    (F.col("mxx") < F.col("qxlo"))
                    | (F.col("mnx") > F.col("qxhi"))
                    | (F.col("mxy") < F.col("qylo"))
                    | (F.col("mny") > F.col("qyhi")),
                    0,
                ).otherwise(1)
            )
            .cast("long")
            .alias("files_scanned"),
        )
    )
    inbox = (
        o.crossJoin(F.broadcast(qbox))
        .filter(
            F.col("xk").between(F.col("qxlo"), F.col("qxhi"))
            & F.col("yk").between(F.col("qylo"), F.col("qyhi"))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("rows_in_box"))
    )
    return (
        scan.crossJoin(F.broadcast(inbox))
        .select("layout", "n_files", "files_scanned", "rows_in_box")
        .orderBy("layout")
    )


@query(
    "lake_concurrent_writers",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey % 4 AS bucket, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    del_a AS (SELECT * FROM base
              WHERE bucket = 0 AND o_orderpriority = '1-URGENT'),
    del_b AS (SELECT * FROM base
              WHERE bucket = 2 AND o_orderpriority = '5-LOW'),
    del_c AS (SELECT * FROM base
              WHERE bucket = 0 AND o_orderpriority = '2-HIGH'),
    fin AS (
      SELECT * FROM base
      WHERE NOT (bucket = 0 AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
        AND NOT (bucket = 2 AND o_orderpriority = '5-LOW')
    )
    SELECT CAST(1 AS BIGINT) AS version_a,
           CAST(2 AS BIGINT) AS version_b,
           CAST(1 AS BIGINT) AS b_rebased_over,
           CAST(1 AS BIGINT) AS conflicts_detected,
           CAST(3 AS BIGINT) AS version_c_after_retry,
           CAST((SELECT COUNT(*) FROM del_a) AS BIGINT) AS n_del_a,
           CAST((SELECT COUNT(*) FROM del_b) AS BIGINT) AS n_del_b,
           CAST((SELECT COUNT(*) FROM del_c) AS BIGINT) AS n_del_c,
           CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_rows_final,
           CAST((SELECT SUM(cents) FROM fin) AS BIGINT) AS cents_final
    """,
)
def lake_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent writers under optimistic concurrency — the Delta
    commit protocol exercised end to end (lakelog.try_commit_rebase):
    three transactions all prepare against version 0 of a 4-bucket
    table. Writer A deletes urgent orders from bucket 0 and commits
    first (v1). Writer B deletes low-priority orders from bucket 2 —
    its files are DISJOINT from A's, so its stale commit REBASES
    cleanly to v2 with no recompute (b_rebased_over = 1). Writer C
    also rewrites bucket 0: the logical check sees its base file was
    replaced by A → CommitConflict (conflicts_detected = 1), C
    re-reads the v2 snapshot, recomputes its delete against A's
    output file, and lands at v3. The final table must equal orders
    minus all three delete sets — which is exactly what the oracle
    computes analytically; any lost update, double delete, or
    phantom rebase breaks the hash.

    100 TB posture: conflict detection is O(intervening actions)
    metadata — hundreds of writers on disjoint partitions commit
    lock-free; only true same-file writers pay a recompute."""
    import os
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("lake_concurrent")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.pmod(F.col("o_custkey"), F.lit(4)).alias("bucket"),
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    for b in range(4):
        orders.filter(F.col("bucket") == b).write.mode(
            "overwrite"
        ).parquet(f"{base}/bucket{b}")
    lakelog.commit(base, 0, [{"add": f"bucket{b}"} for b in range(4)])

    def rewrite_minus(src_rel: str, out_rel: str, pred) -> int:
        df = spark.read.parquet(os.path.join(base, src_rel))
        n_del = df.filter(pred).count()
        df.filter(~pred).write.mode("overwrite").parquet(
            os.path.join(base, out_rel)
        )
        return n_del

    # all three writers prepare against v0
    n_del_a = rewrite_minus(
        "bucket0", "bucket0_a", F.col("o_orderpriority") == "1-URGENT"
    )
    n_del_b = rewrite_minus(
        "bucket2", "bucket2_b", F.col("o_orderpriority") == "5-LOW"
    )
    # C prepares its bucket0 rewrite against v0 too (doomed)
    rewrite_minus(
        "bucket0", "bucket0_c", F.col("o_orderpriority") == "2-HIGH"
    )
    ra = lakelog.try_commit_rebase(
        base, 0, [{"remove": "bucket0"}, {"add": "bucket0_a"}]
    )
    rb = lakelog.try_commit_rebase(
        base, 0, [{"remove": "bucket2"}, {"add": "bucket2_b"}]
    )
    conflicts = 0
    try:
        lakelog.try_commit_rebase(
            base, 0, [{"remove": "bucket0"}, {"add": "bucket0_c"}]
        )
    except lakelog.CommitConflict:
        conflicts = 1
    # C retries: re-read the current snapshot, recompute vs A's file
    head = lakelog.latest_version(base)
    n_del_c = rewrite_minus(
        "bucket0_a", "bucket0_c2", F.col("o_orderpriority") == "2-HIGH"
    )
    rc = lakelog.try_commit_rebase(
        base, head, [{"remove": "bucket0_a"}, {"add": "bucket0_c2"}]
    )
    fin = lakelog.read_snapshot(spark, base)
    agg = fin.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_final"),
        F.sum("cents").cast("long").alias("cents_final"),
    ).first()
    return spark.createDataFrame(
        [
            (
                ra["version"],
                rb["version"],
                rb["n_rebased"],
                conflicts,
                rc["version"],
                n_del_a,
                n_del_b,
                n_del_c,
                agg["n_rows_final"],
                agg["cents_final"],
            )
        ],
        "version_a long, version_b long, b_rebased_over long, "
        "conflicts_detected long, version_c_after_retry long, "
        "n_del_a long, n_del_b long, n_del_c long, "
        "n_rows_final long, cents_final long",
    )


@query(
    "lake_shallow_clone",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey % 4 AS bucket, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    clone_after AS (
      SELECT * FROM base WHERE o_orderpriority <> '1-URGENT'
    )
    SELECT CAST(4 AS BIGINT) AS n_files_referenced,
           CAST(0 AS BIGINT) AS bytes_copied_at_clone,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS src_rows,
           CAST((SELECT SUM(cents) FROM base) AS BIGINT) AS src_cents,
           CAST((SELECT COUNT(*) FROM clone_after) AS BIGINT)
             AS clone_rows_after_delete,
           CAST((SELECT SUM(cents) FROM clone_after) AS BIGINT)
             AS clone_cents_after_delete,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT)
             AS src_rows_after_delete
    """,
)
def lake_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table clone + independent evolution
    (lakelog.shallow_clone): the clone's v0 references the source's
    4 bucket files by relative path — bytes_copied_at_clone is
    literally zero, asserted by construction (the clone directory
    contains only _log before the delete). A copy-on-write DELETE
    then runs IN THE CLONE (delete_where — exercising the
    cross-table-aware file-identity resolution): the rewrite lands
    in the clone's directory, the reference to the shared file is
    dropped, and the SOURCE still reads back byte-identical — the
    oracle pins all three row/cents sets analytically, so any
    write-through to the source or lost clone delete breaks the
    hash.

    100 TB: clone = O(files) metadata; experiment branches and
    dev/test copies are instant and isolated, paying only for the
    files they subsequently rewrite."""
    import os
    import shutil

    from etl_lens_spark.operators import lakelog

    src = sinks.scratch_path("lake_clone_src")
    dst = sinks.scratch_path("lake_clone_dst")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.pmod(F.col("o_custkey"), F.lit(4)).alias("bucket"),
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    for b in range(4):
        orders.filter(F.col("bucket") == b).write.mode(
            "overwrite"
        ).parquet(f"{src}/bucket{b}")
    lakelog.commit(src, 0, [{"add": f"bucket{b}"} for b in range(4)])
    stats = lakelog.shallow_clone(src, dst)
    # zero-copy pin: the clone dir holds ONLY the log at this point
    data_dirs = [
        e
        for e in os.listdir(dst)
        if e != "_log" and os.path.isdir(os.path.join(dst, e))
    ]
    assert data_dirs == [], data_dirs
    src_before = lakelog.read_snapshot(spark, src).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c"),
    ).first()
    lakelog.delete_where(
        spark, dst, F.col("o_orderpriority") == "1-URGENT"
    )
    clone_after = lakelog.read_snapshot(spark, dst).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c"),
    ).first()
    src_after = lakelog.read_snapshot(spark, src).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).first()
    assert src_after["n"] == src_before["n"]  # isolation
    return spark.createDataFrame(
        [
            (
                stats["n_files_referenced"],
                0,
                src_before["n"],
                src_before["c"],
                clone_after["n"],
                clone_after["c"],
                src_after["n"],
            )
        ],
        "n_files_referenced long, bytes_copied_at_clone long, "
        "src_rows long, src_cents long, clone_rows_after_delete long, "
        "clone_cents_after_delete long, src_rows_after_delete long",
    )


@query(
    "lake_change_feed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey % 4 AS bucket,
             o_orderpriority AS pri,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    feed AS (
      -- an inserted row that the later DELETE removes is absent
      -- from BOTH endpoint snapshots: no feed row (the v0->v2 diff
      -- semantics — intermediate churn collapses)
      SELECT 'insert' AS _change_type,
             k + 1000000000 AS k, cents + 7 AS cents
      FROM base
      WHERE k % 101 = 0
        AND NOT (pri = '5-LOW' AND bucket = 3
                 AND (k + 1000000000) % 97 <> 0)
      UNION ALL
      SELECT 'update_preimage', k, cents
      FROM base WHERE k % 97 = 0
      UNION ALL
      SELECT 'update_postimage', k, cents + 500
      FROM base WHERE k % 97 = 0
      UNION ALL
      SELECT 'delete', k, cents
      FROM base
      WHERE pri = '5-LOW' AND bucket = 3 AND k % 97 <> 0
    )
    SELECT _change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM feed
    GROUP BY _change_type
    ORDER BY _change_type
    """,
)
def lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change data feed between table versions
    (lakelog.change_feed — the Delta `table_changes` read, the
    PRODUCER dual of apply_cdc): version 1 = MERGE that updates
    every 97th order (+500 cents) and inserts shifted copies of
    every 101st; version 2 = copy-on-write DELETE of low-priority
    bucket-3 orders. The feed v0→v2 labels each changed row
    insert / delete / update_preimage / update_postimage; the query
    folds it to per-type counts + key/cents checksums, which the
    oracle derives analytically from the same deterministic
    predicates — a misclassified, lost, or double-counted change
    breaks the hash. (Updated-then-deleted rows classify as updates
    against v0's image iff they survive — the k%97 carve-out in the
    delete set mirrors MERGE-before-DELETE ordering.)

    100 TB: one key-partitioned full-outer join of two PRUNED
    snapshots (the log bounds both reads to files touched between
    the versions); updates explode into pre/post pairs row-locally."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base_dir = sinks.scratch_path("lake_cdf")
    shutil.rmtree(base_dir, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.pmod(F.col("o_custkey"), F.lit(4)).alias("bucket"),
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    for b in range(4):
        orders.filter(F.col("bucket") == b).write.mode(
            "overwrite"
        ).parquet(f"{base_dir}/bucket{b}")
    lakelog.commit(
        base_dir, 0, [{"add": f"bucket{b}"} for b in range(4)]
    )
    updates = orders.filter(F.col("k") % 97 == 0).withColumn(
        "cents", F.col("cents") + 500
    )
    inserts = orders.filter(F.col("k") % 101 == 0).select(
        (F.col("k") + 1_000_000_000).alias("k"),
        "bucket",
        "pri",
        (F.col("cents") + 7).alias("cents"),
    )
    lakelog.merge_upsert(
        spark, base_dir, updates.unionByName(inserts), ["k"]
    )
    lakelog.delete_where(
        spark,
        base_dir,
        (F.col("pri") == "5-LOW")
        & (F.col("bucket") == 3)
        & (F.col("k") % 97 != 0),
    )
    feed = lakelog.change_feed(spark, base_dir, ["k"], 0, 2)
    return (
        feed.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("_change_type")
    )


@query(
    "lake_log_checkpoint",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey % 12 AS shard,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    fin AS (SELECT * FROM base WHERE shard <> 0)
    SELECT CAST(12 AS BIGINT) AS n_commits,
           CAST(9 AS BIGINT) AS checkpoint_version,
           CAST(10 AS BIGINT) AS replay_start,
           CAST(2 AS BIGINT) AS n_commits_replayed,
           CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(cents) FROM fin) AS BIGINT) AS cents_sum
    """,
)
def lake_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log checkpointing (lakelog.write_checkpoint — the Delta
    checkpoint-parquet mechanism): 12 shard-append commits build the
    table, commit 11 also DELETES shard 0 (so the checkpointed state
    is not append-only), a checkpoint lands at version 9, and the
    final read provably replays only commits 10..12 (replay_start /
    n_commits_replayed come from the reader itself) while producing
    the exact same rows as a full replay — the oracle pins the
    content analytically. Without checkpoints a streaming table's
    log replay is O(commits since creation) — 10⁵ file opens per
    read after weeks of micro-batches; with them it is O(commits
    since last checkpoint). Metadata-only: no data file is read or
    written by the checkpoint itself."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("lake_ckpt")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.pmod(F.col("o_custkey"), F.lit(12)).alias("shard"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    for v in range(11):
        orders.filter(F.col("shard") == v).write.mode(
            "overwrite"
        ).parquet(f"{base}/shard{v}")
        lakelog.commit(base, v, [{"add": f"shard{v}"}])
    ck = lakelog.write_checkpoint(base, 9)
    assert ck["version"] == 9 and ck["n_active_files"] == 10
    # commit 11: append the last shard AND drop shard 0
    orders.filter(F.col("shard") == 11).write.mode(
        "overwrite"
    ).parquet(f"{base}/shard11")
    lakelog.commit(
        base, 11, [{"add": "shard11"}, {"remove": "shard0"}]
    )
    active, start, n_replayed = lakelog._replay(
        base, lakelog.latest_version(base)
    )
    agg = lakelog.read_snapshot(spark, base).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c"),
    ).first()
    return spark.createDataFrame(
        [(12, ck["version"], start, n_replayed, agg["n"], agg["c"])],
        "n_commits long, checkpoint_version long, replay_start long, "
        "n_commits_replayed long, n_rows long, cents_sum long",
    )


@query(
    "lake_wap_publish",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    snap AS (
      SELECT 0 AS version, k, price FROM v0
      UNION ALL
      SELECT 1, k, price FROM v0
      UNION ALL
      SELECT 1, k + 200000000, price FROM v0 WHERE k % 20 = 5
    ),
    bv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS bad_violations
      FROM v0 WHERE k % 20 = 9
    )
    SELECT CAST(version AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(price * 100) AS BIGINT) AS cents_sum,
           CAST(SUM(CASE WHEN k >= 300000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS bad_visible_rows,
           bv.bad_violations,
           CAST(0 AS BIGINT) AS good_violations,
           CAST(1 AS INT) AS published_version,
           CAST(0 AS BIGINT) AS n_rebased
    FROM snap CROSS JOIN bv
    GROUP BY version, bv.bad_violations
    ORDER BY version
    """,
)
def lake_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on the lake log (VERDICT r6 item 4) — the
    Iceberg/Delta ingestion gate every production lakehouse uses:

    1. a BAD batch (negative prices, keys >= 3e8) is written and
       STAGED (lakelog.stage) — its actions live outside the numbered
       commit sequence, so no main reader at any version can see it;
    2. the DQ audit (nonpos-price / null-key conditional aggregate,
       the dq_validation_report contract) runs against the staged
       snapshot (read_staged_snapshot = head + staged actions),
       counts violations > 0, and the batch is ABORTED with its data
       files vacuumed;
    3. a GOOD batch (every 20th order re-keyed +2e8) stages, audits
       clean, and PUBLISHES atomically through the
       optimistic-concurrency path (publish_staged → try_commit_rebase).

    The in-output pins: per-version row/key/cents checksums of the
    main log (v0 = original, v1 = original + good batch, nothing
    else), bad_visible_rows = 0 summed over EVERY version — the bad
    batch provably never reached any main-branch reader — and the two
    audit counts. The oracle reconstructs all of it relationally."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    base = sinks.scratch_path("lake_wap")
    shutil.rmtree(base, ignore_errors=True)
    orders.write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])

    def audit_violations(df) -> int:
        # the dq_validation_report single-scan contract: every rule
        # is a conditional sum in ONE pass over the staged snapshot
        return df.agg(
            F.sum(
                F.when(
                    (F.col("price") <= 0) | F.col("k").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("v")
        ).collect()[0]["v"]

    # -- batch 1: BAD (audit must block it) --
    orders.filter(F.col("k") % 20 == 9).select(
        (F.col("k") + 300000000).alias("k"),
        F.lit("-1.00").cast("decimal(18,2)").alias("price"),
    ).write.parquet(f"{base}/ingest_bad")
    lakelog.stage(base, "bad", [{"add": "ingest_bad"}])
    bad_viol = audit_violations(
        lakelog.read_staged_snapshot(spark, base, "bad")
    )
    if bad_viol > 0:
        lakelog.abort_staged(base, "bad", remove_data=True)
    else:  # pragma: no cover - the gate must trip on this fixture
        lakelog.publish_staged(base, "bad")

    # -- batch 2: GOOD (audit passes, batch publishes) --
    orders.filter(F.col("k") % 20 == 5).select(
        (F.col("k") + 200000000).alias("k"), "price"
    ).write.parquet(f"{base}/ingest_good")
    lakelog.stage(base, "good", [{"add": "ingest_good"}])
    good_viol = audit_violations(
        lakelog.read_staged_snapshot(spark, base, "good")
    )
    if good_viol == 0:
        pub = lakelog.publish_staged(base, "good")
    else:  # pragma: no cover - fixture prices are all positive
        lakelog.abort_staged(base, "good", remove_data=True)
        pub = {"version": -1, "n_rebased": -1}

    # -- verification sweep over EVERY main-log version --
    parts = []
    for v in range(lakelog.latest_version(base) + 1):
        parts.append(
            lakelog.read_snapshot(spark, base, v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("k").cast("long").alias("key_sum"),
                F.sum(F.col("price") * 100).cast("long").alias("cents_sum"),
                F.sum(F.when(F.col("k") >= 300000000, 1).otherwise(0))
                .cast("long")
                .alias("bad_visible_rows"),
            ).withColumn("version", F.lit(v).cast("int"))
        )
    per = parts[0]
    for p in parts[1:]:
        per = per.unionByName(p)
    out = per.select(
        "version",
        "n_rows",
        "key_sum",
        "cents_sum",
        "bad_visible_rows",
        F.lit(bad_viol).cast("long").alias("bad_violations"),
        F.lit(good_viol).cast("long").alias("good_violations"),
        F.lit(pub["version"]).cast("int").alias("published_version"),
        F.lit(pub["n_rebased"]).cast("long").alias("n_rebased"),
    ).orderBy("version")
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_partition_evolution",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_orderdate AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    oldb AS (  -- year-partition files of the pre-evolution era
      SELECT DISTINCT year(d) AS y FROM o WHERE d < DATE '1998-01-01'
    ),
    newb AS (  -- month-partition files written under the new spec
      SELECT DISTINCT year(d) * 12 + month(d) - 1 AS m
      FROM o WHERE d >= DATE '1998-01-01'
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM oldb)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM newb)
               AS n_files_total,
             -- year file [y, y+1) overlaps [1997-06-01, 1998-09-01)
             (SELECT CAST(COUNT(*) AS BIGINT) FROM oldb
              WHERE y >= 1997 AND y <= 1998) AS opened_old_spec,
             -- month file overlaps iff 1997-06 <= m <= 1998-08
             (SELECT CAST(COUNT(*) AS BIGINT) FROM newb
              WHERE m >= 1997 * 12 + 5 AND m <= 1998 * 12 + 7)
               AS opened_new_spec
    ),
    res AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(k) AS BIGINT) AS key_sum,
             CAST(SUM(cents) AS BIGINT) AS cents_sum
      FROM o
      WHERE d >= DATE '1997-06-01' AND d < DATE '1998-09-01'
    )
    SELECT n_files_total, opened_old_spec, opened_new_spec,
           n_files_total - opened_old_spec - opened_new_spec
             AS n_pruned,
           CAST(0 AS BIGINT) AS n_unprunable,
           n_rows, key_sum, cents_sum
    FROM counts, res
    """,
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION with hidden partitioning (VERDICT r6
    item 7) — the Iceberg capability Delta lacks: the partition
    layout is table METADATA (a transform over a source column), and
    it can change between versions with old files still readable and
    pruned under the spec they were written with.

    v0 commits pre-1998 orders laid out by YEAR(o_orderdate) under
    spec 1; v1 declares spec 2 = MONTH and lands the 1998+ era under
    it. A [1997-06-01, 1998-09-01) date predicate — which never
    names a partition — then prunes each era under its OWN spec:
    exactly one year-file and eight month-files open, everything
    else is skipped by pure driver-side metadata interval tests
    (lakelog.prune_date_range, zero file opens). The opened/pruned
    counts are emitted alongside the row/key/cents aggregates of the
    pruned-then-filtered scan; the oracle reconstructs BOTH the file
    arithmetic (distinct years/months in each era overlapping the
    predicate) and the data aggregates from a full scan — a hash
    match proves the pruning opened every file it had to (no missing
    rows) and the counts prove it opened nothing else."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    base = sinks.scratch_path("lake_partevo")
    shutil.rmtree(base, ignore_errors=True)
    split = F.lit("1998-01-01").cast("date")
    adds0 = lakelog.write_hidden_partitioned(
        spark, orders.filter(F.col("d") < split), base, "era_year",
        spec_id=1, source_col="d", transform="year",
    )
    lakelog.commit(base, 0, [lakelog.spec_action(1, "d", "year"), *adds0])
    adds1 = lakelog.write_hidden_partitioned(
        spark, orders.filter(F.col("d") >= split), base, "era_month",
        spec_id=2, source_col="d", transform="month",
    )
    lakelog.commit(base, 1, [lakelog.spec_action(2, "d", "month"), *adds1])

    df, stats = lakelog.read_hidden_pruned(
        spark, base, "1997-06-01", "1998-09-01"
    )
    res = df.filter(
        (F.col("d") >= F.lit("1997-06-01").cast("date"))
        & (F.col("d") < F.lit("1998-09-01").cast("date"))
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("key_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
    n_total = len(adds0) + len(adds1)
    n_opened = len(stats["open_rels"])
    out = res.select(
        F.lit(n_total).cast("long").alias("n_files_total"),
        F.lit(stats["opened_by_spec"].get(1, 0))
        .cast("long")
        .alias("opened_old_spec"),
        F.lit(stats["opened_by_spec"].get(2, 0))
        .cast("long")
        .alias("opened_new_spec"),
        F.lit(n_total - n_opened).cast("long").alias("n_pruned"),
        F.lit(stats["n_unprunable"]).cast("long").alias("n_unprunable"),
        "n_rows",
        "key_sum",
        "cents_sum",
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_deletion_vectors",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    states(version, n_dv_files) AS (
      VALUES (0, 0), (1, 1), (2, 1), (3, 0)
    )
    SELECT s.version, s.n_dv_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o.k) AS BIGINT) AS key_sum,
           CAST(SUM(o.cents) AS BIGINT) AS cents_sum,
           CAST(0 AS BIGINT) AS data_files_rewritten_by_mor
    FROM states s JOIN o
      ON (s.version = 0)
         OR (s.version = 1 AND o.k % 8 <> 3)
         OR (s.version >= 2 AND o.k % 8 <> 3 AND o.k % 8 <> 7)
    GROUP BY s.version, s.n_dv_files
    ORDER BY s.version
    """,
)
def lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE via deletion vectors — the Delta DV /
    Iceberg v2 position-delete capability, completing the DML family:
    where delete_where (CoW) rewrites every touched file,
    delete_where_mor only RECORDS the dead rows' (physical file, row
    position) pairs in a sidecar and re-points the file's add action
    at it. Two sequential deletes (keys %8==3, then %8==7 — both
    clustered in the same mod-4 file) union into ONE vector on one
    file; materialize_deletion_vectors (OPTIMIZE/REORG-PURGE) then
    rewrites the file clean and drops the vector.

    The no-rewrite pin is PHYSICAL: every data part-file's
    (path, size) inventory is snapshotted before the first MOR delete
    and after the second — identical, so
    data_files_rewritten_by_mor = 0 by observation, not assertion.
    Every version stays time-travel readable through
    read_snapshot (v1 applies the first vector, v2 the union,
    v3 the clean rewrite); the oracle replays each version's
    predicate algebra. At 100 TB this is what makes a 10-row GDPR
    delete on a 1 GB file an O(10) metadata commit, with the
    stats-only fast path refusing stale DV'd files (guard pinned in
    tests)."""
    import os
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _lake_build_mod4(spark, sf_dir, "lake_dv")

    def inventory():
        inv = {}
        for root, _dirs, files in os.walk(base):
            if "_log" in root or "_dv" in root:
                continue
            for fn in files:
                p = os.path.join(root, fn)
                inv[os.path.relpath(p, base)] = os.path.getsize(p)
        return inv

    before = inventory()
    d1 = lakelog.delete_where_mor(
        spark, base, F.col("o_orderkey") % 8 == 3
    )
    d2 = lakelog.delete_where_mor(
        spark, base, F.col("o_orderkey") % 8 == 7
    )
    rewritten = 0 if inventory() == before else 1
    assert d1["n_files_touched"] == 1 and d2["n_files_touched"] == 1
    lakelog.materialize_deletion_vectors(spark, base)

    parts = []
    for v in range(lakelog.latest_version(base) + 1):
        active = lakelog.snapshot_actions(base, v)
        n_dv = sum(1 for a in active.values() if a.get("dv"))
        parts.append(
            lakelog.read_snapshot(spark, base, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.col("price") * 100).cast("long").alias("cents_sum"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(n_dv).cast("int").alias("n_dv_files"),
                "n_rows",
                "key_sum",
                "cents_sum",
                F.lit(rewritten).cast("long").alias(
                    "data_files_rewritten_by_mor"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.orderBy("version")
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
