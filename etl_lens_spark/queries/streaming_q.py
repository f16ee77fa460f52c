"""Declared queries that execute through the Structured Streaming
engine (file-source replay → memory sink → batch result).

These are genuinely oracle-checked streaming runs: in complete output
mode a full replay must equal the batch computation, so the DuckDB
oracle that validates the batch semantics validates the streaming
engine too. (The driver just sees a DataFrame.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.streaming import stream_ops as so


@query(
    "streaming_tumbling_live",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
    headline=True,
)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts through the live streaming engine;
    complete-mode replay == batch == oracle."""
    stream = so.tumbling_window_counts(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_tumbling", output_mode="complete")
    return out.orderBy("win_start", "event_type")


@query(
    "streaming_sessions_live",
    oracle="""
    WITH gaps AS (
        SELECT user_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                     OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ),
    sess AS (
        SELECT user_id, ts_us, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """,
)
def streaming_sessions_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows through the live streaming engine
    (``F.session_window``), oracle = batch lag+cumsum sessionization.
    Session identity is (user, first-event time); the oracle rebuilds
    the same sessions relationally."""
    stream = so.session_window_stats(
        so.events_stream(spark, sf_dir), gap="30 minutes"
    )
    out = so.run_to_memory(stream, "q_stream_sessions", output_mode="complete")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
        "total_value",
    ).orderBy("user_id", "session_start_us")


@query(
    "streaming_stateful_totals_live",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(epoch_us(ts)) AS first_us,
           MAX(epoch_us(ts)) AS last_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_totals_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running totals held in the state store. Update-mode sink
    emits one row per key per micro-batch; the final state per key
    (selected with ``max_by`` on the monotone event count) must equal
    the batch aggregate the oracle computes."""
    stream = so.user_totals_stateful(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_stateful", output_mode="update")
    final = F.max_by(
        F.struct("total_value", "first_us", "last_us"), "n_events"
    ).alias("s")
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), final)
        .select("user_id", "n_events", "s.total_value", "s.first_us", "s.last_us")
        .orderBy("user_id")
    )


@query(
    "streaming_join_live",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS click_us
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) <= epoch_us(p.ts)
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ORDER BY purchase_id, click_id
    """,
)
def streaming_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the live engine
    (purchase↔click attribution with watermark-bounded state); full
    replay must produce exactly the batch interval self-join the
    oracle computes."""
    stream = so.stream_stream_attribution_join(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_join", output_mode="append")
    return out.orderBy("purchase_id", "click_id")


@query(
    "streaming_static_enrich_live",
    oracle="""
    WITH dim AS (
        SELECT user_id AS d_user, COUNT(*) AS user_total
        FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(d.user_total) AS BIGINT) AS weight
    FROM events e JOIN dim d ON e.user_id = d.d_user
    WHERE e.user_id < 30
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def streaming_static_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming event flow enriched against a
    static (batch) dimension — the broadcast-dimension pattern for
    live pipelines (no state needed on the static side; each
    micro-batch joins against the table as-of execution). Aggregated
    in complete mode so full replay equals the batch join the oracle
    runs."""
    from etl_lens_spark.sources.tables import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("d_user"))
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    ev = so.events_stream(spark, sf_dir).filter(F.col("user_id") < 30)
    enriched = ev.join(
        F.broadcast(dim), ev.user_id == dim.d_user
    )
    agg = enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_total").cast("long").alias("weight"),
    )
    out = so.run_to_memory(agg, "q_stream_enrich", output_mode="complete")
    return out.orderBy("event_type")


@query(
    "streaming_dedup_live",
    oracle="""
    SELECT DISTINCT event_type, user_id
    FROM events
    ORDER BY event_type, user_id
    """,
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup
    (``dropDuplicatesWithinWatermark``) — the live analog of the
    catalog's first-seen semantics (R2, ``src/main.cpp:256-259``).
    Which physical row survives per key is arrival-order-dependent, so
    the declared result projects only the key columns (deterministic);
    first-seen *row* semantics are batch-checked in
    ``r_first_seen_dedup``."""
    stream = so.stateful_dedup(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_dedup", output_mode="append")
    return out.select("event_type", "user_id").orderBy("event_type", "user_id")


@query(
    "streaming_latest_state_live",
    oracle="""
    WITH r AS (
        SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
               CAST(value AS DOUBLE) AS last_value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC,
                                           event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, last_us, last_event_id, last_value
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
)
def streaming_latest_state_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert state: the latest-value-per-key view
    maintained live over the replayed event stream (update mode —
    only changed keys re-emit per micro-batch). The final emission per
    key must equal the batch "last row by (ts, id)" the oracle
    computes; selecting it from the update log is itself a max_by on
    the monotone last_us."""
    stream = so.user_latest_value(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_latest", output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("last_us", "last_event_id", "last_value"),
                F.struct("last_us", "last_event_id"),
            ).alias("s")
        )
        .select("user_id", "s.last_us", "s.last_event_id", "s.last_value")
        .orderBy("user_id")
    )


@query(
    "streaming_sliding_live",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                - k * INTERVAL '15 minutes' AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n
    FROM events, unnest([0, 1, 2, 3]) AS t(k)
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows through the live engine — 1-hour
    windows every 15 minutes, each event feeding exactly 4 windows.
    Complete-mode replay must equal the batch expansion the oracle
    builds explicitly (each event cross-joined to its 4 window
    starts) — pinning Spark's window-assignment arithmetic, not just
    the aggregation."""
    stream = so.sliding_window_counts(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_sliding", output_mode="complete")
    return out.orderBy("win_start", "event_type")


@query(
    "streaming_debounce_live",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    lagged AS (
      SELECT user_id, event_type, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts_us, event_id) AS prev_us
      FROM ev
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_us IS NULL
                         OR ts_us - prev_us > 600000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM lagged
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def streaming_debounce_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stateful debounce (custom ``applyInPandasWithState``
    rate-limiter, the streaming twin of the batch ``events_debounce``)
    — final per-key state after replay must equal the batch lag-based
    kept-vs-total counts the oracle computes."""
    stream = so.debounce_stateful(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_debounce", output_mode="update")
    return (
        out.groupBy("user_id", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("n_kept", "n_events").alias("n_kept"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "streaming_scd2_enrich_live",
    oracle="""
    WITH day1 AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS dt,
             MIN(o_orderpriority) AS attr
      FROM orders GROUP BY 1, 2
    ),
    marked AS (
      SELECT custkey, dt, attr,
             CASE WHEN attr = LAG(attr) OVER w THEN 0 ELSE 1 END AS chg
      FROM day1 WINDOW w AS (PARTITION BY custkey ORDER BY dt)
    ),
    runs AS (
      SELECT custkey, dt, attr,
             SUM(chg) OVER (PARTITION BY custkey ORDER BY dt
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    hist AS (
      SELECT custkey, attr, CAST(run_id AS BIGINT) AS version,
             MIN(dt) AS valid_from
      FROM runs GROUP BY custkey, attr, run_id
    ),
    iv AS (
      SELECT custkey, version, attr, valid_from,
             LEAD(valid_from) OVER (PARTITION BY custkey
                                    ORDER BY version) AS valid_to
      FROM hist
    )
    SELECT e.event_id, e.user_id AS custkey,
           DATE '1995-01-01' + CAST(e.event_id % 2400 AS INTEGER)
             AS probe_day,
           iv.attr AS attr_at, iv.version
    FROM events e
    LEFT JOIN iv
      ON iv.custkey = e.user_id
     AND DATE '1995-01-01' + CAST(e.event_id % 2400 AS INTEGER)
           >= iv.valid_from
     AND (iv.valid_to IS NULL
          OR DATE '1995-01-01' + CAST(e.event_id % 2400 AS INTEGER)
               < iv.valid_to)
    ORDER BY e.event_id
    """,
)
def streaming_scd2_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time dimension enrichment: the live event
    stream joins the SCD2 priority history (a STATIC frame, broadcast
    to every micro-batch) picking the version whose validity interval
    covers each event's probe day — the streaming twin of the batch
    ``scd2_point_in_time_join`` (which resolves the same contract as
    a union-asof fill; here the stream-static interval join is the
    right shape because the dimension is small and static per batch).
    Left outer keeps pre-history events with NULL attribution. Must
    equal the batch interval join the oracle runs."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    day1 = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("dt"),
    ).agg(F.min("o_orderpriority").alias("attr"))
    w = Window.partitionBy("custkey").orderBy("dt")
    runs = day1.withColumn(
        "chg",
        F.when(F.col("attr") == F.lag("attr").over(w), F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy("custkey", "attr", "version").agg(
        F.min("dt").alias("valid_from")
    )
    iv = hist.select(
        F.col("custkey").alias("d_custkey"),
        F.col("version").cast("long").alias("version"),
        F.col("attr").alias("attr_at"),
        "valid_from",
        F.lead("valid_from")
        .over(Window.partitionBy("custkey").orderBy("version"))
        .alias("valid_to"),
    )
    stream = so.events_stream(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("custkey"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            (F.col("event_id") % 2400).cast("int"),
        ).alias("probe_day"),
    )
    cond = (
        (stream.custkey == iv.d_custkey)
        & (stream.probe_day >= iv.valid_from)
        & (iv.valid_to.isNull() | (stream.probe_day < iv.valid_to))
    )
    enriched = stream.join(F.broadcast(iv), cond, "left_outer").select(
        "event_id", "custkey", "probe_day", "attr_at", "version"
    )
    out = so.run_to_memory(enriched, "q_stream_scd2", output_mode="append")
    return out.orderBy("event_id")


@query(
    "streaming_late_drop_live",
    oracle="""
    WITH base AS (
        SELECT ts, event_type, CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE event_id < 3000
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM base)
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM base, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def streaming_late_drop_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, PROVEN by crafted multi-file replay
    (VERDICT r3 #5 / SURVEY §8): micro-batch 1 processes the fixture
    slice and finalizes its windows (append mode, watermark 30 min);
    micro-batch 2 delivers ONE duplicate of the slice's earliest row
    — days below the established watermark. The oracle counts the
    slice WITHOUT the late row and keeps only windows the final
    watermark finalized; had the engine accepted the late row, a
    second emission for its (already evicted) window would appear in
    the sink and the row-count/hash comparison would fail. The oracle
    match is therefore a positive proof of the drop, not a vacuous
    agreement."""
    out = so.late_drop_replay(spark, sf_dir)
    return out.orderBy("win_start", "event_type")


@query(
    "streaming_join_outer_live",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
        FROM events WHERE event_type = 'click'
    ),
    cutoff AS (
        SELECT MAX(epoch_us(ts)) - 14400000000 AS c FROM events
    ),
    purch AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
        FROM events
        WHERE event_type = 'purchase'
          AND epoch_us(ts) <= (SELECT c FROM cutoff)
    )
    SELECT p.user_id, p.purchase_id, c.click_id,
           p.pus AS purchase_us, c.cus AS click_us
    FROM purch p
    LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.cus <= p.pus
     AND c.cus >= p.pus - 3600000000
    ORDER BY p.purchase_id, c.click_id
    """,
)
def streaming_join_outer_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join through the live
    engine: matched purchase→click attributions emit on sight,
    unmatched purchases emit their NULL row only when the watermark
    proves no matching click can ever arrive (state expiry) — the
    append-mode outer-join semantics batch users are most often
    surprised by. The left side is pre-filtered safely below every
    plausible eviction cutoff (see
    stream_ops.attribution_join_left_outer) so the emission set is
    deterministic and the batch LEFT JOIN oracle is exact: a missing
    null row means the engine failed to expire state, an extra one
    means it expired early."""
    out = so.run_to_memory(
        so.attribution_join_left_outer(spark, sf_dir),
        "q_stream_outer",
        output_mode="append",
    )
    return out.orderBy("purchase_id", "click_id")


@query(
    "streaming_join_full_outer_live",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
        FROM events WHERE event_type = 'purchase'
    ),
    cutoff AS (
        SELECT MAX(epoch_us(ts)) - 14400000000 AS c FROM events
    ),
    j AS (
        SELECT COALESCE(p.user_id, c.user_id) AS user_id,
               p.purchase_id, c.click_id,
               p.pus AS purchase_us, c.cus AS click_us
        FROM purch p
        FULL JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cus <= p.pus
         AND c.cus >= p.pus - 3600000000
    )
    SELECT user_id, purchase_id, click_id, purchase_us, click_us
    FROM j, cutoff
    WHERE COALESCE(purchase_us, 0) <= (SELECT c FROM cutoff)
      AND COALESCE(click_us, 0) <= (SELECT c FROM cutoff)
    ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST, user_id
    """,
)
def streaming_join_full_outer_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join through the live
    engine — BOTH sides' unmatched rows emit on state expiry
    (a click's state outlives a purchase's by the forward join
    window). Output restricted to rows deterministically below every
    plausible eviction cutoff; exact batch FULL JOIN oracle."""
    out = so.run_to_memory(
        so.attribution_join_full_outer(spark, sf_dir),
        "q_stream_fouter",
        output_mode="append",
    )
    return out.orderBy(
        F.asc_nulls_first("purchase_id"),
        F.asc_nulls_first("click_id"),
        "user_id",
    )


@query(
    "streaming_python_source_live",
    oracle="""
    WITH g AS (
        SELECT CAST(range AS BIGINT) AS rid,
               ('0x' || substring(md5('pyds' || CAST(range AS VARCHAR)),
                                  1, 8))::BIGINT AS h
        FROM range(0, 10000)
    )
    SELECT h % 5 AS category,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(SUM(h) AS BIGINT) AS h_sum,
           CAST(AVG(CAST(h % 1000 AS DOUBLE) / 100.0) AS DOUBLE)
             AS mean_score
    FROM g GROUP BY 1 ORDER BY category
    """,
)
def streaming_python_source_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User-defined STREAMING Python DataSource through the live
    micro-batch engine — the kafka-shaped source contract
    (latestOffset → partitions → executor-parallel read → commit,
    `sources/pyds.py::SynthTickStreamReader`) in pure Python, no
    broker needed. 10 micro-batches of 1000 deterministic ids drain
    through a complete-mode per-category aggregation; the oracle
    recomputes the identical relation from the md5 formula — so the
    hash-match proves offset planning lost and duplicated NOTHING
    across the batch boundaries (exactly-once at the source seam)."""
    from etl_lens_spark.sources.pyds import SynthTickStreamDataSource

    try:
        spark.dataSource.register(SynthTickStreamDataSource)
    except Exception:
        pass  # already registered in this session
    ticks = (
        spark.readStream.format("synth_ticks")
        .option("n_rows", 10000)
        .option("batch_rows", 1000)
        .option("n_parts", 4)
        .load()
    )
    agg = (
        ticks.groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rid").cast("long").alias("rid_sum"),
            F.sum("h").cast("long").alias("h_sum"),
            F.avg("score").alias("mean_score"),
        )
    )
    out = so.run_to_memory(agg, "q_stream_pyds", output_mode="complete")
    return out.orderBy("category")


@query(
    "streaming_checkpoint_restart_live",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_checkpoint_restart_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint recovery, proven end-to-end: the stream processes
    wave 1 of the source directory, STOPS (planned restart — deploy,
    crash, nightly window), wave 2 lands, and a NEW query object
    resumes from the SAME checkpoint. Each micro-batch commits to the
    transaction log keyed by batch_id (replay-idempotent), so the
    final log-read table hash-matching the batch aggregate over ALL
    events proves the restart neither re-processed wave 1 nor missed
    wave 2 — exactly-once across a restart, the property every
    production incremental job leans on."""
    import uuid

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources import sinks

    run = uuid.uuid4().hex[:8]
    src = sinks.scratch_path(f"ckrestart_src_{run}")
    table = sinks.scratch_path(f"ckrestart_tbl_{run}")
    ckpt = sinks.scratch_path(f"ckrestart_ckpt_{run}")

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.filter(F.col("event_id") % 2 == 0).write.parquet(f"{src}/w1")
    schema = "event_id long, event_type string, value double"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        rel = f"batch_{batch_id:05d}"
        batch_df.write.mode("overwrite").parquet(f"{table}/{rel}")
        try:
            lakelog.commit(table, int(batch_id), [{"add": rel}])
        except lakelog.CommitConflict:
            pass  # replayed batch after restart: idempotent

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()  # run 1: wave 1 only
    events.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/w2")
    drain()  # run 2: SAME checkpoint picks up only wave 2
    back = lakelog.read_snapshot(spark, table)
    agg = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .orderBy("event_type")
    )
    # materialize the tiny result, then reclaim the per-run scratch
    # (uuid-named src/table/checkpoint dirs would otherwise pile up
    # across registry/bench runs)
    import shutil

    rows = agg.collect()
    for d in (src, table, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, agg.schema)


@query(
    "streaming_pattern_burst_live",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS rn
        FROM events
    ),
    err AS (
        SELECT user_id, rn,
               rn - row_number()
                    OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM seq WHERE event_type = 'error'
    ),
    runs AS (
        SELECT user_id, COUNT(*) AS len FROM err GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE len >= 3) AS BIGINT)
               AS n_bursts,
           CAST(COALESCE(SUM(len) FILTER (WHERE len >= 3), 0)
                AS BIGINT) AS n_burst_events,
           CAST(MAX(len) AS BIGINT) AS longest
    FROM runs GROUP BY user_id
    HAVING COUNT(*) FILTER (WHERE len >= 3) >= 1
    ORDER BY user_id
    """,
)
def streaming_pattern_burst_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live CEP (streaming twin of the batch MATCH_RECOGNIZE
    error-burst query): ``applyInPandasWithState`` carries the open
    error run across micro-batch boundaries, so a burst split across
    batches is still ONE maximal run — the property a
    per-batch-window implementation gets wrong. Final replayed state
    per user (burst count, burst events, longest run) must equal the
    batch gaps-and-islands oracle including trailing unclosed
    bursts."""
    stream = so.burst_stateful(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_burst", output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_bursts").alias("n_bursts"),
            F.max("n_burst_events").alias("n_burst_events"),
            F.max("longest").alias("longest"),
        )
        .filter(F.col("n_bursts") >= 1)
        .orderBy("user_id")
    )


@query(
    "streaming_lake_merge_live",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ),
    latest AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT event_type AS last_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value,
           CAST(MAX(ts_us) AS BIGINT) AS max_us,
           1 AS n_files_final
    FROM latest GROUP BY event_type ORDER BY last_type
    """,
)
def streaming_lake_merge_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-style DML sink: every micro-batch UPSERTS its
    per-user latest event into a lakehouse table via copy-on-write
    MERGE (operators/lakelog.py::merge_upsert — replace-by-key is
    idempotent under Spark's batch replay, so exactly-once state
    without batch_id bookkeeping), then OPTIMIZE compacts the
    micro-batch file litter into one file, and the final table is
    read back THROUGH the log. The oracle computes each user's
    global latest event relationally; a hash-match proves merge
    semantics across every batch boundary AND that compaction
    changed layout, not data (n_files_final pins it)."""
    import shutil
    import uuid

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources import sinks
    from etl_lens_spark.streaming import stream_ops as so

    table = sinks.scratch_path(f"lake_merge_stream_{uuid.uuid4().hex[:8]}")

    def apply_batch(batch_df, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts_us", "event_id", "event_type", "value")
                ).alias("s")
            )
            .select(
                "user_id",
                F.col("s.ts_us").alias("last_us"),
                F.col("s.event_type").alias("last_type"),
                F.col("s.value").alias("last_value"),
            )
        )
        if lakelog.latest_version(table) < 0:
            rel = f"batch_{batch_id:05d}"
            latest.write.mode("overwrite").parquet(f"{table}/{rel}")
            try:
                lakelog.commit(table, 0, [{"add": rel}])
            except lakelog.CommitConflict:
                pass
        else:
            lakelog.merge_upsert(
                batch_df.sparkSession, table, latest, ["user_id"]
            )

    stream = (
        so.events_stream(spark, sf_dir)
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("user_id", "ts_us", "event_id", "event_type", "value")
    )
    ckpt = sinks.scratch_path(f"lake_merge_ckpt_{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    lakelog.optimize_compact(spark, table)
    n_files = len(lakelog.snapshot_files(table))
    out = (
        lakelog.read_snapshot(spark, table)
        .groupBy("last_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("last_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.max("last_us").cast("long").alias("max_us"),
        )
        .withColumn("n_files_final", F.lit(n_files).cast("int"))
        .orderBy("last_type")
    )
    rows = out.collect()
    for d in (table, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_topk_live",
    oracle="""
    WITH counts AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, user_id, n,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY n DESC, user_id
               ) AS rank,
               SUM(n) OVER (PARTITION BY event_type) AS n_total
        FROM counts
    )
    SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id,
           CAST(n AS BIGINT) AS n, CAST(n_total AS BIGINT) AS n_total
    FROM ranked WHERE rank <= 3
    ORDER BY event_type, rank
    """,
)
def streaming_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live top-k heavy hitters per event type (map-typed
    applyInPandasWithState — the exact-state member next to the
    batch CMS sketch): after full replay, the last emission per key
    (selected by the strictly-increasing n_total, no batch
    bookkeeping) must equal the batch count ranking with
    deterministic ties (count desc, user_id asc)."""
    stream = so.topk_stateful(
        so.events_stream(spark, sf_dir).select("event_type", "user_id")
    )
    from pyspark.sql import Window

    out = so.run_to_memory(stream, "q_stream_topk", output_mode="update")
    w = Window.partitionBy("event_type")
    return (
        out.withColumn("mx", F.max("n_total").over(w))
        .filter(F.col("n_total") == F.col("mx"))
        .select("event_type", "rank", "user_id", "n", "n_total")
        .orderBy("event_type", "rank")
    )


@query(
    "streaming_cusum_live",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, AVG(CAST(n AS DOUBLE)) AS mu,
               stddev_pop(CAST(n AS DOUBLE)) AS sd
        FROM hourly GROUP BY event_type
    ),
    z AS (
        SELECT h.event_type, h.h, (h.n - s.mu) / s.sd - 0.5 AS zk
        FROM hourly h JOIN stats s ON h.event_type = s.event_type
        WHERE s.sd > 0
    ),
    cum AS (
        SELECT event_type, h,
               SUM(zk) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM z
    ),
    cusum AS (
        SELECT event_type, h, c,
               c - LEAST(0.0, MIN(c) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS s_plus
        FROM cum
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(MAX(s_plus), 6) AS max_cusum,
           CAST(MIN(CASE WHEN s_plus > 5.0 THEN h END) AS BIGINT)
             AS first_alarm_hour
    FROM cusum
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_cusum_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE twin of ts_changepoint_cusum — the duality this
    streaming surface keeps demonstrating: the batch side rewrites
    the sequential CUSUM recursion into closed-form windows; the
    stream side runs the recursion AS a recursion in a map-typed
    state column (per-hour counts, bounded by the monitoring
    horizon), re-evaluating per micro-batch. After full replay the
    final emission per type (max seq) must equal the batch window
    computation — same statistic, two execution disciplines, one
    oracle."""
    stream = so.cusum_stateful(
        so.events_stream(spark, sf_dir).select("event_type", "ts")
    )
    out = so.run_to_memory(stream, "q_stream_cusum", output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    return (
        out.withColumn("mseq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("mseq"))
        .select("event_type", "n_hours", "max_cusum", "first_alarm_hour")
        .orderBy("event_type")
    )


@query(
    "streaming_session_close_live",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(value AS DOUBLE) AS v
        FROM events
    ),
    marked AS (
        SELECT user_id, us, v,
               CASE WHEN us - LAG(us) OVER (
                        PARTITION BY user_id ORDER BY us
                    ) > 1800000000 OR LAG(us) OVER (
                        PARTITION BY user_id ORDER BY us
                    ) IS NULL THEN 1 ELSE 0 END AS new_sess
        FROM e
    ),
    sess AS (
        SELECT user_id, us, v,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    ),
    agged AS (
        SELECT user_id, sid,
               MIN(us) AS start_us, MAX(us) AS end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(v), 2) AS total,
               MAX(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, start_us, end_us, n_events, total
    FROM agged WHERE sid < last_sid
    ORDER BY user_id, start_us
    """,
)
def streaming_session_close_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom sessionization through applyInPandasWithState with
    EVENT-TIME TIMEOUT — the state-hygiene corner of the stateful
    API: closed sessions emit append-mode the moment a successor
    event arrives past the gap; the registered event-time timeout
    evicts abandoned users' state once the watermark passes
    last + gap (without which a churning 100 TB stream accumulates
    state forever). The contract after full replay: exactly the
    CLOSED sessions — every session except each user's final one,
    which is still legitimately open at end-of-stream; the batch
    oracle computes gaps-and-islands sessionization and excludes
    precisely those."""
    stream = so.session_close_stateful(
        so.events_stream(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", "value")
    )
    out = so.run_to_memory(
        stream, "q_stream_sess_close", output_mode="append"
    )
    return out.select(
        "user_id", "start_us", "end_us", "n_events", "total"
    ).orderBy("user_id", "start_us")


@query(
    "streaming_rocksdb_state_live",
    oracle="""
    SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP))
                // 3600000000 AS BIGINT) AS hour_idx,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_rocksdb_state_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION state store: the same watermarked hourly
    aggregation run with ``RocksDBStateStoreProvider`` instead of
    the default in-memory HDFS-backed provider — at 100 TB the state
    of a streaming aggregation (here: per-hour-per-type counts and
    an exact distinct-user set) outgrows executor heap, and RocksDB
    is the off-heap, spill-to-disk, incremental-checkpoint answer
    Spark ships for exactly that. Full replay through the RocksDB
    provider must equal the batch aggregation bit-for-bit — same
    oracle as any other live/batch twin, proving the provider swap
    is semantically invisible (which is the point: it's a capacity
    knob, not a semantics knob). The provider conf is restored after
    the run so the rest of the registry keeps the default."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = so.events_stream(spark, sf_dir).withWatermark(
            "ts", "1 hour"
        )
        agg = (
            ev.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.size(F.collect_set("user_id"))
                .cast("long")
                .alias("n_users"),
            )
            .select(
                F.unix_micros(F.col("w.start"))
                .alias("start_us"),
                "event_type",
                "n",
                "n_users",
            )
        )
        out = so.run_to_memory(
            agg, "q_stream_rocksdb", output_mode="complete"
        )
        return (
            out.select(
                (F.col("start_us") / 3600000000)
                .cast("long")
                .alias("hour_idx"),
                "event_type",
                "n",
                "n_users",
            )
            .orderBy("hour_idx", "event_type")
        )
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


@query(
    "streaming_available_now_drain",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
             AS first_us,
           CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
             AS last_us
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_available_now_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``Trigger.AvailableNow`` — the SCHEDULED-INCREMENTAL shape
    (the other streaming execution mode, previously supported by the
    harness but never declared): instead of a resident stream, the
    job processes everything currently available — honoring source
    rate limits, checkpointing progress — then STOPS ON ITS OWN.
    This is how production runs 'streaming' pipelines from a cron:
    same code, same exactly-once bookkeeping, batch-shaped resource
    usage. The drained aggregation must equal the batch oracle —
    the execution-mode swap, like the state-store swap, has to be
    semantically invisible."""
    ev = so.events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    out = so.run_to_memory(
        agg,
        "q_stream_available_now",
        output_mode="complete",
        available_now=True,
    )
    return out.orderBy("event_type")


@query(
    "streaming_rate_limited_drain",
    oracle="""
    SELECT user_id % 16 AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY user_id % 16
    ORDER BY user_bucket
    """,
)
def streaming_rate_limited_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE RATE LIMITING (``maxFilesPerTrigger``) — the
    backpressure knob that keeps a backfill from turning into one
    giant micro-batch: the events table is re-laid as 8 files, the
    stream is capped at 2 files per trigger, and the AvailableNow
    drain therefore processes the backlog as ≥ 4 bounded
    micro-batches (batch count pinned in
    tests/test_streaming_rate.py via the sink's progress) while the
    RESULT — complete-mode aggregation after the drain — must equal
    the batch oracle exactly. Bounded batches are what make state
    checkpoints, retries, and cluster sizing predictable when a
    100 TB table enters a stream for reprocessing."""
    import shutil

    from etl_lens_spark.sources.sinks import scratch_path
    from etl_lens_spark.sources.tables import load_table as _lt

    src = scratch_path("rate_limited_events")
    shutil.rmtree(src, ignore_errors=True)
    ev_batch = _lt(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    ev_batch.repartition(8, "event_id").write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    agg = stream.groupBy(
        (F.col("user_id") % 16).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )
    out = so.run_to_memory(
        agg,
        "q_stream_rate_limited",
        output_mode="complete",
        available_now=True,
    )
    return out.orderBy("user_bucket")


@query(
    "streaming_binaryfile_media_live",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 2 + doc_id % 9 AS w, 2 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 64
    ),
    xs AS (SELECT unnest(range(0, 11)) AS x),
    ys AS (SELECT unnest(range(0, 9)) AS y),
    cs AS (SELECT unnest(range(0, 3)) AS c),
    px AS (
      SELECT d.doc_id,
             (CAST(c.c AS BIGINT) + 1)
               * ((3 * x.x + 5 * y.y + 7 * c.c + d.doc_id) % 256) AS wv
      FROM dims d
      JOIN xs x ON x.x < d.w
      JOIN ys y ON y.y < d.h
      JOIN cs c ON c.c < 3
    ),
    per_doc AS (
      SELECT d.doc_id, d.w * d.h AS n_px, SUM(p.wv) AS ck
      FROM dims d JOIN px p ON d.doc_id = p.doc_id
      GROUP BY d.doc_id, d.w, d.h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_px) AS BIGINT) AS total_pixels,
           CAST(SUM(ck) AS BIGINT) AS checksum_sum
    FROM per_doc
    """,
)
def streaming_binaryfile_media_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE media ingestion — ``binaryFile`` as a STREAMING source
    (the media-crawl shape: files land in a prefix, the resident
    stream decodes them as they arrive, rate-limited by
    maxFilesPerTrigger): the same 64 real BMP files are replayed
    through the streaming engine 8-per-trigger, decoded per
    micro-batch by the real codec inside mapInPandas, and the
    complete-mode corpus totals after the drain must equal the
    arithmetic oracle — the streaming twin of source_binary_files,
    proving the batch decode plan lifts to the resident-stream
    execution mode unchanged."""
    import os
    import shutil

    import numpy as np

    from etl_lens_spark.multimodal import codecs
    from etl_lens_spark.sources.sinks import scratch_path

    base = scratch_path("binary_files_stream_src")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    for d in range(64):
        w, h = 2 + d % 9, 2 + d % 7
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        arr = ((3 * x + 5 * y + 7 * c + d) % 256).astype("uint8")
        with open(f"{base}/img_{d:04d}.bmp", "wb") as f:
            f.write(codecs.encode_bmp(arr))
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 8)
        .load(base)
    )

    def decode(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                arr, _ = codecs.decode_bmp(bytes(content))
                hh, ww = arr.shape[:2]
                wgt = np.arange(1, 4)[None, None, :]
                rows.append(
                    (ww * hh, int((arr.astype(np.int64) * wgt).sum()))
                )
            yield pd.DataFrame(rows, columns=["n_px", "ck"])

    decoded = stream.select("path", "content").mapInPandas(
        decode, "n_px long, ck long"
    )
    agg = decoded.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_px").cast("long").alias("total_pixels"),
        F.sum("ck").cast("long").alias("checksum_sum"),
    )
    out = so.run_to_memory(
        agg,
        "q_stream_binaryfile",
        output_mode="complete",
        available_now=True,
    )
    return out


@query(
    "streaming_kmv_distinct_live",
    oracle="""
    WITH hv AS (
      SELECT DISTINCT event_type,
        list_reduce(list_transform(range(1, 14),
          i -> CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
          (a, b) -> a * 16 + b) AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS r
      FROM hv
    ),
    sk AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_sk,
             MAX(CASE WHEN r = 64 THEN v END) AS kth
      FROM ranked WHERE r <= 64 GROUP BY event_type
    ),
    seen AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events_seen
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT s.event_type,
           e.n_events_seen,
           CASE WHEN s.n_sk < 64 THEN CAST(s.n_sk AS DOUBLE)
                ELSE 63.0 / (CAST(s.kth AS DOUBLE) / 4503599627370496.0)
           END AS est_users,
           s.n_sk
    FROM sk s JOIN seen e USING (event_type)
    ORDER BY event_type
    """,
)
def streaming_kmv_distinct_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live distinct-count sketching: the KMV bottom-64 sketch as a
    custom stateful streaming operator (stream_ops.kmv_distinct_
    stateful) — O(k) state per key replaces the unbounded state a
    streaming COUNT(DISTINCT)/dropDuplicates would need. KMV merge
    losslessness means the replayed stream's final state equals the
    batch sketch bit-for-bit, so the oracle hash-checks a streaming
    APPROXIMATE operator exactly (same property the batch twin
    sketch_kmv_distinct_merge proves across days; here it's proven
    across micro-batches). Final row per key selected by the
    monotone events-seen counter."""
    from etl_lens_spark.config import kmv_k

    stream = so.kmv_distinct_stateful(
        so.events_stream(spark, sf_dir), k=kmv_k(spark)
    )
    out = so.run_to_memory(stream, "q_stream_kmv", output_mode="update")
    final = F.max_by(F.struct("est_users", "n_sk"), "n_events_seen").alias("s")
    return (
        out.groupBy("event_type")
        .agg(F.max("n_events_seen").alias("n_events_seen"), final)
        .select(
            "event_type",
            F.col("n_events_seen").cast("long").alias("n_events_seen"),
            "s.est_users",
            "s.n_sk",
        )
        .orderBy("event_type")
    )


@query(
    "streaming_bitmap_distinct_live",
    oracle="""
    WITH seg AS (
      SELECT event_type,
             CASE WHEN user_id <= 0 THEN 0
                  ELSE (user_id - 1) // 32768 + 1 END AS bucket,
             user_id
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_events_seen,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seg
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_bitmap_distinct_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live EXACT distinct users per event type through segment-
    bitmap state (stream_ops.bitmap_distinct_stateful) — the exact
    streaming twin of streaming_kmv_distinct_live and the streaming
    twin of the batch bitmap rollup: 4 KiB of bitset state per
    (type, 32k-id-bucket) key replaces the unbounded per-user state a
    streaming COUNT(DISTINCT) needs, and OR-idempotence makes replay
    trivially exactly-once. The full-replay popcount must equal the
    batch COUNT(DISTINCT) — bit-exact, no approximation. Final row
    per key selected by the monotone events-seen counter, bucket
    popcounts summed per type."""
    stream = so.bitmap_distinct_stateful(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_bitmap", output_mode="update")
    per_bucket = (
        out.groupBy("event_type", "bucket")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.max_by("n_bits", "n_seen").alias("n_bits"),
        )
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("n_seen").cast("long").alias("n_events_seen"),
            F.sum("n_bits").cast("long").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_state_store_read",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_state_store_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The state-store BATCH READER (Spark 4 ``statestore`` data
    source): run a streaming per-type count to a checkpoint, then
    read the checkpoint's STATE as a table and oracle-check the
    state contents themselves against the batch aggregate — the ops
    surface for debugging a production stream (inspect exactly what
    the state store believes, without touching the running query).
    At 100 TB this is how state corruption, skewed state keys, and
    watermark bugs get diagnosed: the state reader scans RocksDB/
    HDFS state files partition-parallel like any other source."""
    import shutil

    from etl_lens_spark.sources.sinks import scratch_path

    ckpt = scratch_path("state_read_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    agg = (
        so.events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


from etl_lens_spark.queries.mlprep_q import (  # noqa: E402
    _SPRT_LL,
    _SPRT_LO,
    _SPRT_LW,
    _SPRT_UP,
)


@query(
    "streaming_sprt_live",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY 1
    ),
    walk AS (
      SELECT d,
             SUM(CAST(conv AS DOUBLE) * {_SPRT_LW!r}
                 + CAST(n - conv AS DOUBLE) * {_SPRT_LL!r})
               OVER (ORDER BY d) AS cum_llr
      FROM daily
    ),
    crossed AS (
      SELECT d, cum_llr,
             CASE WHEN cum_llr >= {_SPRT_UP!r} THEN 'accept_h1'
                  WHEN cum_llr <= {_SPRT_LO!r} THEN 'accept_h0'
             END AS dec
      FROM walk
    ),
    firstx AS (
      SELECT MIN(d) AS first_decision_day FROM crossed
      WHERE dec IS NOT NULL
    )
    SELECT 'all' AS grp,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           (SELECT ROUND(cum_llr, 6) FROM walk
            ORDER BY d DESC LIMIT 1) AS cum_llr,
           COALESCE((SELECT c.dec FROM crossed c, firstx f
                     WHERE c.d = f.first_decision_day), 'continue')
             AS decision,
           (SELECT first_decision_day FROM firstx) AS first_decision_day
    """,
)
def streaming_sprt_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE twin of ab_test_sprt: the Wald sequential test running as
    an actual recursion over a map-typed per-day (n, conv) state —
    the always-valid experiment monitor whose entire reason to exist
    is continuous evaluation, here genuinely evaluated per
    micro-batch. The emission carries the FIRST boundary-crossing day
    (sequential decisions are sticky: once crossed, the test stopped
    there, even if later data walks back inside the boundaries —
    exactly what a batch recomputation gets wrong if it only looks at
    the final LLR). Replay of the full stream must land on the batch
    walk's values; the SPRT constants are shared module literals, so
    the check is bit-exact. State is bounded by the horizon in days."""
    stream = so.sprt_stateful(
        so.events_stream(spark, sf_dir).select("event_type", "ts")
    )
    out = so.run_to_memory(stream, "q_stream_sprt", output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("grp")
    return (
        out.withColumn("mseq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("mseq"))
        .select("grp", "n_days", "cum_llr", "decision",
                "first_decision_day")
    )


from etl_lens_spark.queries.timeseries_q import _hw_oracle  # noqa: E402


@query("streaming_holt_winters_live", oracle=_hw_oracle(per_series=True))
def streaming_holt_winters_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE twin of ts_holt_winters_fit: the triple-smoothing
    recursion re-run per micro-batch over a map-typed per-day revenue
    state, keyed by nation — the always-current forecast a revenue
    dashboard actually serves, with per-series state bounded by the
    horizon in days. The per-day cents accumulate EXACTLY like the
    batch DECIMAL(18,2) sums (integer cents in the state, one float
    division at fit time), and the smoothing constants are the shared
    batch-module literals, so full replay reproduces the batch
    level/trend/RMSE/h=1 forecast bit-for-bit — here against the
    per-series-calendar oracle variant (a stream keyed by nation
    cannot see the GLOBAL max day the batch dense calendar uses; the
    oracle generator pads each series to its own last day instead)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    src = (
        so.orders_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_nationkey").alias("nk"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("long")
            .alias("d"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    stream = so.holt_winters_stateful(src)
    out = so.run_to_memory(stream, "q_stream_hw", output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("nk")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        out.withColumn("mseq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("mseq"))
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_name", "n_days", "level", "trend", "rmse",
            "forecast_next",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Live count-min sketch — streaming twin of cms_join_size_estimate's
# sketch build (and of the batch cms_heavy_hitters prefilter)
# ---------------------------------------------------------------------------

_SCMS_DEPTH = 3
_SCMS_WIDTH = 1024


def _scms_pos_sql() -> str:
    from etl_lens_spark.queries.mlprep_q import _md5_sql

    return (
        _md5_sql(
            "CAST(user_id AS VARCHAR) || '|' || CAST(rr.r AS VARCHAR)"
        )
        + f" % {_SCMS_WIDTH}"
    )


@query(
    "streaming_cms_sketch_live",
    oracle=f"""
    WITH rr AS (SELECT UNNEST(range({_SCMS_DEPTH})) AS r),
    cells AS (
      SELECT rr.r,
             {_scms_pos_sql()} AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN rr
      WHERE user_id IS NOT NULL
      GROUP BY rr.r, c
    )
    SELECT r,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(cnt) AS BIGINT) AS row_total,
           CAST(MAX(cnt) AS BIGINT) AS max_cell
    FROM cells GROUP BY r ORDER BY r
    """,
)
def streaming_cms_sketch_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live count-min sketch build: the CMS cell table as a STREAMING
    aggregation — each micro-batch explodes its rows to (r, c)
    positions and the update-mode state holds exactly the
    depth×width counters (bounded regardless of stream length; the
    production shape of a resident heavy-hitter monitor). Because
    CMS counts are linear and monotone, the final state after a full
    replay equals the batch sketch BIT-FOR-BIT, and md5-derived
    positions let the oracle rebuild the same cells from the batch
    table — another approximate streaming operator checked exactly,
    alongside the KMV and bitmap live twins. Final row per cell
    selected by max(cnt) (counts only grow)."""
    from etl_lens_spark.operators.kmv import kmv_value

    ev = so.events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    pos = [
        F.struct(
            F.lit(r).alias("r"),
            (
                kmv_value(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("|"),
                        F.lit(str(r)),
                    )
                )
                % _SCMS_WIDTH
            ).alias("c"),
        )
        for r in range(_SCMS_DEPTH)
    ]
    cells = (
        ev.select(F.explode(F.array(*pos)).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = so.run_to_memory(cells, "q_stream_cms", output_mode="update")
    final = out.groupBy("r", "c").agg(F.max("cnt").alias("cnt"))
    return (
        final.groupBy(F.col("r").cast("long").alias("r"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("cnt").cast("long").alias("row_total"),
            F.max("cnt").cast("long").alias("max_cell"),
        )
        .orderBy("r")
    )


@query("streaming_gk_quantiles_live")
def streaming_gk_quantiles_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live streaming quantiles: the Greenwald–Khanna ε-summary
    (ε=0.01) as a custom stateful operator (stream_ops.
    gk_quantiles_stateful) — per event_type, p50/p90/p99 of `value`
    maintained with a few hundred tuples of state instead of the
    unbounded buffer exact streaming percentiles need. The fourth
    live sketch next to KMV (distinct), bitmap (exact distinct) and
    CMS (frequency), and the survey's round-6 candidate pulled
    forward.

    Rows-only BY DESIGN — and deliberately so, as the registry's
    documented example of a sketch whose update-mode state is not
    replay-exact: GK tuple layout depends on arrival order and batch
    boundaries, so unlike the KMV/bitmap/CMS live twins no oracle
    can hash-check the state. What IS invariant — the ±εn rank-error
    guarantee for every emitted estimate, any arrival order — is
    pinned vs exact batch ranks in tests/test_streaming_gk.py.
    Final row per key selected by the monotone events-seen counter;
    sketch_size is emitted so the O((1/ε)·log(εn)) space claim is
    itself observable (and asserted in the tests)."""
    stream = so.gk_quantiles_stateful(so.events_stream(spark, sf_dir))
    out = so.run_to_memory(stream, "q_stream_gk", output_mode="update")
    final = F.max_by(
        F.struct("sketch_size", "q50", "q90", "q99"), "n_seen"
    ).alias("s")
    return (
        out.groupBy("event_type")
        .agg(F.max("n_seen").alias("n_seen"), final)
        .select(
            "event_type",
            F.col("n_seen").cast("long").alias("n_seen"),
            F.col("s.sketch_size").cast("long").alias("sketch_size"),
            "s.q50",
            "s.q90",
            "s.q99",
        )
        .orderBy("event_type")
    )


@query("streaming_mg_heavy_live")
def streaming_mg_heavy_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sharded Misra–Gries heavy hitters (stream_ops.
    mg_heavy_stateful): 4 user-hash shards each maintain a k−1-counter
    MG summary over the event-type stream; the reader applies the
    Agarwal-et-al. mergeable combine (operators/mg.mg_merge_partials)
    across the final per-shard summaries — the fifth live sketch, and
    the deterministic-frequency twin of streaming_cms_sketch_live
    exactly as the batch pair (sketch_mg_heavy_hitters vs
    cms_heavy_hitters). Final state per shard selected by the
    monotone emission sequence (n_seen can tie across updates — an
    all-null batch re-emits unchanged — so it is not a selector); exact counts and the ≤ n/k
    undercount theorem ride along as proof columns.

    Rows-only BY DESIGN (summary membership depends on arrival
    order — the GK contract); the bound columns are asserted in
    tests/test_mg.py. State: ≤ k−1 counters + one long per shard."""
    from etl_lens_spark.operators.mg import mg_merge_partials

    # k chosen so the 5-type stream actually exercises the sketch:
    # 4 counters force decrements (real undercounts) while every
    # type with exact > n/5 = 2000 is THEOREM-guaranteed to survive
    k = 5
    stream = so.mg_heavy_stateful(so.events_stream(spark, sf_dir), k=k)
    out = so.run_to_memory(stream, "q_stream_mg", output_mode="update")
    from pyspark.sql import Window as _W

    wmax = _W.partitionBy("shard")
    final = (
        out.withColumn("s_max", F.max("emit_seq").over(wmax))
        .filter(F.col("emit_seq") == F.col("s_max"))
        # null item = empty-summary tombstone (stream_ops emits one
        # when decrements drain a shard, so a stale earlier snapshot
        # can never masquerade as final) — drop after final-selection
        .filter(F.col("item").isNotNull())
        .select("item", F.col("partial").cast("long").alias("partial"))
    )
    merged = mg_merge_partials(final, k)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    exact = ev.groupBy(F.col("event_type").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        merged.join(exact, "item")
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "mg_count",
            "exact",
            "n",
            (F.col("n") / F.lit(k)).alias("bound"),
            (
                (F.col("exact") >= F.col("mg_count"))
                & (
                    (F.col("exact") - F.col("mg_count"))
                    <= F.col("n") / F.lit(k)
                )
            ).alias("within_bound"),
        )
        .orderBy(F.desc("mg_count"), "item")
    )


from etl_lens_spark.operators.drift import (
    psi_oracle_tail as _psi_oracle_tail,
)

_spsi_tail = _psi_oracle_tail(10)
_SPSI_SPLIT = "2024-01-16"  # events-fixture midpoint (events span 2024-01-01..30)


@query(
    "streaming_psi_drift_live",
    oracle=f"""
    WITH t AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
             event_id,
             CASE WHEN CAST(ts AS DATE) < DATE '{_SPSI_SPLIT}'
                  THEN 'ref' ELSE 'cur' END AS era
      FROM events WHERE value IS NOT NULL
    ),
    refb AS (SELECT cents, event_id FROM t WHERE era = 'ref'),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM refb),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, event_id) AS rnk
      FROM refb
    ),
    cuts AS (
      SELECT list(r.cents ORDER BY r.cents) AS cs
      FROM (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) ds
      JOIN n ON TRUE
      JOIN ranked r ON r.rnk = CAST(ceil(d * n.n / 10.0) AS BIGINT)
    ),
    binned AS (
      SELECT era, len(list_filter(cs, c -> cents > c)) AS bin
      FROM t CROSS JOIN cuts
    ),
    cnt AS (
      SELECT bin,
             CAST(SUM(CASE WHEN era = 'ref' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN era = 'cur' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ),
    {_spsi_tail}
    """,
)
def streaming_psi_drift_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE drift monitoring: the reference era's exact value-decile
    bins are computed once batch-side (9 cutpoints — the broadcast
    state every serving-time monitor carries), then the CURRENT era
    arrives as a STREAM whose per-bin counts aggregate in complete
    mode; the drained counts feed the same smoothed PSI as
    feature_psi_drift. A full replay must equal the batch
    computation, so the DuckDB oracle that validates the batch PSI
    validates the streaming engine too — the same complete-mode
    contract as the other _live twins.

    Bin assignment is ROW-LOCAL on the stream (a 9-literal array
    filter — no stream-static join needed, no shuffle before the
    grouped count); state is O(bins) per the aggregation. This is
    the shape a 100 TB serving pipeline runs continuously: reference
    stats frozen, current window streaming, alert on psi_total."""
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).cast("long")
    ref = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & (F.to_date("ts") < F.lit(_SPSI_SPLIT))
        )
        .select(cents.alias("cents"), "event_id")
    )
    from etl_lens_spark.operators.prefix import ordered_global_rank

    n_ref_total = ref.count()
    ranked = ordered_global_rank(
        ref, [F.asc("cents"), F.asc("event_id")], "rnk"
    )
    targets = [
        int(-(-d * n_ref_total // 10)) for d in range(1, 10)
    ]  # ceil(d*n/10)
    cut_rows = (
        ranked.filter(F.col("rnk").isin(list(set(targets))))
        .select("rnk", "cents")
        .collect()
    )
    by_rank = {r["rnk"]: r["cents"] for r in cut_rows}
    # duplicate target ranks (tiny ref eras) must contribute
    # duplicate cutpoints — the oracle's JOIN keeps one row per
    # decile, so a set-collapse here would shift every bin
    cuts = sorted(by_rank[t] for t in targets)  # 9 driver-side longs
    cut_arr = F.array(*[F.lit(int(c)) for c in cuts])
    bin_of = F.size(
        F.filter(cut_arr, lambda c: F.col("cents") > c)
    ).alias("bin")

    stream = so.events_stream(spark, sf_dir)
    cur_binned = (
        stream.filter(
            F.col("value").isNotNull()
            & (F.to_date("ts") >= F.lit(_SPSI_SPLIT))
        )
        .select(cents.alias("cents"))
        .select(bin_of)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    cur = so.run_to_memory(
        cur_binned, "q_stream_psi", output_mode="complete"
    )
    refc = (
        ref.select(bin_of)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    )
    cnt = (
        refc.join(
            cur.select("bin", F.col("n_cur").cast("long").alias("n_cur")),
            "bin",
            "full_outer",
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    from etl_lens_spark.operators.drift import smoothed_psi_frame

    return smoothed_psi_frame(cnt, n_bins=10)


@query(
    "streaming_lake_exactly_once_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(1 AS BIGINT) AS all_batches_committed,
           CAST(1 AS BIGINT) AS n_retries_skipped,
           CAST(1 AS BIGINT) AS n_orphans_removed
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_lake_exactly_once_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACTLY-ONCE streaming ingestion into the lake log — the Delta
    ``txn``-action handshake wired under a foreachBatch sink: every
    micro-batch writes its parquet then commits with
    lakelog.commit_idempotent(app_id, epoch_id); source progress
    lives in the stream's checkpoint, sink progress in the table's
    txn actions. The failure mode this closes: a crash AFTER the
    table commit but BEFORE the checkpoint advances replays the
    batch on restart — simulated here by re-writing the last batch's
    output and re-attempting its txn version, which is SKIPPED (its
    re-written files become orphans that find_orphans/remove_orphans
    then reclaims, since no version ever referenced them).

    The proof is the table itself: the final snapshot's per-type
    counts, DISTINCT event_id count and value sums equal one exact
    copy of the events fixture (the oracle's batch scan) — a
    duplicated batch would double n against n_distinct_ids. Pins:
    every live commit landed (all_batches_committed), exactly one
    retry skipped, exactly one orphan reclaimed."""
    import os
    import shutil
    import uuid

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.sinks import scratch_path

    base = scratch_path("lake_xonce")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    app_id = "events_ingest"
    ev = so.events_stream(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    results: list[dict] = []

    def sink(batch_df, epoch_id):
        rel = f"b{int(epoch_id):05d}"
        batch_df.write.parquet(os.path.join(base, rel))
        results.append(
            lakelog.commit_idempotent(
                base, app_id, int(epoch_id), [{"add": rel}]
            )
        )

    ckpt = scratch_path(f"ckpt_xonce_{uuid.uuid4().hex}")
    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    all_committed = int(
        bool(results) and all(not r["skipped"] for r in results)
    )
    # crash-retry simulation: the restarted job re-writes the last
    # batch's output under a fresh name, then re-attempts its txn
    last_epoch = len(results) - 1
    retry_rel = "b_retry"
    spark.read.parquet(
        os.path.join(base, f"b{last_epoch:05d}")
    ).write.parquet(os.path.join(base, retry_rel))
    retry = lakelog.commit_idempotent(
        base, app_id, last_epoch, [{"add": retry_rel}]
    )
    n_skipped = int(retry["skipped"])
    orphans = lakelog.remove_orphans(base)
    assert orphans["removed"] == [retry_rel]

    out = (
        lakelog.read_snapshot(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("event_id").cast("long").alias(
                "n_distinct_ids"
            ),
            F.sum("value").cast("double").alias("total_value"),
        )
        .select(
            "event_type",
            "n",
            "n_distinct_ids",
            "total_value",
            F.lit(all_committed).cast("long").alias(
                "all_batches_committed"
            ),
            F.lit(n_skipped).cast("long").alias("n_retries_skipped"),
            F.lit(orphans["n_removed"]).cast("long").alias(
                "n_orphans_removed"
            ),
        )
        .orderBy("event_type")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "streaming_lake_source_live",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS cents_sum
    FROM orders
    GROUP BY o_orderkey % 4
    ORDER BY key_mod
    """,
)
def streaming_lake_source_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LAKE LOG AS A STREAMING SOURCE through the live engine —
    "Delta as a source", the streaming dual of the batch change
    feed: a three-commit append-only table (orders split %3) is
    tailed by sources/pyds.py::LakeLogStreamDataSource, whose
    offsets are commit versions advancing ONE commit per
    micro-batch (executors read each commit's added files with
    pyarrow directly — no driver fan-in, no re-scan of earlier
    commits). A complete-mode aggregate drains the stream; the
    oracle recomputes it from the full orders scan, so a hash match
    proves the version-by-version offset planning lost and
    duplicated NOTHING across commit boundaries. The append-only
    contract (removes raise without ignore_changes, deletion
    vectors always raise) and one-version-per-batch stepping are
    unit-pinned in tests/test_external_sources.py."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogStreamDataSource
    from etl_lens_spark.sources.sinks import scratch_path

    base = scratch_path("lake_stream_src")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    for v in range(3):
        orders.filter(F.col("k") % 3 == v).write.parquet(
            f"{base}/b{v}"
        )
        lakelog.commit(base, v, [{"add": f"b{v}"}])

    try:
        spark.dataSource.register(LakeLogStreamDataSource)
    except Exception:
        pass  # already registered in this session
    stream = (
        spark.readStream.format("lakelog_stream")
        .option("path", base)
        .option("schema_ddl", "k long, cents long")
        .load()
    )
    agg = stream.groupBy(
        (F.col("k") % 4).cast("int").alias("key_mod")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("key_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
    out = so.run_to_memory(
        agg, "q_stream_lakesrc", output_mode="complete"
    )
    rows = out.orderBy("key_mod").collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
