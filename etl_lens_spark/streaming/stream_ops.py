"""Structured Streaming analog of the reference's query path.

The reference's ETW trace is an append-only timestamped event stream
(`EventData.timestamp`, ``/root/reference/src/main.cpp:143``) that it
re-scans per query. The live-trace analog on Spark is a streaming
DataFrame with the *same* transformations as the batch layer —
Structured Streaming's core promise — plus watermarked state for
late data.

Local testing drives the parquet fixture through the file source
(one-batch replay) into a memory sink; production would swap the
source for kafka/eventhub without touching the operator code. Batch
equivalence of every operator here is asserted in
tests/test_streaming.py against the batch queries the DuckDB oracle
already validates.

Scale posture: watermarks bound state size (the 100 TB concern for
streaming is unbounded state, not throughput); all aggregations are
keyed so state shards across executors; ``dropDuplicatesWithinWatermark``
keeps the dedup buffer watermark-bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.sources.tables import load_table, parquet_schema


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (schema-locked; the
    file source replays the parquet as micro-batches).

    The stream schema must be declared up front, and ``ts`` has
    shipped both as TIMESTAMP(NANOS) (→ raw ns LongType under
    ``nanosAsLong``) and as plain µs-naive (→ TIMESTAMP_NTZ). The
    file's footer schema (memoized by ``sources.tables``) picks the
    physical type — force-declaring ``long`` over a µs file would
    silently misread every timestamp (µs values interpreted as ns
    collapse the whole stream into 1970). Normalized to utc-instant TimestampType
    exactly like sources.tables.load_table.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path = os.path.join(sf_dir, "events.parquet")
    ts_type = parquet_schema(spark, table_path)["ts"].dataType.simpleString()
    schema = (
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(table_path):
        # directory-of-part-files layout: monitor the table dir itself
        raw = reader.load(table_path)
    else:
        # single-file layout: glob-filter it out of the sf dir (the
        # file source wants a directory to monitor)
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with late-data tolerance.
    Identical semantics to the batch query
    ``stream_tumbling_window_batch`` (oracle-checked there)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) windows — each event contributes to
    window/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


def session_window_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming-native
    form of the batch lag+cumsum sessionization
    (``stream_sessionization_batch``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stateful_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming first-seen dedup with watermark-bounded state — the
    live analog of the catalog's first-seen semantics (R2,
    ``src/main.cpp:256-259``): the first event per key within the
    watermark horizon survives; duplicates are dropped without
    unbounded state."""
    keys = keys or ["event_type", "user_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_attribution_join(
    events: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's clicks within the preceding ``lookback``.

    Both sides are watermarked so the join state is bounded: a click
    can be dropped from state once the watermark passes its timestamp
    + lookback (Spark derives this from the interval condition). The
    join itself hash-partitions both streams on ``user_id`` — state
    shards across executors like any keyed operator.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
        )
    )
    return purchases.join(clicks, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )


USER_TOTALS_OUTPUT = (
    "user_id long, n_events long, total_value double, "
    "first_us long, last_us long"
)
USER_TOTALS_STATE = "n long, total string, first_us long, last_us long"


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    ``sqlite3_create_window_function`` / custom-aggregate analog for
    streams, SURVEY §2.2): per-user running totals that survive across
    micro-batches in the state store.

    Scale posture: state is keyed by ``user_id`` so it shards across
    executors via hash partitioning; per-key state is O(1) (four
    scalars). The running sum is carried as an exact ``Decimal``
    string so replay order can't drift the float — the same
    decimal-accumulation discipline as functions/numeric.py.
    """
    import pandas as pd

    from decimal import ROUND_HALF_UP, Decimal

    cent = Decimal("0.01")

    def update(key, pdf_iter, state):
        if state.exists:
            n, total_s, first_us, last_us = state.get
            total = Decimal(total_s)
        else:
            n, total, first_us, last_us = 0, Decimal(0), None, None
        for pdf in pdf_iter:
            n += len(pdf)
            # quantize each value like CAST(value AS DECIMAL(18,2)),
            # then accumulate exactly
            for v in pdf["value"]:
                total += Decimal(repr(float(v))).quantize(
                    cent, rounding=ROUND_HALF_UP
                )
            lo = int(pdf["ts_us"].min())
            hi = int(pdf["ts_us"].max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, str(total), first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [float(total)],
                "first_us": [first_us],
                "last_us": [last_us],
            }
        )

    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_OUTPUT,
        stateStructType=USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = False,
) -> DataFrame:
    """Drive a streaming frame to completion into a memory sink,
    returning the materialized result as a batch DataFrame.

    Two drain modes: the default continuous-start +
    ``processAllAvailable`` (the test-harness replay), and
    ``available_now=True`` — ``Trigger.AvailableNow``, the production
    batch-drain trigger (process everything present, respecting
    rate limits like maxFilesPerTrigger, then STOP on its own; the
    shape a scheduled incremental job uses instead of a resident
    stream)."""
    import shutil
    import uuid

    from etl_lens_spark.sources.sinks import scratch_path

    # checkpoint must be unique PER RUN: a reused checkpoint records
    # file-source progress, and a replay against it sees "no new
    # files" and emits nothing. Deleted after the run — a finished
    # replay's checkpoint is dead state, and hundreds of them
    # accumulate across registry/bench runs otherwise.
    ckpt = scratch_path(f"ckpt_{name}_{uuid.uuid4().hex}")
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        if available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def user_latest_value(events: DataFrame) -> DataFrame:
    """Latest-value-per-key view of the stream — the streaming CDC
    upsert state (what a materialized `MERGE` target looks like while
    the changelog is still flowing). Declarative ``max_by`` keyed by
    (event-time, event_id) so ties are deterministic; in update output
    mode each micro-batch re-emits only the keys whose latest row
    changed. State is one row per key — O(keys), not O(stream)."""
    key = F.struct(F.unix_micros("ts").alias("us"), F.col("event_id"))
    return (
        events.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.unix_micros("ts").alias("last_us"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("value").alias("last_value"),
                ),
                key,
            ).alias("s")
        )
        .select("user_id", "s.last_us", "s.last_event_id", "s.last_value")
    )


def debounce_stateful(
    events: DataFrame, gap_us: int = 600_000_000
) -> DataFrame:
    """Streaming rate-limiter via ``applyInPandasWithState``: per
    (user, type) key, an occurrence within ``gap_us`` of the previous
    one is suppressed; the state store carries (last_ts, n_events,
    n_kept) — O(1) per key, sharded by the group hash like any keyed
    operator. Rows are processed in (ts, event_id) order within each
    micro-batch, so a single-batch replay reproduces the batch
    lag-based debounce exactly; across batches the file source's
    arrival order stands in for event order (the same caveat every
    at-arrival-time stream dedup carries)."""
    import pandas as pd

    def update(key, pdf_iter, state):
        if state.exists:
            last_us, n, kept = state.get
        else:
            last_us, n, kept = None, 0, 0
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts_us", "event_id"])
        for us in rows["ts_us"]:
            us = int(us)
            n += 1
            if last_us is None or us - last_us > gap_us:
                kept += 1
            last_us = us
        state.update((last_us, n, kept))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_events": [n],
                "n_kept": [kept],
            }
        )

    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_type string, n_events long, n_kept long"
        ),
        stateStructType="last_us long, n long, kept long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def burst_stateful(events: DataFrame, min_len: int = 3) -> DataFrame:
    """Streaming CEP: per-user maximal-run detection of consecutive
    'error' events (the live twin of the batch MATCH_RECOGNIZE
    ``PATTERN (E{min_len,})`` query, operators/patterns.py). State is
    the open run (length) plus closed-burst aggregates — O(1) per
    key; a run crossing a micro-batch boundary is carried open in the
    state store, and each emission counts the open run AS IF closed
    so the final update-mode value equals the batch islands
    semantics (trailing bursts included). All emitted measures are
    monotone across batches, so the memory-sink max is the final
    state. Rows are processed in (ts, event_id) order within each
    batch; across batches file-arrival order stands in for event
    order (same contract as debounce_stateful)."""
    import pandas as pd

    def update(key, pdf_iter, state):
        if state.exists:
            open_len, closed, closed_ev, longest = state.get
        else:
            open_len, closed, closed_ev, longest = 0, 0, 0, 0
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts_us", "event_id"])
        for et in rows["event_type"]:
            if et == "error":
                open_len += 1
                longest = max(longest, open_len)
            else:
                if open_len >= min_len:
                    closed += 1
                    closed_ev += open_len
                open_len = 0
        state.update((open_len, closed, closed_ev, longest))
        incl = 1 if open_len >= min_len else 0
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_bursts": [closed + incl],
                "n_burst_events": [
                    closed_ev + (open_len if incl else 0)
                ],
                "longest": [longest],
            }
        )

    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_bursts long, n_burst_events long, "
            "longest long"
        ),
        stateStructType=(
            "open_len long, closed long, closed_ev long, longest long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def topk_stateful(events: DataFrame, k: int = 3) -> DataFrame:
    """Live heavy-hitters: per event_type, the top-k users by event
    count, maintained across micro-batches in a map-typed state
    column. Emissions carry the running total n_total (strictly
    increasing per batch that touches the key), so the final state
    is selectable from the memory sink without batch bookkeeping.
    Per-key state is O(users-per-type); the bounded-memory variant
    at extreme cardinality swaps the exact map for the CMS sketch
    (operators/cms.py) with identical output contract — this
    operator pins the exact semantics."""
    import pandas as pd

    def update(key, pdf_iter, state):
        counts = dict(state.get[0]) if state.exists else {}
        for pdf in pdf_iter:
            for u in pdf["user_id"]:
                u = int(u)
                counts[u] = counts.get(u, 0) + 1
        state.update((counts,))
        n_total = sum(counts.values())
        top = sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:k]
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "rank": [i + 1 for i in range(len(top))],
                "user_id": [u for u, _ in top],
                "n": [c for _, c in top],
                "n_total": [n_total] * len(top),
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, rank long, user_id long, n long, "
            "n_total long"
        ),
        stateStructType="counts map<bigint,bigint>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def late_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crafted multi-file replay that PROVES watermark late-data drop
    (not just declares it). Three files, strictly mtime-ordered and
    processed one per micro-batch (maxFilesPerTrigger=1):

    - f0: a deterministic slice of the events fixture — batch 0
      advances the watermark to max(ts) - 30min (applied from the
      NEXT batch on).
    - f1: one duplicate of the slice's LATEST row — an on-time spacer
      batch. This batch matters because Spark's late-data filter
      lags the eviction watermark by one batch (measured:
      numRowsDroppedByWatermark=0 for a late row in the batch right
      after the advancing batch — it merges into still-live state —
      and =1 one batch later); the spacer lets the filter watermark
      catch up. Its own window sits inside the watermark lag and
      never finalizes, so it can't appear in append output.
    - f2: ONE duplicate of the slice's earliest row — days below the
      watermark, provably dropped (the drop metric fires in this
      batch).

    If the engine ever accepted the f2 row, its window — already
    finalized, emitted and evicted after the spacer batch — would
    re-enter state as a fresh n=1 group and emit a SECOND append row
    for the same (window, type) key, so the row-count/hash comparison
    against the batch oracle (which excludes the late row by the same
    watermark rule) would fail. The oracle match IS the proof.

    Returns the append-mode sink contents: one row per finalized
    (hour window x event_type) with count and value total; windows
    inside the final 30-minute watermark lag never finalize and are
    excluded by the oracle's watermark predicate too.
    """
    import glob
    import os
    import shutil
    import uuid

    from etl_lens_spark.sources.sinks import scratch_path

    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("ts", "event_type", F.col("value").cast("double"))
    )
    late = base.orderBy("ts", "event_type", "value").limit(1)
    spacer = base.orderBy(
        F.desc("ts"), F.asc("event_type"), F.asc("value")
    ).limit(1)

    run = uuid.uuid4().hex
    watch_dir = scratch_path(f"latedrop_{run}")
    os.makedirs(watch_dir, exist_ok=True)

    def _emit(df: DataFrame, name: str, mtime: float) -> None:
        tmp = scratch_path(f"latedrop_tmp_{run}_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(watch_dir, f"{name}.parquet")
        shutil.copyfile(part, dest)
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    # file-source ordering is by modification time: f0 establishes
    # the watermark, f1 lets the (one-batch-lagged) late filter catch
    # up, f2 delivers the provably-late row
    _emit(base, "f0", 1_600_000_000.0)
    _emit(spacer, "f1", 1_600_000_100.0)
    _emit(late, "f2", 1_600_000_200.0)

    stream = (
        spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(watch_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    out = run_to_memory(stream, f"q_late_drop_{run}", output_mode="append")
    shutil.rmtree(watch_dir, ignore_errors=True)
    return out


def eviction_safe_cutoff_us(spark: SparkSession, sf_dir: str) -> int:
    """max(events.ts) - 4h in epoch µs: the output cutoff the outer
    attribution joins keep rows below (delay 2h + join window 1h +
    1h slack). Read through ``load_table`` so both ``ts`` layouts
    give the same instant."""
    max_us = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.unix_micros("ts")))
        .collect()[0][0]
    )
    return max_us - 4 * 3600 * 1_000_000


def attribution_join_left_outer(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics corner
    that separates streaming joins from batch ones: an unmatched left
    row cannot emit its null-match when it arrives (a matching click
    may still come); it emits only when the watermark proves no
    match can ever arrive, i.e. on STATE EXPIRY. Matched pairs emit
    immediately.

    The OUTPUT is filtered to purchases at most max(ts) - 4h (probed
    batch-side): the exact eviction watermark has engine-internal
    margins (measured: nulls for rows ~2000s below the naive max-2h
    watermark emitted, rows ~300s below it did not), so the returned
    set keeps only left rows safely below ANY plausible cutoff
    (delay 2h + join window 1h + 1h slack) — every kept unmatched
    purchase provably expires and emits, making the batch oracle
    exact instead of hash-matching an engine-internal boundary.
    Deliberately a filter on the JOIN OUTPUT, not on the purchase
    stream input: filtering the input would drag that stream's own
    watermark down and (under the default min multiple-watermark
    policy) hold the GLOBAL watermark at cutoff - 2h, un-expiring
    the last two hours of kept purchases — measured as exactly the
    8 missing null rows that motivated this note.
    """
    ev = events_stream(spark, sf_dir)
    cutoff_us = eviction_safe_cutoff_us(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
        )
    )
    return (
        purchases.join(clicks, cond, "left_outer")
        .filter(F.unix_micros("purchase_ts") <= cutoff_us)
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            F.unix_micros("purchase_ts").alias("purchase_us"),
            F.unix_micros("click_ts").alias("click_us"),
        )
    )


def attribution_join_full_outer(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: both sides emit
    expiry-time null rows — unmatched purchases when no click can
    arrive, unmatched clicks when no purchase can (for a click the
    match window extends FORWARD by ``lookback``, so its state lives
    ``lookback`` longer than a purchase's). Same determinism
    discipline as the left-outer form: the OUTPUT keeps only rows
    whose event times sit safely below every plausible eviction
    cutoff (max(ts) - 4h on both sides' timestamps), making the
    batch full-join oracle exact."""
    ev = events_stream(spark, sf_dir)
    cutoff_us = eviction_safe_cutoff_us(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
        )
    )
    both_below = (
        F.coalesce(F.unix_micros("purchase_ts"), F.lit(0)) <= cutoff_us
    ) & (F.coalesce(F.unix_micros("click_ts"), F.lit(0)) <= cutoff_us)
    return (
        purchases.join(clicks, cond, "full_outer")
        .filter(both_below)
        .select(
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
            "purchase_id",
            "click_id",
            F.unix_micros("purchase_ts").alias("purchase_us"),
            F.unix_micros("click_ts").alias("click_us"),
        )
    )


def cusum_stateful(
    events: DataFrame, slack: float = 0.5, threshold: float = 5.0
) -> DataFrame:
    """Live CUSUM change-point monitor: the sequential recursion
    S⁺_t = max(0, S⁺_{t−1} + z_t − k) run AS a recursion, per
    event_type, with the hourly count series held in a map-typed
    state column (bounded by distinct hours, i.e. the monitor's
    horizon — not by event volume). Each micro-batch merges its
    events into the per-hour counts and re-evaluates the detector
    over the (small) ordered series with the series-wide baseline —
    matching the batch twin ``ts_changepoint_cusum``, which computes
    the SAME statistic via the closed-form window rewrite; full
    replay of this stream must land on exactly the batch answer,
    which is the declared oracle. Emissions carry a strictly
    increasing per-key seq so the final state is selectable from the
    memory sink without batch bookkeeping."""
    import math

    import pandas as pd

    def update(key, pdf_iter, state):
        if state.exists:
            counts_raw, seq = state.get
            counts = dict(counts_raw)
        else:
            counts, seq = {}, 0
        for pdf in pdf_iter:
            hours = (pdf["ts"].astype("int64") // 1000) // 3600000000
            for h in hours:
                h = int(h)
                counts[h] = counts.get(h, 0) + 1
        seq += 1
        state.update((counts, seq))
        ns = [counts[h] for h in sorted(counts)]
        hs = sorted(counts)
        n = len(ns)
        mu = sum(ns) / n
        var = sum((v - mu) ** 2 for v in ns) / n
        sd = math.sqrt(var)
        max_s, first_alarm, s = 0.0, None, 0.0
        if sd > 0:
            for h, v in zip(hs, ns):
                z = (v - mu) / sd - slack
                s = max(0.0, s + z)
                if s > max_s:
                    max_s = s
                if first_alarm is None and s > threshold:
                    first_alarm = h
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "seq": [seq],
                "n_hours": [n],
                "max_cusum": [round(max_s, 6)],
                "first_alarm_hour": [first_alarm],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, seq long, n_hours long, "
            "max_cusum double, first_alarm_hour long"
        ),
        stateStructType="counts map<bigint,bigint>, seq long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def session_close_stateful(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUT state hygiene —
    the applyInPandasWithState corner no other operator here uses:
    per user, an open session lives in state; an arriving event
    either extends it or (gap exceeded) CLOSES it — closed sessions
    emit immediately in append mode — and the state registers an
    event-time timeout at last_event + gap so that abandoned users'
    state is EVICTED by the watermark instead of living forever
    (``state.hasTimedOut`` → remove). Emission is successor-driven;
    the timeout path is memory hygiene, which is exactly its
    production role: without it, a 100 TB stream with churning users
    accumulates one state row per user forever.

    Contract: after full replay the emitted set is every CLOSED
    session — i.e. all sessions except each user's final one, which
    is still legitimately OPEN at end-of-stream (the batch oracle
    excludes exactly those)."""
    import pandas as pd

    gap_us = gap_min * 60 * 1_000_000

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            # abandoned user: evict (the open session stays unemitted
            # by contract — it never closed)
            state.remove()
            return
        if state.exists:
            start, last, n, total = state.get
        else:
            start, last, n, total = None, None, 0, 0.0
        rows = []
        evs = []
        for pdf in pdf_iter:
            us = pdf["ts"].astype("int64") // 1000
            for t, v in zip(us, pdf["value"]):
                evs.append((int(t), float(v)))
        evs.sort()
        for t, v in evs:
            if start is None:
                start, last, n, total = t, t, 1, v
            elif t - last > gap_us:
                rows.append((key[0], start, last, n, round(total, 2)))
                start, last, n, total = t, t, 1, v
            else:
                last, n, total = t, n + 1, total + v
        state.update((start, last, n, total))
        # watermark-driven eviction for users that never return
        state.setTimeoutTimestamp((last // 1000) + gap_min * 60 * 1000)
        yield pd.DataFrame(
            rows,
            columns=["user_id", "start_us", "end_us", "n_events", "total"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, start_us long, end_us long, n_events long, "
            "total double"
        ),
        stateStructType=(
            "start long, last long, n long, total double"
        ),
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


KMV_OUTPUT = "event_type string, n_events_seen long, est_users double, n_sk long"
KMV_STATE = "vs array<long>, n_seen long"


def kmv_distinct_stateful(events: DataFrame, k: int = 64) -> DataFrame:
    """Live KMV bottom-k distinct-count sketch per event_type
    (operators/kmv.py as a STREAMING state machine): each micro-batch
    hashes its user_ids JVM-side (same md5→52-bit value as the batch
    operator), and the state store keeps only the k smallest values
    per key. Because KMV merge is lossless, the state after a full
    replay equals the batch sketch EXACTLY — which is what lets the
    DuckDB oracle hash-check a streaming approximate sketch.

    Scale posture: state is O(k) longs per key regardless of stream
    length or cardinality (the whole point of the sketch — unbounded
    dropDuplicates state is what this replaces); keyed by event_type
    so it shards across executors.
    """
    import pandas as pd

    from etl_lens_spark.operators.kmv import SCALE, kmv_value

    def update(key, pdf_iter, state):
        if state.exists:
            vs_list, n_seen = state.get
            vs = set(vs_list)
        else:
            vs, n_seen = set(), 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            vs.update(int(v) for v in pdf["v"].dropna())
        vs = sorted(vs)[:k]
        state.update((vs, n_seen))
        if len(vs) < k:
            est = float(len(vs))
        else:
            est = float(k - 1) / (float(vs[-1]) / SCALE)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events_seen": [n_seen],
                "est_users": [est],
                "n_sk": [len(vs)],
            }
        )

    hashed = events.filter(F.col("user_id").isNotNull()).select(
        "event_type", kmv_value(F.col("user_id")).alias("v")
    )
    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=KMV_OUTPUT,
        stateStructType=KMV_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


BITMAP_OUTPUT = (
    "event_type string, bucket long, n_seen long, n_bits long"
)
BITMAP_STATE = "bm binary, n long"

_BITMAP_BITS = 32768  # one Spark bitmap bucket (bitmap_bucket_number)


def bitmap_distinct_stateful(events: DataFrame) -> DataFrame:
    """Live EXACT distinct counting via segment-bitmap state — the
    exact twin of :func:`kmv_distinct_stateful`, streaming analog of
    the batch ``sketch_bitmap_exact_distinct`` rollup: state per
    (event_type, id-bucket) key is one 4 KiB bitset; each micro-batch
    ORs its positions in; popcount per bucket sums to the exact
    distinct count.

    Scale posture: state is bounded by the live id universe (4 KiB
    per 32k-id bucket — dense-id contract, same as the batch twin),
    never by stream length; keying by (type, bucket) shards the
    bitsets across executors, and only (bucket, positions) longs —
    not user payloads — reach the state store.
    """
    import pandas as pd

    def update(key, pdf_iter, state):
        if state.exists:
            bm_bytes, n_seen = state.get
            bm = int.from_bytes(bm_bytes, "little")
        else:
            bm, n_seen = 0, 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            for p in pdf["pos"]:
                bm |= 1 << int(p)
        state.update((bm.to_bytes(_BITMAP_BITS // 8, "little"), n_seen))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "bucket": [key[1]],
                "n_seen": [n_seen],
                "n_bits": [bm.bit_count()],
            }
        )

    hashed = events.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").cast("long").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").cast("long").alias("pos"),
    )
    return hashed.groupBy("event_type", "bucket").applyInPandasWithState(
        update,
        outputStructType=BITMAP_OUTPUT,
        stateStructType=BITMAP_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on the MODERN arbitrary-state API
    (``transformWithStateInPandas``, Spark 4's successor to
    applyInPandasWithState): a ``StatefulProcessor`` with one
    ValueState, same exact-Decimal accumulation discipline as
    :func:`user_totals_stateful` — the two APIs are cross-checked
    against the SAME batch oracle, proving the migration path
    preserves semantics. Requires the RocksDB state-store provider
    (the API's contract; the declared query sets and restores it).

    Scale posture identical to the old-API twin: state shards by
    user_id, O(1) scalars per key; plus what the new API adds at
    scale — typed state (no whole-tuple rewrite per batch), timers,
    and TTL — without changing a line of the aggregation logic.
    """
    import pandas as pd

    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    cent = Decimal("0.01")

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "totals",
                "n long, total string, first_us long, last_us long",
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._st.exists():
                n, total_s, first_us, last_us = self._st.get()
                total = Decimal(total_s)
            else:
                n, total, first_us, last_us = 0, Decimal(0), None, None
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"]:
                    total += Decimal(repr(float(v))).quantize(
                        cent, rounding=ROUND_HALF_UP
                    )
                lo = int(pdf["ts_us"].min())
                hi = int(pdf["ts_us"].max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            self._st.update((n, str(total), first_us, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [float(total)],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    with_us = events.withColumn("ts_us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=USER_TOTALS_OUTPUT,
        outputMode="Update",
        timeMode="None",
    )


def sprt_stateful(events: DataFrame) -> DataFrame:
    """Live Wald SPRT: the cumulative log-likelihood-ratio walk for
    H1 vs H0 on the daily purchase rate, run AS a recursion over a
    map-typed per-day (n, conv) state (bounded by the monitoring
    horizon in days, not by event volume). Each micro-batch merges
    its counts and re-walks the LLR in day order, emitting the
    current decision and the FIRST day a stop boundary was crossed —
    sequential testing that stays valid under continuous peeking,
    which is the whole point of running it live. Full replay must
    land on the batch twin's final row (ab_test_sprt); the four SPRT
    constants are imported from the batch module so both disciplines
    share bit-identical literals."""
    import pandas as pd

    from etl_lens_spark.queries.mlprep_q import (
        _SPRT_LL,
        _SPRT_LO,
        _SPRT_LW,
        _SPRT_UP,
    )

    def update(key, pdf_iter, state):
        if state.exists:
            nraw, craw, seq = state.get
            nmap, cmap = dict(nraw), dict(craw)
        else:
            nmap, cmap, seq = {}, {}, 0
        for pdf in pdf_iter:
            us = (pdf["ts"].astype("int64") // 1000)
            days = us // 86400000000
            purch = (pdf["event_type"] == "purchase").astype(int)
            for d, p in zip(days, purch):
                d = int(d)
                nmap[d] = nmap.get(d, 0) + 1
                cmap[d] = cmap.get(d, 0) + int(p)
        seq += 1
        state.update((nmap, cmap, seq))
        cum = 0.0
        first_day, decision = None, "continue"
        for d in sorted(nmap):
            n, conv = nmap[d], cmap.get(d, 0)
            cum += conv * _SPRT_LW + (n - conv) * _SPRT_LL
            if first_day is None:
                if cum >= _SPRT_UP:
                    first_day, decision = d, "accept_h1"
                elif cum <= _SPRT_LO:
                    first_day, decision = d, "accept_h0"
        if first_day is None:
            decision = "continue"
        yield pd.DataFrame(
            {
                "grp": [key[0]],
                "seq": [seq],
                "n_days": [len(nmap)],
                "cum_llr": [round(cum, 6)],
                "decision": [decision],
                "first_decision_day": [first_day],
            }
        )

    from pyspark.sql import functions as SF

    return (
        events.withColumn("grp", SF.lit("all"))
        .groupBy("grp")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "grp string, seq long, n_days long, cum_llr double, "
                "decision string, first_decision_day long"
            ),
            stateStructType=(
                "nmap map<bigint,bigint>, cmap map<bigint,bigint>, "
                "seq long"
            ),
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the orders fixture (same schema-probe
    discipline as events_stream — o_orderdate has shipped as both
    ns-backed and µs-naive)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path = os.path.join(sf_dir, "orders.parquet")
    od_type = (
        parquet_schema(spark, table_path)["o_orderdate"]
        .dataType.simpleString()
    )
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        f"o_totalprice double, o_orderdate {od_type}, "
        "o_orderpriority string"
    )
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(table_path):
        raw = reader.load(table_path)
    else:
        raw = reader.option(
            "pathGlobFilter", "orders.parquet"
        ).load(sf_dir)
    if od_type == "bigint":
        raw = raw.withColumn(
            "o_orderdate",
            F.expr("timestamp_micros(o_orderdate div 1000)"),
        )
    elif od_type == "timestamp_ntz":
        raw = raw.withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )
    return raw


def holt_winters_stateful(orders_joined: DataFrame) -> DataFrame:
    """Live Holt–Winters per nation: the per-day revenue map grows in
    a map-typed state column (bounded by the horizon in days), and
    each micro-batch re-runs the SAME sequential smoothing recursion
    the batch twin (ts_holt_winters_fit) runs — identical constants
    imported from the batch module, identical init (first two weeks),
    identical update order — so full replay lands on the batch
    level/trend/RMSE/forecast bit-for-bit. This is the live-forecast
    duality the streaming surface keeps demonstrating: batch rewrites
    or replays the recursion offline; the stream IS the recursion,
    re-evaluated as data lands. Keyed by nation → parallel across
    series exactly like the batch applyInPandas."""
    import pandas as pd

    from etl_lens_spark.queries.timeseries_q import (
        _HW_ALPHA,
        _HW_BETA,
        _HW_GAMMA,
        _HW_M,
        _HW_OMA,
        _HW_OMB,
        _HW_OMG,
    )

    def update(key, pdf_iter, state):
        if state.exists:
            raw, seq = state.get
            cents = dict(raw)
        else:
            cents, seq = {}, 0
        for pdf in pdf_iter:
            days = pdf["d"]
            vals = pdf["cents"]
            for d, c in zip(days, vals):
                d = int(d)
                cents[d] = cents.get(d, 0) + int(c)
        seq += 1
        state.update((cents, seq))
        m = _HW_M
        dmax = max(cents)
        y = [cents.get(d, 0) / 100.0 for d in range(0, dmax + 1)]
        out = {
            "nk": [key[0]],
            "seq": [seq],
            "n_days": [len(y)],
            "level": [None],
            "trend": [None],
            "rmse": [None],
            "forecast_next": [None],
        }
        if len(y) >= 2 * m + 1:
            acc1 = 0.0
            for i in range(m):
                acc1 = acc1 + float(y[i])
            acc2 = 0.0
            for i in range(m, 2 * m):
                acc2 = acc2 + float(y[i])
            l = acc1 / float(m)
            b = (acc2 / float(m) - acc1 / float(m)) / float(m)
            s = [float(y[i]) - l for i in range(m)]
            sse, n_err = 0.0, 0
            for t in range(m, len(y)):
                yt = float(y[t])
                shat = s[t % m]
                err = yt - (l + b + shat)
                l_new = _HW_ALPHA * (yt - shat) + _HW_OMA * (l + b)
                b_new = _HW_BETA * (l_new - l) + _HW_OMB * b
                s[t % m] = _HW_GAMMA * (yt - l_new) + _HW_OMG * shat
                sse = sse + err * err
                n_err += 1
                l, b = l_new, b_new
            t_fin = len(y)
            out.update(
                {
                    "level": [l],
                    "trend": [b],
                    "rmse": [(sse / n_err) ** 0.5],
                    "forecast_next": [l + b + s[t_fin % m]],
                }
            )
        yield pd.DataFrame(out)

    return orders_joined.groupBy("nk").applyInPandasWithState(
        update,
        outputStructType=(
            "nk int, seq long, n_days long, level double, "
            "trend double, rmse double, forecast_next double"
        ),
        stateStructType="cents map<bigint,bigint>, seq long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


GK_OUTPUT = (
    "event_type string, n_seen long, sketch_size long, "
    "q50 double, q90 double, q99 double"
)
GK_STATE = "vs array<double>, gs array<long>, ds array<long>, n long"


def gk_quantiles_stateful(
    events: DataFrame, eps: float = 0.01
) -> DataFrame:
    """Live streaming quantiles per event_type: a Greenwald–Khanna
    ε-approximate summary (SIGMOD'01) as a custom stateful operator —
    O((1/ε)·log(εn)) tuples of (value, g, Δ) state per key replace
    the unbounded buffer an exact streaming percentile would need.

    Per micro-batch: sorted one-at-a-time inserts (new tuple g=1,
    Δ=⌊2εn⌋−1 clamped ≥0, with exact min/max kept at the ends), then
    one right-to-left compress pass merging tuple i into i+1 while
    g_i + g_{i+1} + Δ_{i+1} ≤ 2εn. Quantile φ answers the first
    tuple whose successor's max-rank overshoots ⌈φn⌉ + εn.

    Unlike the KMV / bitmap / CMS live twins, a GK summary in update
    mode is NOT replay-exact (tuple layout depends on arrival order
    and batch boundaries), so the registry records rows-only; the
    ±εn rank-error CONTRACT — the guarantee that survives any
    arrival order — is pinned against exact batch ranks in
    tests/test_streaming_gk.py.

    Scale posture: keyed by event_type so state shards across
    executors; per-key state is a few hundred tuples at ε=0.01
    regardless of stream length (the point of the sketch)."""
    import bisect
    import math

    import pandas as pd

    def _compress(vs, gs, ds, n):
        thresh = 2.0 * eps * n
        i = len(vs) - 2
        while i >= 1:
            if gs[i] + gs[i + 1] + ds[i + 1] <= thresh:
                gs[i + 1] += gs[i]
                del vs[i], gs[i], ds[i]
            i -= 1

    def _insert(vs, gs, ds, n, v):
        if not vs or v < vs[0]:
            vs.insert(0, v), gs.insert(0, 1), ds.insert(0, 0)
            return
        if v >= vs[-1]:
            vs.append(v), gs.append(1), ds.append(0)
            return
        i = bisect.bisect_right(vs, v)
        d = max(0, int(math.floor(2.0 * eps * n)) - 1)
        vs.insert(i, v), gs.insert(i, 1), ds.insert(i, d)

    def _query(vs, gs, ds, n, phi):
        # Among tuples whose [rmin, rmax] interval is fully inside
        # r ± εn (the paper guarantees one exists for a valid
        # summary), return the one whose rank-interval midpoint is
        # closest to r — symmetric, so tail quantiles don't collapse
        # onto the exact-max sentinel tuple.
        r = max(1, int(math.ceil(phi * n)))
        slack = eps * n
        rmin, best, best_gap, fallback = 0, None, float("inf"), vs[0]
        for v, g, d in zip(vs, gs, ds):
            rmin += g
            rmax = rmin + d
            if rmin <= r:
                fallback = v  # last tuple not past the target rank
            if rmin >= r - slack and rmax <= r + slack:
                gap = abs((rmin + rmax) / 2.0 - r)
                if gap < best_gap:
                    best, best_gap = v, gap
            elif rmin > r + slack:
                break
        return best if best is not None else fallback

    def update(key, pdf_iter, state):
        if state.exists:
            vs_t, gs_t, ds_t, n = state.get
            vs, gs, ds = list(vs_t), list(gs_t), list(ds_t)
        else:
            vs, gs, ds, n = [], [], [], 0
        period = max(1, int(1.0 / (2.0 * eps)))
        for pdf in pdf_iter:
            for v in pdf["value"].dropna():
                _insert(vs, gs, ds, n, float(v))
                n += 1
                # the paper's schedule: compress every ⌊1/(2ε)⌋
                # inserts — bounds LIVE summary size (and thus each
                # O(size) list insert) at O((1/ε)·log(εn)) even
                # inside a huge micro-batch, not just the persisted
                # state between batches
                if n % period == 0:
                    _compress(vs, gs, ds, n)
            _compress(vs, gs, ds, n)
        state.update((vs, gs, ds, n))
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "sketch_size": [len(vs)],
                "q50": [_query(vs, gs, ds, n, 0.50)],
                "q90": [_query(vs, gs, ds, n, 0.90)],
                "q99": [_query(vs, gs, ds, n, 0.99)],
            }
        )

    vals = events.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    return vals.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=GK_OUTPUT,
        stateStructType=GK_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


TDIGEST_OUTPUT = (
    "event_type string, n_seen long, n_centroids long, "
    "q05 double, q25 double, q50 double, q75 double, q95 double"
)
TDIGEST_STATE = "means array<double>, weights array<double>, n long"


def tdigest_stateful(
    events: DataFrame, delta: int = 100
) -> DataFrame:
    """Live t-digest quantiles per event_type — the SIXTH live
    sketch twin (KMV, bitmap, CMS, GK, MG): per-key state is the
    digest's centroid arrays (≤ ~2δ rows regardless of stream
    length), each micro-batch folds its values in with ONE
    deterministic compress pass over (state centroids ∪ batch values
    at weight 1) — operators/tdigest.compress, the same kernel the
    batch two-level digest uses, so the live and batch paths cannot
    drift algorithmically.

    Like the GK twin (and unlike the linear KMV/bitmap/CMS ones), a
    fold-as-you-go digest is NOT replay-exact: centroid boundaries
    depend on batch boundaries, so the registry records rows-only
    and the emitted output carries only the ARRIVAL-ORDER-INVARIANT
    contracts (rank error ≤ 1.5%, centroid bound) — the raw
    estimates stay out of the hashed surface, exactly the
    sketch_tdigest_quantiles convention.

    Scale posture: keyed state shards across executors; per-key
    state is O(δ) doubles; fold cost per batch is
    O((batch + δ)·log) for the sort inside compress — no values
    retained, no unbounded buffers."""
    import numpy as np
    import pandas as pd

    from etl_lens_spark.operators.tdigest import _quantile, compress

    qs = [0.05, 0.25, 0.50, 0.75, 0.95]

    def update(key, pdf_iter, state):
        if state.exists:
            means_t, weights_t, n = state.get
            means = np.asarray(means_t, dtype=float)
            weights = np.asarray(weights_t, dtype=float)
        else:
            means = np.empty(0)
            weights = np.empty(0)
            n = 0
        for pdf in pdf_iter:
            v = pdf["value"].dropna().to_numpy(dtype=float)
            if not len(v):
                continue
            n += len(v)
            means = np.concatenate([means, v])
            weights = np.concatenate([weights, np.ones_like(v)])
            means, weights = compress(means, weights, delta)
        state.update((means.tolist(), weights.tolist(), n))
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "n_centroids": [len(means)],
                **{
                    f"q{int(q * 100):02d}": [_quantile(means, weights, q)]
                    for q in qs
                },
            }
        )

    vals = events.filter(F.col("value").isNotNull()).select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    return vals.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=TDIGEST_OUTPUT,
        stateStructType=TDIGEST_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


MG_OUTPUT = (
    "shard long, item string, partial long, n_seen long, emit_seq long"
)
MG_STATE = "items array<string>, counts array<long>, n long, seq long"


def mg_heavy_stateful(
    events: DataFrame, k: int = 8, n_shards: int = 4
) -> DataFrame:
    """Live Misra–Gries heavy hitters, sharded: each of ``n_shards``
    keys maintains its own k−1-counter MG summary over the event_type
    stream (operators/mg.py as a STREAMING state machine). Emits the
    full per-shard summary each update so the reader can apply the
    mergeable-summaries combine (mg.mg_merge_partials) across shards
    — per-shard error ≤ n_shard/k and the merge preserves ≤ n/k over
    the union, the Agarwal et al. result that makes MG shardable at
    all.

    State per key: ≤ k−1 (item, count) pairs + the monotone n —
    bytes, regardless of stream length. Like GK (and unlike the
    lossless KMV/bitmap live twins), summary CONTENTS depend on
    arrival order, so the registry records rows-only; the theorem
    columns are the contract (tests/test_mg.py)."""
    import pandas as pd

    def update(key, pdf_iter, state):
        if state.exists:
            items, counts, n, seq = state.get
            c = dict(zip(list(items), [int(x) for x in counts]))
        else:
            c, n, seq = {}, 0, 0
        for pdf in pdf_iter:
            for item in pdf["item"].dropna():
                n += 1
                if item in c:
                    c[item] += 1
                elif len(c) < k - 1:
                    c[item] = 1
                else:
                    c = {i: v - 1 for i, v in c.items() if v > 1}
        seq += 1  # monotone per update — n_seen alone can tie (e.g.
        # an all-null batch re-emits the prior summary unchanged)
        state.update((list(c), list(c.values()), n, seq))
        if not c:
            # tombstone: a decrement cascade CAN empty the summary;
            # emitting nothing would leave the reader's max(emit_seq)
            # pointing at a stale non-empty snapshot, silently
            # breaking the ≤ n/k contract. A null-item row keeps the
            # emission sequence dense; readers drop null items after
            # selecting the final sequence.
            yield pd.DataFrame(
                {
                    "shard": [key[0]],
                    "item": [None],
                    "partial": [0],
                    "n_seen": [n],
                    "emit_seq": [seq],
                }
            )
            return
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(c),
                "item": list(c),
                "partial": list(c.values()),
                "n_seen": [n] * len(c),
                "emit_seq": [seq] * len(c),
            }
        )

    keyed = events.select(
        (F.col("user_id") % n_shards).alias("shard"),
        F.col("event_type").alias("item"),
    ).filter(F.col("shard").isNotNull())
    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=MG_OUTPUT,
        stateStructType=MG_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
