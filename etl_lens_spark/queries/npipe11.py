"""Round-9 tranche: the lakehouse loop made DURABLE and BOUNDED —
CDF retention (vacuum for change records, VERDICT r8 item 1),
restartable materialized-view IVM persisted as a lake table with a
REAL checkpoint restart (item 2), incremental MinHash-LSH dedup fed
by the CDF against a maintained band-index table (item 3), column
mapping × CDF/RESTORE closure (item 4), and persisted + streaming
t-digests (item 5).

Same contract as every npipe tranche: PySpark plan + hand-written
DuckDB oracle on identical parquet where the math is SQL-expressible;
rows-only + pinned invariant contracts where it is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.operators.staging import freeze, stage
from etl_lens_spark.queries import bench_setup, query
from etl_lens_spark.sources import sinks
from etl_lens_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# CDF retention: vacuum(cdf_retain_versions=N) bounds recorded change
# data to the horizon; serving refuses a reclaimed range.
# ---------------------------------------------------------------------------


@query(
    "lake_cdf_retention",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    ch AS (
      SELECT k + 100000000 AS k, cents, 'insert' AS ct, 3 AS v
      FROM v0 WHERE k % 20 = 3
      UNION ALL
      SELECT k, cents, 'delete', 4 FROM v0 WHERE k % 20 = 11
    )
    SELECT ct AS change_type,
           CAST(v AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(2 AS BIGINT) AS n_records_reclaimed,
           CAST(1 AS BIGINT) AS refused_below_horizon,
           CAST(1 AS BIGINT) AS retained_serving_intact
    FROM ch
    GROUP BY ct, v
    ORDER BY change_type, commit_version
    """,
)
def lake_cdf_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF RETENTION — the round-8 verdict's one unbounded-state
    scale-killer closed: a lake table takes four cdf=True DMLs
    (v1 MERGE-update, v2 DELETE, v3 MERGE-insert, v4 DELETE), then
    ``vacuum(retain_versions=4, cdf_retain_versions=1)`` reclaims the
    change records of v1 and v2 (below the head−1 horizon) while
    keeping every data snapshot — the two horizons are independent
    dials, exactly Delta's changeDataFeed-expires-with-retention
    contract. Three pinned behaviours ride the output:

    - ``n_records_reclaimed`` = 2 — the reclaim count the vacuum
      reported;
    - ``refused_below_horizon`` = 1 — ``table_changes`` over a range
      touching a reclaimed record raises a clear error
      (commit_change_plan's refusal) instead of silently serving an
      empty or partial feed;
    - ``retained_serving_intact`` = 1 — serving entirely inside the
      retained window returns byte-identical rows before and after
      the vacuum (collected and compared in-query).

    The oracle recomputes the retained window's change rows (v3's
    re-keyed inserts, v4's deletes) relationally from orders.

    100 TB posture: a streaming table committing every minute now
    has an O(retained-window) ``_cdc`` footprint instead of
    unbounded growth; reclaim itself is O(records dropped) driver-
    side renames, zero jobs. Reference analog: none (src/main.cpp
    re-reads one file per query) — [L] lakehouse surface."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("cdf_ret")
    shutil.rmtree(base, ignore_errors=True)
    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    v0.write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark,
        base,
        v0.filter(F.col("k") % 20 == 1).select(
            "k", (F.col("cents") * 2).alias("cents")
        ),
        ["k"],
        cdf=True,
    )  # v1: updates (record will be reclaimed)
    lakelog.delete_where(spark, base, F.col("k") % 20 == 7, cdf=True)  # v2
    lakelog.merge_upsert(
        spark,
        base,
        v0.filter(F.col("k") % 20 == 3).select(
            (F.col("k") + 100000000).alias("k"), "cents"
        ),
        ["k"],
        cdf=True,
    )  # v3: inserts (retained)
    lakelog.delete_where(spark, base, F.col("k") % 20 == 11, cdf=True)  # v4

    def _serve_retained():
        return (
            lakelog.table_changes(spark, base, 2, 4)
            .groupBy(
                F.col("_change_type").alias("change_type"),
                F.col("_commit_version").alias("commit_version"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("k").cast("long").alias("key_sum"),
                F.sum("cents").cast("long").alias("cents_sum"),
            )
            .orderBy("change_type", "commit_version")
        )

    before = [tuple(r) for r in _serve_retained().collect()]
    res = lakelog.vacuum(base, retain_versions=4, cdf_retain_versions=1)
    served = _serve_retained()
    after = [tuple(r) for r in served.collect()]
    refused = 0
    try:
        lakelog.table_changes(spark, base, 0, 4).count()
    except ValueError as e:
        refused = int("reclaimed by CDF retention" in str(e))
    flags = spark.createDataFrame(
        [
            (
                int(res["n_cdc_records_deleted"]),
                refused,
                int(after == before),
            )
        ],
        "n_records_reclaimed long, refused_below_horizon long, "
        "retained_serving_intact long",
    )
    out = served.crossJoin(F.broadcast(flags)).orderBy(
        "change_type", "commit_version"
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Restartable materialized-view IVM: the view IS a lake table, the
# refresh is a CDF stream with exactly-once idempotent commits, and
# the restart is REAL (crash injected mid-backlog, same checkpoint).
# ---------------------------------------------------------------------------

_IVM_RESTART_ORACLE = """
    WITH o0 AS (
      SELECT o_orderkey AS k, o_custkey AS custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    o1 AS (
      SELECT k, custkey,
             CASE WHEN k % 20 = 1 THEN cents * 2 ELSE cents END AS cents
      FROM o0
      UNION ALL
      SELECT k + 300000000, custkey, cents FROM o0 WHERE k % 20 = 3
    ),
    ofin AS (SELECT * FROM o1 WHERE k % 13 <> 0)
    SELECT CAST(custkey % 25 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(0 AS BIGINT) AS audit_mismatch,
           CAST(1 AS BIGINT) AS replay_absorbed,
           CAST(1 AS BIGINT) AS orphans_removed,
           CAST(1 AS BIGINT) AS txn_high_water
    FROM ofin
    GROUP BY custkey % 25
    ORDER BY bucket
"""


@query("warehouse_ivm_restartable", oracle=_IVM_RESTART_ORACLE)
def warehouse_ivm_restartable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTARTABLE MATERIALIZED-VIEW IVM — the round-8 delta rules
    made production-durable (VERDICT r8 item 2): the view
    ``γ_{custkey%25}(count, sum cents)(orders)`` lives in its OWN
    lake table, maintained by a foreachBatch sink over the
    ``lakelog_cdf`` stream, one maintenance epoch per source commit,
    every epoch the SAME code path (epoch 0's seed inserts ARE the
    initial materialization — maintain_agg over an empty view).
    Each refresh commits through ``commit_idempotent`` keyed by the
    stream epoch, so sink progress lives in the view table's txn
    high-water mark and source progress in the stream checkpoint.

    The restart is REAL, not simulated: run 1 starts while the
    source holds only v0+v1, and a crash is injected inside the sink
    AFTER epoch 0's view commit lands but BEFORE Spark can mark the
    batch complete — the stream dies with its work committed to the
    SINK but not to its own checkpoint (the classic
    crash-between-the-two-logs window). The v2 DELETE then commits
    to the source, and a NEW query object resumes from the SAME
    checkpoint: Spark re-executes epoch 0 from its offset WAL (the
    sink recomputes a WOULD-BE-double-applied view, whose commit the
    txn mark absorbs — ``replay_absorbed`` pinned 1, its orphaned
    write reclaimed, ``orphans_removed`` pinned 1), then processes
    v2 as epoch 1. ``txn_high_water`` pinned 1 and
    ``audit_mismatch`` (full recompute from the head snapshot vs the
    PERSISTED view) pinned 0 prove no double-application and no gap;
    the DuckDB oracle hash-matches the final view from final states.

    100 TB posture: each epoch's maintenance is O(rows changed in
    its commit) — the delta aggregate shuffles ≤ groups-touched
    rows; the view rewrite is O(view), which for an aggregate view
    is groups, not facts; a crash at ANY point replays at most one
    epoch and the txn mark absorbs it. This is the lakehouse
    materialized-view architecture (Delta Live Tables / Snowflake
    dynamic tables shape) on the repo's own log."""
    import os as _os
    import shutil
    import uuid

    from etl_lens_spark.operators import ivm, lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    # the _ivm_orders_build fixture, STAGED: v0 seed + v1 MERGE land
    # before run 1; the v2 DELETE lands between the crash and the
    # restart (the backlog a restarted maintainer must catch up on)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("custkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ot = sinks.scratch_path("rivm_orders")
    shutil.rmtree(ot, ignore_errors=True)
    orders.write.parquet(f"{ot}/s0")
    lakelog.commit(ot, 0, [{"add": "s0"}])
    o0 = lakelog.read_snapshot(spark, ot, 0)
    src = (
        o0.filter(F.col("k") % 20 == 1)
        .select("k", "custkey", (F.col("cents") * 2).alias("cents"))
        .unionByName(
            o0.filter(F.col("k") % 20 == 3).select(
                (F.col("k") + 300000000).alias("k"), "custkey", "cents"
            )
        )
    )
    lakelog.merge_upsert(spark, ot, src, ["k"], cdf=True)  # v1
    vt = sinks.scratch_path("rivm_view")
    shutil.rmtree(vt, ignore_errors=True)
    _os.makedirs(vt)
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    app_id = "ivm_refresh"
    sink_log: list[dict] = []
    crash = {"armed": True}
    empty_view = spark.createDataFrame(
        [], "bucket long, n_orders long, cents_sum long"
    )

    def _refresh(batch_df, epoch: int) -> dict:
        prev = (
            lakelog.snapshot_actions(vt)
            if lakelog.latest_version(vt) >= 0
            else {}
        )
        view_old = lakelog.read_snapshot(spark, vt) if prev else empty_view
        dz = ivm.consolidate(
            ivm.changes_to_zset(batch_df, ["k", "custkey", "cents"])
        )
        delta = dz.withColumn("bucket", F.col("custkey") % 25)
        new = ivm.maintain_agg(
            view_old,
            delta,
            ["bucket"],
            "n_orders",
            {"cents_sum": F.col("cents")},
        )
        # fresh rel per attempt: a replayed epoch's write must be
        # harmless debris, never an overwrite of the live view
        rel = f"view_{epoch:05d}_{uuid.uuid4().hex[:8]}"
        new.coalesce(4).write.parquet(_os.path.join(vt, rel))
        actions = [{"remove": r} for r in prev] + [{"add": rel}]
        return lakelog.commit_idempotent(vt, app_id, epoch, actions)

    def sink(batch_df, epoch_id):
        res = _refresh(
            freeze(batch_df, "outlives its batch"), int(epoch_id)
        )
        sink_log.append({"epoch": int(epoch_id), **res})
        if int(epoch_id) == 0 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError(
                "injected crash: view commit landed, batch not yet "
                "marked complete"
            )

    ckpt = sinks.scratch_path(f"ckpt_rivm_{uuid.uuid4().hex}")

    def _run() -> None:
        q = (
            spark.readStream.format("lakelog_cdf")
            .option("path", ot)
            .option("schema_ddl", "k long, custkey long, cents long")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass  # run 1 dies on the injected crash — the point
        finally:
            q.stop()

    _run()  # run 1: epoch 0 (v0+v1) commits to the VIEW, then dies
    lakelog.delete_where(spark, ot, F.col("k") % 13 == 0, cdf=True)  # v2
    _run()  # run 2: SAME checkpoint — replay 0 (absorbed), then v2

    by_epoch: dict[int, list[dict]] = {}
    for entry in sink_log:
        by_epoch.setdefault(entry["epoch"], []).append(entry)
    replay_absorbed = int(
        len(by_epoch.get(0, [])) == 2
        and not by_epoch[0][0]["skipped"]
        and by_epoch[0][1]["skipped"]
    )
    txn_high = lakelog.txn_version(vt, app_id)
    orphans = lakelog.remove_orphans(vt)

    view = lakelog.read_snapshot(spark, vt)
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .groupBy((F.col("custkey") % 25).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("r_n"),
            F.sum("cents").cast("long").alias("r_s"),
        )
    )
    audit = (
        view.join(recompute, "bucket", "full_outer")
        .filter(
            ~(
                F.col("n_orders").eqNullSafe(F.col("r_n"))
                & F.col("cents_sum").eqNullSafe(F.col("r_s"))
            )
        )
        .count()
    )
    flags = spark.createDataFrame(
        [
            (
                int(audit),
                replay_absorbed,
                int(bool(orphans["n_removed"])),
                int(txn_high if txn_high is not None else -1),
            )
        ],
        "audit_mismatch long, replay_absorbed long, "
        "orphans_removed long, txn_high_water long",
    )
    out = (
        view.select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_orders",
            "cents_sum",
        )
        .crossJoin(F.broadcast(flags))
        .orderBy("bucket")
    )
    rows = out.collect()
    for d in (ot, vt, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH dedup from the CDF: delta documents probe a
# MAINTAINED band-index lake table; only delta-vs-corpus candidates
# are ever scored. The LLM-pipeline loop closed the way SCD2/IVM
# closed the warehouse loop.
# ---------------------------------------------------------------------------

_LSH_BANDS = 16
_LSH_HASHES = 64
_LSH_THETA = 0.5


def _lsh_banded(docs: DataFrame) -> DataFrame:
    from etl_lens_spark.dedup.minhash import (
        add_minhash_signature,
        add_shingles,
        banded_rows,
    )

    sg = add_minhash_signature(
        add_shingles(docs, "text", n=3),
        num_hashes=_LSH_HASHES,
    )
    return banded_rows(sg, "doc_id", "minhash", bands=_LSH_BANDS)


def _lsh_dedup_build(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Corpus lake fixture: v0 seed (doc_id %10 < 8), v1 append (the
    other 20%), v2 predicate DELETE (%17 == 3) with cdf=True."""
    import shutil

    from etl_lens_spark.operators import lakelog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = sinks.scratch_path(tag)
    shutil.rmtree(base, ignore_errors=True)
    docs.filter(F.col("doc_id") % 10 < 8).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    docs.filter(F.col("doc_id") % 10 >= 8).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # insert commit
    lakelog.delete_where(spark, base, F.col("doc_id") % 17 == 3, cdf=True)
    return base


_LSH_MAX_BUCKET = 1000


def _lsh_insert_deltas(
    delta_banded: DataFrame, index_banded: DataFrame | None = None
) -> DataFrame:
    """ONE definition of the insert rule's candidate algebra, shared
    by the batch query, its bench thunk, and the streaming twin so
    the three cannot drift (the npipe10 _ivm_maintained_view
    precedent — review fix): support deltas from a delta self-join
    plus, when a standing index exists, delta-vs-index probing —
    under the SAME degenerate-bucket guard the batch headline
    applies (VERDICT r9: the guard must ride both the maintained and
    the from-scratch path or the equality pin is vacuous). The
    corpus is never re-self-joined."""
    from etl_lens_spark.dedup.minhash import guarded_insert_support

    return guarded_insert_support(
        delta_banded,
        index_banded,
        max_bucket=_LSH_MAX_BUCKET,
        min_est_jaccard=_LSH_THETA,
    )


def _lsh_delete_deltas(
    gone_banded: DataFrame, index_banded: DataFrame, gone: DataFrame
) -> DataFrame:
    """ONE definition of the delete rule's support re-grants:
    buckets the departures shrink back under the guard re-admit
    pairs among their remaining members."""
    from etl_lens_spark.dedup.minhash import guarded_delete_support

    return guarded_delete_support(
        gone_banded,
        index_banded,
        gone,
        max_bucket=_LSH_MAX_BUCKET,
        min_est_jaccard=_LSH_THETA,
    )


def _lsh_drop_pairs(pairs: DataFrame, gone: DataFrame) -> DataFrame:
    """ONE definition of the delete rule: every maintained pair
    touching a deleted id leaves — two broadcast anti-joins. ``gone``
    carries one ``__gone`` column."""
    return pairs.join(
        F.broadcast(gone), F.col("doc_a") == F.col("__gone"), "left_anti"
    ).join(
        F.broadcast(gone), F.col("doc_b") == F.col("__gone"), "left_anti"
    )


_LSH_COMPACT_EVERY = 8


class _LshLiveState:
    """In-session LSH maintenance state, shared by the live streaming
    twin and the long-stream plan-depth test: per-epoch checkpointed
    index delta frames + delete tombstones + the pair-support state,
    FOLDED into one re-checkpointed index frame whenever the part +
    tombstone count exceeds ``_LSH_COMPACT_EVERY`` (VERDICT r9 item
    3 — the round-8 log-checkpointing precedent applied to
    in-session state: without compaction a long-lived stream
    accumulates O(epochs) unions plus one anti-join per tombstone
    batch in every probe's plan). Compaction costs O(index) once per
    K epochs — amortized O(index/K) — and bounds plan depth by K
    regardless of stream length
    (test_lsh_live_state_bounded_plan_depth pins it at 24 epochs).
    Inserts and deletes run the SAME guarded support algebra as the
    batch twin (_lsh_insert_deltas / _lsh_delete_deltas /
    _lsh_drop_pairs), so the two cannot drift. The batch variant
    persists the same state as lake tables — the durable production
    shape; this class is the bounded in-session analog."""

    def __init__(self) -> None:
        # index bookkeeping delegates to the shared LiveIndexState
        # (ordered parts/tombstones — a tombstone folds over only the
        # parts that PRECEDE it, so a re-inserted key survives — plus
        # K-bounded compaction); only the pair-support algebra lives
        # here
        from etl_lens_spark.streaming.live_index import LiveIndexState

        self.idx = LiveIndexState(
            "__id", compact_every=_LSH_COMPACT_EVERY
        )
        self.pairs: DataFrame | None = None

    @property
    def events(self) -> list[tuple[str, DataFrame]]:
        return self.idx.events

    @property
    def index_parts(self) -> list[DataFrame]:
        return self.idx.index_parts

    @property
    def tombstones(self) -> list[DataFrame]:
        return self.idx.tombstones

    def index_view(self) -> DataFrame | None:
        return self.idx.view()

    def apply_inserts(self, ins: DataFrame) -> None:
        from etl_lens_spark.dedup.minhash import merge_support

        delta_banded = freeze(_lsh_banded(ins), "outlives its batch")
        deltas = _lsh_insert_deltas(delta_banded, self.index_view())
        self.pairs = freeze(
            merge_support(self.pairs, deltas), "outlives its batch"
        )
        self.idx.append(delta_banded)

    def apply_deletes(self, gone_rows: DataFrame) -> None:
        from etl_lens_spark.dedup.minhash import merge_support

        pre = self.index_view()
        if pre is None:
            return  # nothing indexed yet, nothing to drop
        gone = (
            gone_rows.select(F.col("doc_id").alias("__gone"))
            .distinct()
            .transform(freeze, "outlives its batch")
        )
        regrants = _lsh_delete_deltas(_lsh_banded(gone_rows), pre, gone)
        dropped = (
            _lsh_drop_pairs(self.pairs, gone)
            if self.pairs is not None
            else None
        )
        self.pairs = freeze(
            merge_support(dropped, regrants), "outlives its batch"
        )
        self.idx.delete(gone)


@query(
    "dedup_incremental_lsh_cdf",
    headline=True,
    oracle=f"""
    WITH head AS (
      SELECT doc_id FROM documents WHERE doc_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_docs,
           CAST(COUNT(*) * {_LSH_BANDS} AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS pairs_missing,
           CAST(0 AS BIGINT) AS pairs_extra,
           CAST(1 AS BIGINT) AS pairs_nonzero
    FROM head
    """,
)
def dedup_incremental_lsh_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL NEAR-DUP DEDUP FROM THE CDF (VERDICT r8 item 3) —
    the LLM-pipeline loop closed the way SCD2/IVM closed the
    warehouse loop: the corpus is a lake table (v0 seed 80%, v1
    append 20%, v2 cdf DELETE of %17==3), the MinHash band index is
    a SECOND lake table maintained from the corpus's change feed,
    and the duplicate-pair set is maintained incrementally:

    - v1 inserts (via ``table_changes``): the delta's band rows are
      computed once, candidate pairs come from delta-vs-INDEX probing
      plus a delta-vs-delta self-join — the standing corpus is never
      re-self-joined — and the delta's band rows append to the index;
    - v2 deletes: the deleted ids' band rows leave the index (one
      broadcast anti-join rewrite — the join-based MERGE DELETE
      shape) and every maintained pair touching a deleted id is
      dropped.

    The proof (pinned in-output): the maintained pair set equals the
    from-scratch banded LSH over the head snapshot EXACTLY
    (``pairs_missing`` = ``pairs_extra`` = 0 via two anti-joins), the
    maintained index holds exactly head_docs × bands rows, and
    ``pairs_nonzero`` = 1 (the documents fixture carries real
    near-dups). Banding is shared code (``dedup.minhash.banded_rows``
    / ``bucket_pairs``) so the incremental and batch paths cannot
    hash into different buckets — and as of round 10 the
    degenerate-bucket SKEW GUARD rides BOTH paths (VERDICT r9 item
    2): the maintained pair set carries a per-pair refcount of
    supporting small buckets (``guarded_insert_support`` /
    ``guarded_delete_support``), so a bucket crossing the
    ``max_bucket`` threshold in either direction retracts or
    re-grants exactly the support it contributed, and the
    from-scratch audit applies the IDENTICAL ``guard_banded`` rule.
    The threshold-crossing algebra itself is pinned by
    ``test_dedup.py::test_guarded_incremental_matches_scratch`` on a
    planted-boilerplate corpus where the unguarded probe would go
    quadratic.

    100 TB posture: nightly cost is O(delta × matching bands), not a
    corpus re-scan — the standing corpus contributes only the probed
    band rows of buckets the delta touches (with the index bucketed
    by band_hash that is a pruned read; the guard's bucket counts
    come from those SAME probe rows, zero extra state or scans); the
    index update is an append plus an O(changes) anti-join delete.
    The quadratic all-pairs shape never appears: pairs are generated
    inside shared SMALL buckets only, and a boilerplate bucket is
    now suppressed in the incremental path exactly as in the batch
    headline."""
    import shutil

    from etl_lens_spark.dedup.minhash import (
        guard_banded,
        merge_support,
        pairs_from_bands,
    )
    from etl_lens_spark.operators import lakelog

    dt = _lsh_dedup_build(spark, sf_dir, "ilsh_docs")
    bt = sinks.scratch_path("ilsh_index")
    shutil.rmtree(bt, ignore_errors=True)

    # --- seed: index + pair-support state over the v0 corpus
    seed_banded = _lsh_banded(
        lakelog.read_snapshot(spark, dt, 0)
    ).transform(stage, "seed_banded")
    seed_banded.write.parquet(f"{bt}/s0")
    lakelog.commit(bt, 0, [{"add": "s0"}])
    pairs = merge_support(
        None, _lsh_insert_deltas(seed_banded)
    ).transform(stage, "pairs")

    # --- v1 inserts: probe the index, then append to it
    ins = (
        lakelog.table_changes(spark, dt, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("doc_id", "text")
    )
    delta_banded = stage(_lsh_banded(ins), "delta_banded")
    index0 = lakelog.read_snapshot(spark, bt, 0)
    pairs = merge_support(
        pairs, _lsh_insert_deltas(delta_banded, index0)
    ).transform(stage, "pairs_2")
    delta_banded.write.parquet(f"{bt}/s1")
    lakelog.commit(bt, 1, [{"add": "s1"}])

    # --- v2 deletes: band rows leave the index, pairs touching the
    # deleted ids leave the pair set, and buckets shrinking back
    # under the guard re-grant support to their remaining members
    # (the deltas' band rows are re-derived from the CDF's full
    # delete images — O(departures), never an index scan by id)
    del_rows = (
        lakelog.table_changes(spark, dt, 1, 2)
        .filter(F.col("_change_type") == "delete")
        .select("doc_id", "text")
        .transform(stage, "del_rows")
    )
    dels = (
        del_rows.select(F.col("doc_id").alias("__gone"))
        .distinct()
        .transform(stage, "dels")
    )
    gone_banded = _lsh_banded(del_rows)
    pre_index = lakelog.read_snapshot(spark, bt)
    regrants = _lsh_delete_deltas(gone_banded, pre_index, dels)
    pairs = merge_support(
        _lsh_drop_pairs(pairs, dels), regrants
    ).transform(stage, "pairs_3")
    lakelog.rewrite_minus_ids(spark, bt, dels, "__id")

    # --- proof: from-scratch GUARDED LSH over the head snapshot
    # (read ONCE, staged for the count too). guard_banded is the
    # maintenance's own rule, so the pin covers the skew guard on
    # BOTH sides.
    head_docs = stage(lakelog.read_snapshot(spark, dt), "head_docs")
    scratch = pairs_from_bands(
        guard_banded(
            stage(_lsh_banded(head_docs), "head_banded"), _LSH_MAX_BUCKET
        ),
        min_est_jaccard=_LSH_THETA,
    ).transform(stage, "scratch")
    key = ["doc_a", "doc_b"]
    missing = scratch.join(pairs, key, "left_anti").count()
    extra = pairs.join(scratch, key, "left_anti").count()
    n_head = head_docs.count()
    n_index = lakelog.read_snapshot(spark, bt).count()
    n_pairs = pairs.count()

    out = spark.createDataFrame(
        [
            (
                int(n_head),
                int(n_index),
                int(missing),
                int(extra),
                int(n_pairs > 0),
            )
        ],
        "n_head_docs long, n_index_rows long, pairs_missing long, "
        "pairs_extra long, pairs_nonzero long",
    )
    rows = out.collect()
    shutil.rmtree(dt, ignore_errors=True)
    shutil.rmtree(bt, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("dedup_incremental_lsh_cdf")
def _bench_dedup_incremental(spark: SparkSession, sf_dir: str):
    # setup: the corpus lake, the seed band index, and the change
    # feeds; timed: the INCREMENTAL work — delta banding, guarded
    # index probe, delta self-join, delete filtering + re-grants —
    # the nightly cost the query exists to measure (the from-scratch
    # rebuild and the proof anti-joins are the query's audit, not
    # the operator)
    from etl_lens_spark.dedup.minhash import merge_support
    from etl_lens_spark.operators import lakelog

    dt = _lsh_dedup_build(spark, sf_dir, "ilsh_bench_docs")
    seed_banded = _lsh_banded(
        lakelog.read_snapshot(spark, dt, 0)
    ).transform(freeze, "untimed bench setup")
    seed_pairs = merge_support(
        None, _lsh_insert_deltas(seed_banded)
    ).transform(freeze, "untimed bench setup")
    ins = (
        lakelog.table_changes(spark, dt, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("doc_id", "text")
        .transform(freeze, "untimed bench setup")
    )
    del_rows = (
        lakelog.table_changes(spark, dt, 1, 2)
        .filter(F.col("_change_type") == "delete")
        .select("doc_id", "text")
        .transform(freeze, "untimed bench setup")
    )
    dels = (
        del_rows.select(F.col("doc_id").alias("__gone"))
        .distinct()
        .transform(freeze, "untimed bench setup")
    )

    cached: list[DataFrame] = []

    def _maintained() -> DataFrame:
        # the two epochs' support deltas compose ADDITIVELY, so the
        # nightly batch folds them into ONE state merge (the drop
        # rule commutes with the merge: it is a row filter on pair
        # keys and regrant pairs never touch a gone id) — one
        # full-outer join over the pair state per maintenance run,
        # not one per epoch. The previous invocation's cache is
        # released first (review fix: min-of-N bench iterations must
        # not accumulate persisted copies).
        for df in cached:
            df.unpersist()
        cached.clear()
        delta_banded = _lsh_banded(ins).persist()
        cached.append(delta_banded)
        ins_deltas = _lsh_insert_deltas(delta_banded, seed_banded)
        pre_index = seed_banded.unionByName(delta_banded)
        regrants = _lsh_delete_deltas(
            _lsh_banded(del_rows), pre_index, dels
        )
        deltas = (
            ins_deltas.unionByName(regrants)
            .groupBy("doc_a", "doc_b")
            .agg(
                F.first("est_jaccard").alias("est_jaccard"),
                F.sum("d_support").cast("long").alias("d_support"),
            )
        )
        pairs = _lsh_drop_pairs(merge_support(seed_pairs, deltas), dels)
        return pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("doc_a") + F.col("doc_b"))
            .cast("long")
            .alias("pair_checksum"),
        )

    return _maintained


@query(
    "streaming_dedup_lsh_live",
    oracle=f"""
    WITH head AS (
      SELECT doc_id FROM documents WHERE doc_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_docs,
           CAST(COUNT(*) * {_LSH_BANDS} AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS pairs_missing,
           CAST(0 AS BIGINT) AS pairs_extra,
           CAST(1 AS BIGINT) AS pairs_nonzero
    FROM head
    """,
)
def streaming_dedup_lsh_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE twin of dedup_incremental_lsh_cdf — the band index and
    duplicate-pair set maintained FROM BIRTH by the ``lakelog_cdf``
    STREAMING source (the shape the verdict asked for: the
    incremental dedup fed by the stream, closing the LLM-pipeline
    loop the way streaming_ivm_live closed the warehouse one): the
    maintainer starts with an EMPTY index, and every commit's
    changes — v0's seed inserts included — flow through the same two
    rules, in commit order inside each micro-batch:

    - inserts: band the delta once, score delta-vs-index plus
      delta-vs-delta candidates, append the delta's band rows;
    - deletes: drop the ids' band rows and every pair touching them.

    Same structural proof and the SAME oracle as the batch twin: the
    stream-maintained pair set equals from-scratch banded LSH over
    the head snapshot exactly, and the index holds head_docs × bands
    rows — so the batch and streaming maintenance paths cannot drift
    apart without one of them failing.

    100 TB posture: identical to the batch twin per epoch
    (O(delta × matching bands), the corpus never re-self-joined,
    the SAME skew guard active) — per-epoch MATERIALIZATION is
    O(delta + pairs), never O(index): the index state is a list of
    per-epoch checkpointed delta frames plus delete tombstones,
    unioned lazily only where a probe needs the view, and FOLDED
    into one frame every _LSH_COMPACT_EVERY epochs so plan depth
    stays bounded on a long-lived stream (round-10 review fix —
    previously both lists grew O(epochs);
    test_lsh_live_state_bounded_plan_depth pins the bound at 24
    epochs). The batch variant persists the same state as lake
    tables (append-per-epoch, the durable production shape); the
    persist/exactly-once story is proven separately by
    warehouse_ivm_restartable, so this twin spends its pins on the
    maintenance algebra (shared: _LshLiveState → _lsh_insert_deltas
    / _lsh_delete_deltas / _lsh_drop_pairs)."""
    import shutil

    from etl_lens_spark.dedup.minhash import guard_banded, pairs_from_bands
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.streaming import live_index

    dt = _lsh_dedup_build(spark, sf_dir, "slsh_docs")
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    state = _LshLiveState()

    def _apply_version(vdf) -> None:
        # Deletes BEFORE inserts within a version, upsert pre/post
        # images folded into the same two rules (live_index rules).
        dels, ins_rows = live_index.split_version_changes(vdf)
        gone_rows = dels.select("doc_id", "text")
        if not gone_rows.isEmpty():
            state.apply_deletes(gone_rows)
        ins = ins_rows.select("doc_id", "text")
        if not ins.isEmpty():
            state.apply_inserts(ins)

    import uuid

    sink = live_index.per_version_sink(_apply_version)
    ckpt = sinks.scratch_path(f"ckpt_slsh_{uuid.uuid4().hex}")
    q = (
        spark.readStream.format("lakelog_cdf")
        .option("path", dt)
        .option("schema_ddl", "doc_id long, text string")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    head_docs = stage(lakelog.read_snapshot(spark, dt), "head_docs")
    scratch = pairs_from_bands(
        guard_banded(
            _lsh_banded(head_docs), _LSH_MAX_BUCKET
        ),
        min_est_jaccard=_LSH_THETA,
    ).transform(stage, "scratch")
    key = ["doc_a", "doc_b"]
    missing = scratch.join(state.pairs, key, "left_anti").count()
    extra = state.pairs.join(scratch, key, "left_anti").count()
    n_head = head_docs.count()
    n_index = state.index_view().count()
    n_pairs = state.pairs.count()
    out = spark.createDataFrame(
        [
            (
                int(n_head),
                int(n_index),
                int(missing),
                int(extra),
                int(n_pairs > 0),
            )
        ],
        "n_head_docs long, n_index_rows long, pairs_missing long, "
        "pairs_extra long, pairs_nonzero long",
    )
    rows = out.collect()
    shutil.rmtree(dt, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


_IVM_TOPK_ORACLE = """
    WITH o0 AS (
      SELECT o_orderkey AS k, o_custkey AS custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    o1 AS (
      SELECT k, custkey,
             CASE WHEN k % 20 = 1 THEN cents * 2 ELSE cents END AS cents
      FROM o0
      UNION ALL
      SELECT k + 300000000, custkey, cents FROM o0 WHERE k % 20 = 3
    ),
    ofin AS (SELECT * FROM o1 WHERE k % 13 <> 0),
    support AS (
      SELECT custkey % 25 AS bucket, cents,
             CAST(COUNT(*) AS BIGINT) AS n_refs
      FROM ofin GROUP BY custkey % 25, cents
    ),
    ranked AS (
      SELECT bucket, cents, n_refs,
             ROW_NUMBER() OVER (
               PARTITION BY bucket ORDER BY cents DESC
             ) AS rnk
      FROM support
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(rnk AS BIGINT) AS rank,
           cents,
           n_refs,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM ranked WHERE rnk <= 3
    ORDER BY bucket, rank
"""


@query("warehouse_ivm_topk_view", oracle=_IVM_TOPK_ORACLE)
def warehouse_ivm_topk_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOP-K maintained under DELETES (ivm.maintain_topk) — the
    RANKING aggregate completing the round-8 IVM family next to
    COUNT DISTINCT and MIN/MAX: deleting a group's current
    3rd-largest value must pull the previously-invisible 4th into
    the view, which no folded scalar state can do. The auxiliary
    state is the same refcounted (group, value) support
    maintain_distinct keeps; the update is the same hierarchical
    split as maintain_minmax — untouched groups keep their ranked
    rows VERBATIM, touched groups re-rank only their own support
    slice. Driven by the orders lake CDF fixture where
    cents-doubling updates move values INTO the top-3, re-keyed
    inserts add references without adding distinct values, and the
    %13 deletes kill ranked values so lower ones surface.

    Three-way agreement: the maintained view hash-matches the DuckDB
    recompute and audit_mismatch (vs a full Spark re-rank of the
    head state) is pinned 0 in-output. Ranking is by value DESC over
    DISTINCT values per group, so the order is total and
    deterministic with no tie-break column.

    100 TB posture: the support merge is O(changes); the re-rank
    window shuffles only the TOUCHED groups' support slices — an
    untouched group's top-k is never recomputed, never even read."""
    from pyspark.sql import Window

    from etl_lens_spark.operators import ivm, lakelog
    from etl_lens_spark.queries.npipe10 import _ivm_orders_build

    ot = _ivm_orders_build(spark, sf_dir, "topk_ivm")
    K = 3
    bucket = (F.col("custkey") % 25).alias("bucket")
    support0 = (
        lakelog.read_snapshot(spark, ot, 0)
        .groupBy(bucket, "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("cents"))
    view0 = (
        support0.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank") <= K)
        .select("bucket", "rank", "cents", "cnt")
        .transform(freeze, "later DML must not leak in")
    )
    dz = ivm.consolidate(
        ivm.changes_to_zset(
            lakelog.table_changes(spark, ot, 0, 2).withColumn(
                "bucket", F.col("custkey") % 25
            ),
            ["bucket", "cents"],
        )
    )
    support1 = ivm.maintain_distinct(support0, dz, ["bucket"], "cents")
    touched = dz.select("bucket").distinct()
    view1 = ivm.maintain_topk(
        view0, support1, touched, ["bucket"], "cents", K
    )

    # audit: full re-rank from the head snapshot must agree
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .groupBy(bucket, "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("r_cnt"))
        .withColumn("r_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("r_rank") <= K)
    )
    audit = (
        view1.join(
            recompute,
            (view1["bucket"] == recompute["bucket"])
            & (view1["rank"] == recompute["r_rank"]),
            "full_outer",
        )
        .filter(
            ~(
                view1["cents"].eqNullSafe(recompute["cents"])
                & view1["cnt"].eqNullSafe(recompute["r_cnt"])
            )
        )
        .count()
    )
    return view1.select(
        F.col("bucket").cast("int").alias("bucket"),
        "rank",
        "cents",
        F.col("cnt").alias("n_refs"),
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("bucket", "rank")


# ---------------------------------------------------------------------------
# Column mapping × CDF / RESTORE (VERDICT r8 item 4)
# ---------------------------------------------------------------------------


@query(
    "lake_mapping_cdf_rename",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    ch AS (
      SELECT k, cents, 'insert' AS ct, 1 AS v FROM v0 WHERE k % 2 = 1
      UNION ALL
      SELECT k, cents, 'delete', 3 FROM v0 WHERE k % 20 = 7
    )
    SELECT ct AS change_type,
           CAST(v AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS price_cents_sum,
           CAST(1 AS BIGINT) AS old_mapping_names_ok
    FROM ch
    GROUP BY ct, v
    ORDER BY change_type, commit_version
    """,
)
def lake_mapping_cdf_rename(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDF ACROSS A RENAME BOUNDARY (``table_changes_mapped``):
    change records and data files carry immutable PHYSICAL names; a
    mapped table renames ``cents`` → ``price_cents`` mid-history
    (v2, metadata-only) and the feed is then served across the
    boundary — v1's insert commit (written under the OLD logical
    name) and v3's cdf DELETE record both surface under the CURRENT
    logical name ``price_cents``, per-commit frames projected
    physical→logical BEFORE the cross-era union (Delta parity: CDF
    on a column-mapping table serves history under the current
    schema). ``old_mapping_names_ok`` pins the dual: the same feed
    served AS OF the pre-rename version surfaces the old logical
    names — each version reads under its own mapping.

    100 TB posture: the projection is a zero-cost select on top of
    the O(rows changed) per-commit serving; the rename itself was
    O(1) metadata. Reference analog: none — [L] lakehouse surface
    (lakelog.py::table_changes_mapped)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("map_cdf_q")
    shutil.rmtree(base, ignore_errors=True)
    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k__p0"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents__p0"),
    )
    v0.filter(F.col("k__p0") % 2 == 0).write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            lakelog.mapping_action(
                [("k", "k__p0", "bigint"), ("cents", "cents__p0", "bigint")]
            ),
            {"add": "s0"},
        ],
    )
    v0.filter(F.col("k__p0") % 2 == 1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # v1: insert commit
    lakelog.rename_column(base, "cents", "price_cents")  # v2: O(1)
    lakelog.delete_where(
        spark, base, F.col("k__p0") % 20 == 7, cdf=True
    )  # v3: record carries physical names
    served = (
        lakelog.table_changes_mapped(spark, base, 0, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("price_cents").cast("long").alias("price_cents_sum"),
        )
    )
    old_names = set(
        lakelog.table_changes_mapped(spark, base, 0, 1, version=1).columns
    )
    flag = spark.createDataFrame(
        [
            (
                int(
                    old_names
                    == {"k", "cents", "_change_type", "_commit_version"}
                ),
            )
        ],
        "old_mapping_names_ok long",
    )
    out = served.crossJoin(F.broadcast(flag)).orderBy(
        "change_type", "commit_version"
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query(
    "lake_mapping_restore",
    oracle="""
    SELECT CAST(o_orderkey % 20 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS cents_sum,
           CAST(1 AS BIGINT) AS meta_restored,
           CAST(1 AS BIGINT) AS files_removed,
           CAST(1 AS BIGINT) AS rename_rolled_back
    FROM orders
    GROUP BY o_orderkey % 20
    ORDER BY key_mod
    """,
)
def lake_mapping_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE ROLLS METADATA BACK WITH THE DATA: a mapped table
    renames ``cents`` → ``price_cents`` (v1), adds a column (v2),
    appends post-rename data (v3), then RESTOREs to v0 — the restore
    commit re-emits v0's columnMapping action (Delta parity: RESTORE
    "restores the table to an earlier state including data and
    schema"), so the head now reads under the ORIGINAL logical names
    with the appended file removed, while the pre-restore history
    still reads under ITS OWN mapping (spec-versioned time travel).
    The documented stricter stance — restoring to a version that
    PREDATES mapping enablement refuses, because last-wins metadata
    cannot be unset — is pinned in
    tests/test_lakelog.py::test_restore_rolls_back_column_mapping.

    Pins in-output: ``meta_restored`` = 1 (one columnMapping action
    re-emitted), ``files_removed`` = 1 (the post-rename append left
    with the rollback), ``rename_rolled_back`` = 1 (head logical
    columns are exactly {k, cents} again); the DuckDB oracle
    hash-matches the restored state against the original orders
    projection.

    100 TB posture: the restore is O(files changed) metadata plus
    one O(1) mapping action — zero data reads, zero rewrites."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = sinks.scratch_path("map_restore_q")
    shutil.rmtree(base, ignore_errors=True)
    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k__p0"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents__p0"),
    )
    v0.write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            lakelog.mapping_action(
                [("k", "k__p0", "bigint"), ("cents", "cents__p0", "bigint")]
            ),
            {"add": "s0"},
        ],
    )
    lakelog.rename_column(base, "cents", "price_cents")  # v1
    lakelog.add_column(base, "note", "string")  # v2
    spark.createDataFrame(
        [(900000001, 123, "r9")],
        "k__p0 long, cents__p0 long, note__p2 string",
    ).coalesce(1).write.parquet(f"{base}/s3")
    lakelog.commit(base, 3, [{"add": "s3"}])  # v3: post-rename append
    res = lakelog.restore_table(spark, base, 0)  # v4: rollback
    cur = lakelog.read_snapshot_mapped(spark, base)
    out = (
        cur.groupBy((F.col("k") % 20).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [
                        (
                            int(res["n_meta_restored"]),
                            int(res["n_removed"]),
                            int(set(cur.columns) == {"k", "cents"}),
                        )
                    ],
                    "meta_restored long, files_removed long, "
                    "rename_rolled_back long",
                )
            )
        )
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# t-digest: persisted day-partition digests (append = partial merge,
# not a re-scan) + the streaming live twin (sixth live sketch)
# ---------------------------------------------------------------------------

_TD_DELTA = 100
_TD_QS = [0.05, 0.25, 0.50, 0.75, 0.95]


@query("sketch_tdigest_persisted")
def sketch_tdigest_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSISTED + APPEND-MERGED T-DIGESTS — the claim the round-8
    module made ("appending a partition to a stored digest is a
    partial merge, not a re-scan") proven as a query: per-(type, day)
    partial digests of events.value are STORED as a lake table (all
    days but the last at v0), the last day's partials APPEND as a
    second commit, and quantiles are answered by merging the stored
    centroids per event_type — never re-reading a single value row.

    Pins in-output (rows-only by the sketch-family convention —
    estimates themselves stay out of the hashed surface because
    partials depend on partition boundaries):

    - ``append_equals_full`` — the store-then-append answer equals
      the single-job merge over the SAME partial multiset EXACTLY
      (double-for-double: parquet round-trips IEEE doubles and the
      merge is multiset-deterministic — the module's determinism
      guarantee doing real work);
    - ``within_bound`` — every estimate's true rank within 1.5% of
      its q (the merged-from-partials tolerance, one broadcast join
      back to the values);
    - ``centroids_bounded`` — merged digest ≤ 2δ centroids;
    - ``multi_day`` — the fixture genuinely spans >1 day (the append
      is a real second partition, not a no-op).

    100 TB posture: the stored table holds O(days × types × 2δ)
    centroid rows — answering a year of quantiles touches centroids
    only; a new day appends O(types × 2δ) rows and the merge cost is
    O(stored centroids per type), the reason warehouses persist
    digests, not percentiles."""
    import shutil

    from etl_lens_spark.operators import lakelog, tdigest

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts")) / F.lit(86400000000))
        .cast("long")
        .alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    partials = tdigest.partial_digests(
        ev, ["event_type", "day"], "v", delta=_TD_DELTA
    ).transform(stage, "partials")
    days = sorted(
        r.day for r in partials.select("day").distinct().collect()
    )
    base = sinks.scratch_path("td_store")
    shutil.rmtree(base, ignore_errors=True)
    partials.filter(F.col("day") < days[-1]).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    partials.filter(F.col("day") == days[-1]).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # the new day APPENDS

    est_store = tdigest.merge_quantiles(
        lakelog.read_snapshot(spark, base),
        ["event_type"],
        _TD_QS,
        delta=_TD_DELTA,
    )
    est_full = tdigest.merge_quantiles(
        partials, ["event_type"], _TD_QS, delta=_TD_DELTA
    ).select(
        "event_type",
        "q",
        F.col("est").alias("est_f"),
        F.col("n_centroids").alias("nc_f"),
    )
    vals = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    ranked = (
        vals.join(
            F.broadcast(est_store.select("event_type", "q", "est")),
            "event_type",
        )
        .groupBy("event_type", "q", "est")
        .agg(
            (
                F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("true_rank")
        )
    )
    out = (
        est_store.join(est_full, ["event_type", "q"])
        .join(ranked, ["event_type", "q", "est"])
        .select(
            "event_type",
            "q",
            (
                (F.col("est") == F.col("est_f"))
                & (F.col("n_centroids") == F.col("nc_f"))
            ).alias("append_equals_full"),
            (F.abs(F.col("true_rank") - F.col("q")) <= 0.015).alias(
                "within_bound"
            ),
            (F.col("n_centroids") <= 2 * _TD_DELTA).alias(
                "centroids_bounded"
            ),
            F.lit(len(days) > 1).alias("multi_day"),
        )
        .orderBy("event_type", "q")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@query("streaming_tdigest_live")
def streaming_tdigest_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE T-DIGEST — the SIXTH live sketch twin (KMV, bitmap, CMS,
    GK, MG): per-event_type centroid state folded micro-batch by
    micro-batch through the SAME compress kernel the batch digest
    uses (streaming/stream_ops.py::tdigest_stateful,
    applyInPandasWithState, update mode, ≤ ~2δ centroids of state
    per key regardless of stream length).

    Like the GK twin, a fold-as-you-go digest is not replay-exact
    (centroid boundaries depend on batch boundaries), so the output
    carries only the ARRIVAL-ORDER-INVARIANT contracts: every
    estimate's true rank within 1.5% of q (vs the exact batch
    table), ``n_seen`` equal to the batch row count per key, and the
    centroid bound. Final state per key selected by the monotone
    ``n_seen`` counter. Rank accuracy of the incremental fold is
    additionally pinned against the two-level batch digest in
    tests/test_tdigest.py.

    100 TB posture: keyed state shards across executors; fold cost
    is O((batch + δ) log) per key per epoch; no value buffer, no
    unbounded anything."""
    from etl_lens_spark.streaming import stream_ops as so

    stream = so.tdigest_stateful(
        so.events_stream(spark, sf_dir), delta=_TD_DELTA
    )
    out = so.run_to_memory(stream, "q_stream_td", output_mode="update")
    final = (
        out.groupBy("event_type")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.max_by(
                F.struct("n_centroids", "q05", "q25", "q50", "q75", "q95"),
                "n_seen",
            ).alias("s"),
        )
        .select(
            "event_type",
            "n_seen",
            F.col("s.n_centroids").alias("n_centroids"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).alias("q"),
                            F.col(f"s.q{int(q * 100):02d}").alias("est"),
                        )
                        for q in _TD_QS
                    ]
                )
            ).alias("e"),
        )
        .select(
            "event_type",
            "n_seen",
            "n_centroids",
            F.col("e.q").alias("q"),
            F.col("e.est").alias("est"),
        )
    )
    vals = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    exact_n = vals.filter(F.col("v").isNotNull()).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).alias("exact_n"))
    ranked = (
        vals.join(
            F.broadcast(final.select("event_type", "q", "est")),
            "event_type",
        )
        .groupBy("event_type", "q", "est")
        .agg(
            (
                F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("true_rank")
        )
    )
    return (
        final.join(ranked, ["event_type", "q", "est"])
        .join(F.broadcast(exact_n), "event_type")
        .select(
            "event_type",
            "q",
            (F.abs(F.col("true_rank") - F.col("q")) <= 0.015).alias(
                "within_bound"
            ),
            (F.col("n_centroids") <= 2 * _TD_DELTA).alias(
                "centroids_bounded"
            ),
            (F.col("n_seen") == F.col("exact_n")).alias("count_matches"),
        )
        .orderBy("event_type", "q")
    )
