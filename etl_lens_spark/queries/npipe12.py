"""Round-10 tranche: the SIMILARITY index joins the maintained-
lake-table loop (VERDICT r9 item 1) — IVF cell assignments and
SRP-LSH bucket tables persisted as lake tables and kept current from
the embeddings table's CDF (inserts append their assigned rows,
deletes leave by anti-join, centroids FIXED between re-trains), plus
the drift contract made measurable (stale_fraction / refine_centroids
in similarity/ivf.py); restartable top-k IVM with its refcounted
support persisted through one atomic multi-table commit (item 4);
OPTIMIZE-invisibility and retention × GDPR erasure proofs (items 5,
7).

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
# Incremental ANN index maintenance from the CDF.
#
# The round-9 dedup loop pattern applied to the last [N] family
# without it: the ANN index is a SECOND lake table maintained from
# the embeddings table's change feed. The DRIFT CONTRACT (documented
# here, measured in-query):
#   - the coarse quantizer (IVF centroids) is trained once and FIXED
#     between periodic re-trains, so cell assignment is a pure
#     deterministic function of the vector — an appended vector's
#     index row is computable from the delta alone, and maintained ≡
#     rebuilt holds EXACTLY (the equality pin below);
#   - what degrades between re-trains is not correctness but recall:
#     as the corpus distribution drifts away from the centroids,
#     cells lose cohesion. The dial is similarity.ivf.stale_fraction
#     against CANDIDATE centroids (one Lloyd step from the serving
#     matrix over the current corpus — ids stay aligned): the
#     fraction of indexed vectors now closer to a non-assigned
#     centroid. Against the SERVING matrix it is 0 by construction
#     (pinned); when the candidate fraction crosses the operator's
#     threshold, re-train + rebuild (the from-scratch path this
#     query keeps as its audit).
#   - SRP-LSH has no drift dial at all: hyperplanes are immutable
#     for the index's lifetime, so the bucket of a vector can never
#     go stale — the SRP twin pins the same equality with no
#     staleness caveat.
# ---------------------------------------------------------------------------

_ANN_QUERIES = 10  # head vectors with vec_id < 10 serve as queries
_ANN_K = 5


def _ann_build(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Embeddings lake fixture: v0 seed (vec_id % 10 < 8), v1 append
    (the other 20%), v2 predicate DELETE (% 17 == 3) with cdf=True —
    the same change mix as the LSH dedup fixture, on vectors."""
    import shutil

    from etl_lens_spark.operators import lakelog

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = sinks.scratch_path(tag)
    shutil.rmtree(base, ignore_errors=True)
    emb.filter(F.col("vec_id") % 10 < 8).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    emb.filter(F.col("vec_id") % 10 >= 8).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # insert commit
    lakelog.delete_where(spark, base, F.col("vec_id") % 17 == 3, cdf=True)
    return base


def _ann_feeds(spark: SparkSession, et: str):
    """(inserts, delete_ids) from the embeddings lake's change feed."""
    from etl_lens_spark.operators import lakelog

    ins = (
        lakelog.table_changes(spark, et, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("vec_id", "embedding")
    )
    dels = (
        lakelog.table_changes(spark, et, 1, 2)
        .filter(F.col("_change_type") == "delete")
        .select(F.col("vec_id").alias("__gone"))
        .distinct()
    )
    return ins, dels


def _ann_key_diff(left: DataFrame, right: DataFrame, key: list[str]):
    missing = right.join(left, key, "left_anti").count()
    extra = left.join(right, key, "left_anti").count()
    return missing, extra


_ANN_ORACLE = """
    WITH head AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(1 AS BIGINT) AS recall_ok,
           CAST(0 AS BIGINT) AS stale_serving,
           CAST(1 AS BIGINT) AS stale_candidate_ok
    FROM head
"""


@query("sim_ann_incremental_cdf", headline=True, oracle=_ANN_ORACLE)
def sim_ann_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL IVF ANN INDEX FROM THE CDF (VERDICT r9 item 1) —
    the similarity family's index becomes a maintained lake table,
    closing the last [N] loop: centroids are trained ONCE on the v0
    seed and FIXED (the drift contract at the top of this module),
    the cell-index lake table holds (vec_id, embedding, cell), and
    the embeddings table's change feed maintains it:

    - v1 inserts: the delta's rows are assigned by the SAME fixed
      centroids (one vectorized matmul pass over the delta only) and
      APPEND to the index — the standing corpus is never reassigned;
    - v2 deletes: the ids' index rows leave by one broadcast
      anti-join rewrite.

    Proofs, pinned in-output: (a) the maintained index equals a
    from-scratch reassignment of the head snapshot EXACTLY on
    (vec_id, cell) — idx_missing = idx_extra = 0; (b) top-5 served
    from the maintained index (similarity.ivf.ivf_probe_topk — the
    probe half of ivf_topk, shared code) equals top-5 from the
    rebuilt index EXACTLY on (qid, neighbor_id, rank_n); (c) recall
    vs exact brute-force cosine >= 0.6 RE-CHECKED on the maintained
    index (recall_ok — the r9 ask); (d) staleness against the
    SERVING centroids is 0 by construction (stale_serving), and the
    re-train dial — stale_fraction against candidate centroids one
    Lloyd step ahead — is a sane fraction (stale_candidate_ok:
    0 <= frac <= 0.5).

    100 TB posture: nightly cost is O(delta) — assignment is a
    per-batch numpy matmul against the broadcast k × dim matrix,
    index update is an append plus an O(changes) anti-join; the
    probe join reads only the queries' nprobe cells (with the index
    table bucketed by cell, a pruned read). The corpus is reassigned
    ONLY by the audit (and by a real re-train, on the operator's
    staleness threshold)."""
    import shutil

    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import ivf, knn

    n_cells, nprobe, train_iters = ivf_params(spark)
    et = _ann_build(spark, sf_dir, "iann_emb")
    it = sinks.scratch_path("iann_index")
    shutil.rmtree(it, ignore_errors=True)

    # --- train once on the seed; FIXED between re-trains
    seed = lakelog.read_snapshot(spark, et, 0)
    centroids = ivf.train_centroids(
        seed, k=n_cells, iters=train_iters
    )

    # --- seed index
    ivf.assign_cells(seed, centroids).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])

    # --- v1 inserts: assign the DELTA only, append
    ins, dels = _ann_feeds(spark, et)
    ivf.assign_cells(ins, centroids).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])

    # --- v2 deletes: index rows leave by one anti-join rewrite
    dels = stage(dels, "dels")
    lakelog.rewrite_minus_ids(spark, it, dels, "vec_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, et), "head")
    queries = head.filter(F.col("vec_id") < _ANN_QUERIES)

    # --- audits: rebuilt index, top-k equality, recall, staleness
    rebuilt = stage(ivf.assign_cells(head, centroids), "rebuilt")
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["vec_id", "cell"]
    )
    m_topk = ivf.ivf_probe_topk(
        maintained, queries, centroids, k=_ANN_K, nprobe=nprobe
    ).transform(stage, "m_topk")
    r_topk = ivf.ivf_probe_topk(
        rebuilt, queries, centroids, k=_ANN_K, nprobe=nprobe
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["qid", "neighbor_id", "rank_n"]
    )
    bf = knn.brute_force_topk(head, queries, k=_ANN_K)
    hits = m_topk.join(bf, ["qid", "neighbor_id"], "left_semi").count()
    recall = hits / max(bf.count(), 1)
    serving = ivf.stale_fraction(maintained, centroids).first()
    candidate = ivf.refine_centroids(head, centroids)
    cand = ivf.stale_fraction(maintained, candidate).first()
    cand_frac = cand["n_stale"] / max(cand["n_total"], 1)

    out = spark.createDataFrame(
        [
            (
                int(head.count()),
                int(maintained.count()),
                int(idx_missing),
                int(idx_extra),
                int(topk_missing),
                int(topk_extra),
                int(recall >= 0.6),
                int(serving["n_stale"]),
                int(0.0 <= cand_frac <= 0.5),
            )
        ],
        "n_head_vecs long, n_index_rows long, idx_missing long, "
        "idx_extra long, topk_missing long, topk_extra long, "
        "recall_ok long, stale_serving long, stale_candidate_ok long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("sim_ann_incremental_cdf")
def _bench_sim_ann_incremental(spark: SparkSession, sf_dir: str):
    # setup: the embeddings lake, centroid training, the seed index,
    # and the change feeds; timed: the INCREMENTAL work — delta
    # assignment, anti-join delete, and serving top-k from the
    # maintained index — the nightly cost the query exists to
    # measure (rebuild + audits are the query's proof, not the
    # operator)
    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import ivf

    n_cells, nprobe, train_iters = ivf_params(spark)
    et = _ann_build(spark, sf_dir, "iann_bench_emb")
    seed = lakelog.read_snapshot(spark, et, 0)
    centroids = ivf.train_centroids(seed, k=n_cells, iters=train_iters)
    seed_index = freeze(
        ivf.assign_cells(seed, centroids), "untimed bench setup"
    )
    ins, dels = _ann_feeds(spark, et)
    ins = freeze(ins, "untimed bench setup")
    dels = freeze(dels, "untimed bench setup")
    head = lakelog.read_snapshot(spark, et)
    queries = head.filter(
        F.col("vec_id") < _ANN_QUERIES
    ).transform(freeze, "untimed bench setup")

    def _maintained() -> DataFrame:
        delta = ivf.assign_cells(ins, centroids)
        index = seed_index.unionByName(delta).join(
            F.broadcast(dels),
            F.col("vec_id") == F.col("__gone"),
            "left_anti",
        )
        topk = ivf.ivf_probe_topk(
            index, queries, centroids, k=_ANN_K, nprobe=nprobe
        )
        return topk.agg(
            F.count(F.lit(1)).cast("long").alias("n_results"),
            F.sum(F.col("qid") * 1000 + F.col("neighbor_id"))
            .cast("long")
            .alias("topk_checksum"),
        )

    return _maintained


_SRP_ORACLE = """
    WITH head AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(1 AS BIGINT) AS recall_parity,
           CAST(1 AS BIGINT) AS cand_budget_ok
    FROM head
"""


@query("sim_srp_incremental_cdf", oracle=_SRP_ORACLE)
def sim_srp_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SRP-LSH twin of sim_ann_incremental_cdf: the bucket-index
    lake table (vec_id, embedding, bucket) maintained from the same
    CDF. Hyperplanes are immutable for the index's lifetime, so this
    family has NO drift dial — a stored bucket can never go stale —
    and maintained ≡ rebuilt is pure determinism of srp_bucket_index
    (shared code with the build-once lsh_topk path). Proofs: index
    equality on (vec_id, bucket), top-5 equality via lsh_probe_topk
    on (qid, neighbor_id, rank_n), and the two contracts that fit
    this family honestly in place of IVF's absolute recall bound
    (this fixture's embeddings are not SRP-friendly at 8 bits —
    absolute recall here is an operating-point property, charted by
    the operating-curve query, not a maintenance property):
    recall_parity — serving from the MAINTAINED index loses zero
    recall vs the build-once lsh_topk over the head snapshot — and
    cand_budget_ok — the maintained index still bounds the scored
    candidate set to <= 1/4 of the brute-force pair count, the
    quantity SRP exists to control.

    100 TB posture: identical to the IVF twin — O(delta) hashing
    (codegen'd sign projections, no Python), append + one anti-join
    per maintenance run, probe join reads only matching buckets."""
    import shutil

    from etl_lens_spark.config import srp_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import knn

    n_bits, probes = srp_params(spark)
    planes = knn.make_planes(64, n_bits)
    et = _ann_build(spark, sf_dir, "isrp_emb")
    it = sinks.scratch_path("isrp_index")
    shutil.rmtree(it, ignore_errors=True)

    seed = lakelog.read_snapshot(spark, et, 0)
    knn.srp_bucket_index(seed, planes).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])
    ins, dels = _ann_feeds(spark, et)
    knn.srp_bucket_index(ins, planes).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(spark, it, dels, "vec_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, et), "head")
    queries = head.filter(F.col("vec_id") < _ANN_QUERIES)

    rebuilt = stage(knn.srp_bucket_index(head, planes), "rebuilt")
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["vec_id", "bucket"]
    )
    m_topk = knn.lsh_probe_topk(
        maintained, queries, planes, k=_ANN_K, probes=probes
    ).transform(stage, "m_topk")
    r_topk = knn.lsh_probe_topk(
        rebuilt, queries, planes, k=_ANN_K, probes=probes
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["qid", "neighbor_id", "rank_n"]
    )
    bf = stage(knn.brute_force_topk(head, queries, k=_ANN_K), "bf")
    n_bf = bf.count()
    m_hits = m_topk.join(bf, ["qid", "neighbor_id"], "left_semi").count()
    build_once = knn.lsh_topk(
        head, queries, dim=64, k=_ANN_K, n_bits=n_bits, probes=probes
    )
    b_hits = build_once.join(
        bf, ["qid", "neighbor_id"], "left_semi"
    ).count()
    n_head = head.count()
    n_q = queries.count()
    cand_n = knn.lsh_candidates(
        maintained, queries, planes, probes=probes
    ).count()

    out = spark.createDataFrame(
        [
            (
                int(n_head),
                int(maintained.count()),
                int(idx_missing),
                int(idx_extra),
                int(topk_missing),
                int(topk_extra),
                int(m_hits >= b_hits and n_bf > 0),
                int(cand_n * 4 <= n_head * n_q),
            )
        ],
        "n_head_vecs long, n_index_rows long, idx_missing long, "
        "idx_extra long, topk_missing long, topk_extra long, "
        "recall_parity long, cand_budget_ok long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Restartable IVM for AUXILIARY-STATE aggregates: the top-k view AND
# its refcounted support persisted as two member tables of ONE
# multi-table log, refreshed exactly-once through the same crash
# window warehouse_ivm_restartable proved for the scalar aggregate.
# ---------------------------------------------------------------------------

_IVM_RESTART_TOPK_ORACLE = """
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
           CAST(0 AS BIGINT) AS audit_mismatch,
           CAST(1 AS BIGINT) AS replay_absorbed,
           CAST(1 AS BIGINT) AS orphans_removed,
           CAST(1 AS BIGINT) AS txn_high_water,
           CAST(0 AS BIGINT) AS torn_versions
    FROM ranked WHERE rnk <= 3
    ORDER BY bucket, rank
"""


@query("warehouse_ivm_restartable_topk", oracle=_IVM_RESTART_TOPK_ORACLE)
def warehouse_ivm_restartable_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTARTABLE TOP-K IVM (VERDICT r9 item 4) — the round-9
    restartable materialized view covered the FOLDED aggregates
    (COUNT/SUM, scalar state inside the view row); the ranking
    family needs AUXILIARY state, the refcounted (bucket, cents)
    support, and a crash must never tear the two apart. So the view
    and its support live as two member tables of ONE multi-table
    lake log (``view/`` and ``support/`` subtrees, the round-4
    atomic-transaction machinery): every refresh epoch writes both
    rels and commits them in a SINGLE ``commit_idempotent`` — a
    reader at ANY version sees view and support from the same epoch,
    never a torn mix, pinned in-output by re-ranking the support AT
    EVERY COMMITTED VERSION and matching the view there
    (``torn_versions`` = 0).

    The crash window is the REAL one warehouse_ivm_restartable
    proved, re-run against the stateful aggregate: run 1 sees v0+v1,
    the injected crash lands AFTER epoch 0's atomic commit but
    BEFORE the stream checkpoint marks the batch; the v2 DELETE
    commits while the maintainer is down; run 2 resumes from the
    SAME checkpoint — the replayed epoch recomputes a would-be-
    double-applied state whose commit the txn high-water mark
    absorbs (``replay_absorbed`` = 1), and its orphaned view+support
    rels — NESTED under the subtrees — are found and reclaimed by
    the round-10 nested-aware ``find_orphans``
    (``orphans_removed`` = 1). ``audit_mismatch`` = 0 re-ranks the
    head snapshot from scratch; the DuckDB oracle hash-matches the
    persisted final view.

    100 TB posture: per-epoch cost is the support merge (O(changes)
    full-outer against the support on the (bucket, cents) key) plus
    a re-rank of ONLY the touched buckets' support slices — the
    round-9 maintain_topk plan, now with its state durable; the
    atomic two-table commit costs one log record, not a second
    write barrier; a crash at any point replays at most one epoch."""
    import os as _os
    import shutil
    import uuid

    from pyspark.sql import Window

    from etl_lens_spark.operators import ivm, lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    K = 3
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("custkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ot = sinks.scratch_path("rtopk_orders")
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
    pt = sinks.scratch_path("rtopk_state")
    shutil.rmtree(pt, ignore_errors=True)
    _os.makedirs(pt)
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    app_id = "topk_refresh"
    sink_log: list[dict] = []
    crash = {"armed": True}
    empty_view = spark.createDataFrame(
        [], "bucket long, rank long, cents long, cnt long"
    )
    empty_support = spark.createDataFrame(
        [], "bucket long, cents long, cnt long"
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("cents"))

    def _refresh(batch_df, epoch: int) -> dict:
        has_log = lakelog.latest_version(pt) >= 0
        prev = lakelog.snapshot_actions(pt) if has_log else {}
        view_old = (
            lakelog.read_table_snapshot(spark, pt, "view")
            if has_log
            else empty_view
        )
        support_old = (
            lakelog.read_table_snapshot(spark, pt, "support")
            if has_log
            else empty_support
        )
        dz = ivm.consolidate(
            ivm.changes_to_zset(
                batch_df.withColumn("bucket", F.col("custkey") % 25),
                ["bucket", "cents"],
            )
        )
        support_new = ivm.maintain_distinct(
            support_old, dz, ["bucket"], "cents"
        )
        # fresh rels per attempt: a replayed epoch's writes must be
        # harmless (nested) debris, never an overwrite
        sfx = uuid.uuid4().hex[:8]
        srel = f"support/s_{epoch:05d}_{sfx}"
        vrel = f"view/v_{epoch:05d}_{sfx}"
        support_new.coalesce(4).write.parquet(_os.path.join(pt, srel))
        # the view derives from the exact persisted support bytes —
        # one compute, and view/support cannot disagree at birth
        support_written = spark.read.parquet(_os.path.join(pt, srel))
        touched = dz.select("bucket").distinct()
        view_new = ivm.maintain_topk(
            view_old, support_written, touched, ["bucket"], "cents", K
        )
        view_new.coalesce(4).write.parquet(_os.path.join(pt, vrel))
        actions = [{"remove": r} for r in prev] + [
            {"add": vrel},
            {"add": srel},
        ]
        return lakelog.commit_idempotent(pt, app_id, epoch, actions)

    def sink(batch_df, epoch_id):
        res = _refresh(
            freeze(batch_df, "outlives its batch"), int(epoch_id)
        )
        sink_log.append({"epoch": int(epoch_id), **res})
        if int(epoch_id) == 0 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError(
                "injected crash: atomic view+support commit landed, "
                "batch not yet marked complete"
            )

    ckpt = sinks.scratch_path(f"ckpt_rtopk_{uuid.uuid4().hex}")

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

    _run()  # run 1: epoch 0 (v0+v1) commits atomically, then dies
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
    txn_high = lakelog.txn_version(pt, app_id)
    orphans = lakelog.remove_orphans(pt)

    # torn-read proof: at EVERY committed version, the view equals a
    # full re-rank of the support AT THAT VERSION — the two member
    # tables moved in lockstep through every epoch and the replay
    torn = 0
    for v in range(lakelog.latest_version(pt) + 1):
        sup_v = lakelog.read_table_snapshot(spark, pt, "support", v)
        view_v = lakelog.read_table_snapshot(spark, pt, "view", v)
        rerank = (
            sup_v.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= K)
            .select("bucket", "rank", "cents", "cnt")
        )
        got = view_v.select("bucket", "rank", "cents", "cnt")
        if (
            rerank.exceptAll(got).count()
            or got.exceptAll(rerank).count()
        ):
            torn += 1

    view = lakelog.read_table_snapshot(spark, pt, "view")
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .groupBy((F.col("custkey") % 25).alias("bucket"), "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("r_cnt"))
        .withColumn("r_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("r_rank") <= K)
    )
    audit = (
        view.join(
            recompute,
            (view["bucket"] == recompute["bucket"])
            & (view["rank"] == recompute["r_rank"]),
            "full_outer",
        )
        .filter(
            ~(
                view["cents"].eqNullSafe(recompute["cents"])
                & view["cnt"].eqNullSafe(recompute["r_cnt"])
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
                int(torn),
            )
        ],
        "audit_mismatch long, replay_absorbed long, "
        "orphans_removed long, txn_high_water long, torn_versions long",
    )
    out = (
        view.select(
            F.col("bucket").cast("int").alias("bucket"),
            "rank",
            "cents",
            F.col("cnt").alias("n_refs"),
        )
        .crossJoin(F.broadcast(flags))
        .orderBy("bucket", "rank")
    )
    rows = out.collect()
    for d in (ot, pt, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


_MT_ORACLE = """
    WITH head AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(1 AS BIGINT) AS recall_ge_single
    FROM head
"""


@query("sim_multitable_incremental_cdf", oracle=_MT_ORACLE)
def sim_multitable_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-TABLE retriever twin of sim_ann_incremental_cdf — the
    last build-once similarity structure (sim_ann_lsh_multitable's
    L independent hyperplane tables) becomes ONE maintained lake
    table carrying all L bucket columns (knn.srp_multitable_index):
    an appended vector computes its L buckets from the delta alone
    in one pass, a deleted one leaves by the shared
    lakelog.rewrite_minus_ids anti-join, and — like the single-table
    SRP twin — no geometry can ever go stale (planes immutable).

    Pinned: index equality with a from-scratch rebuild on
    (vec_id, b0..b3); top-10 served from the maintained index
    (knn.multitable_probe_topk — per-table candidate union, pair
    dedup BEFORE scoring, shared with the build-once sweep) equals
    rebuilt-index top-10 exactly; and the retriever's reason to
    exist re-checked on the maintained index — L=4 recall@10 vs
    exact brute force >= L=1 recall (candidate sets are prefix
    unions, so the lift the operating curve recorded must survive
    maintenance).

    100 TB posture: maintenance hashes the delta once for ALL L
    geometries (the sweep discipline as a maintenance property);
    the L-axis costs nothing extra at write time beyond L bucket
    columns; probes read only matching buckets per table."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import knn

    K, NQ, BITS, PROBES, L = 10, 20, 4, 5, 4
    planes_list = [knn.make_planes(64, BITS, seed=42 + t) for t in range(L)]
    et = _ann_build(spark, sf_dir, "imt_emb")
    it = sinks.scratch_path("imt_index")
    shutil.rmtree(it, ignore_errors=True)

    seed = lakelog.read_snapshot(spark, et, 0)
    knn.srp_multitable_index(seed, planes_list).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])
    ins, dels = _ann_feeds(spark, et)
    knn.srp_multitable_index(ins, planes_list).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(spark, it, dels, "vec_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, et), "head")
    queries = stage(head.filter(F.col("vec_id") < NQ), "queries")

    rebuilt = stage(knn.srp_multitable_index(head, planes_list), "rebuilt")
    bcols = [f"b{t}" for t in range(L)]
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["vec_id"] + bcols
    )
    m_topk = knn.multitable_probe_topk(
        maintained, queries, planes_list, k=K, probes=PROBES
    ).transform(stage, "m_topk")
    r_topk = knn.multitable_probe_topk(
        rebuilt, queries, planes_list, k=K, probes=PROBES
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["qid", "neighbor_id", "rank_n"]
    )
    bf = stage(knn.brute_force_topk(head, queries, k=K), "bf")
    m4 = m_topk.join(bf, ["qid", "neighbor_id"], "left_semi").count()
    m1 = (
        knn.multitable_probe_topk(
            maintained, queries, planes_list, k=K, probes=PROBES,
            n_tables=1,
        )
        .join(bf, ["qid", "neighbor_id"], "left_semi")
        .count()
    )

    out = spark.createDataFrame(
        [
            (
                int(head.count()),
                int(maintained.count()),
                int(idx_missing),
                int(idx_extra),
                int(topk_missing),
                int(topk_extra),
                int(m4 >= m1 and bf.count() > 0),
            )
        ],
        "n_head_vecs long, n_index_rows long, idx_missing long, "
        "idx_extra long, topk_missing long, topk_extra long, "
        "recall_ge_single long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


_PQ_ORACLE = """
    WITH head AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(1 AS BIGINT) AS recall_ok,
           CAST(1 AS BIGINT) AS stale_candidate_ok
    FROM head
"""


@query("sim_pq_incremental_cdf", oracle=_PQ_ORACLE)
def sim_pq_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PQ twin of sim_ann_incremental_cdf, completing the ANN family
    (IVF + SRP + multi-table + PQ all maintained): the CODES table —
    the 32×-compressed corpus replacement PQ exists for — becomes
    the maintained lake table. Codebooks train once on the seed and
    stay FIXED between re-trains, so encoding is a pure function of
    the vector: v1 inserts encode from the delta alone and append,
    v2 deletes leave via the shared lakelog.rewrite_minus_ids. The
    float corpus needs NO second copy — the exact re-rank joins the
    source embeddings table itself, touching only queries × rerank·k
    vectors.

    Pinned: maintained codes ≡ re-encoding the head snapshot on
    (vec_id, codes) — which IS the serving-staleness-zero statement
    for PQ (purity of encode under fixed books); top-5 served from
    the maintained codes (pq.pq_probe_topk, the ADC+re-rank half of
    pq_topk, shared code) ≡ rebuilt-codes top-5; recall >= 0.6 vs
    exact brute force RE-CHECKED on the maintained codes; and the
    re-train dial — the per-(vector, subspace) fraction of
    assignments that flip under CANDIDATE codebooks one id-aligned
    Lloyd step ahead (pq.refine_codebooks, shared with training) —
    a sane fraction (0 <= frac <= 0.5).

    100 TB posture: maintenance is O(delta) — one vectorized encode
    pass against the broadcast (m × k × dsub) codebooks + append +
    one anti-join; the ADC scan reads only the codes table (bytes,
    not floats); re-rank is queries × rerank·k source-row lookups."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import knn, pq

    K, M, K_CODES, ITERS, RERANK = 5, 16, 32, 3, 10
    et = _ann_build(spark, sf_dir, "ipq_emb")
    it = sinks.scratch_path("ipq_index")
    shutil.rmtree(it, ignore_errors=True)

    seed = lakelog.read_snapshot(spark, et, 0)
    books = pq.train_codebooks(seed, 64, m=M, k_codes=K_CODES, iters=ITERS)

    pq.encode(seed, books).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])
    ins, dels = _ann_feeds(spark, et)
    pq.encode(ins, books).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(spark, it, dels, "vec_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, et), "head")
    queries = head.filter(F.col("vec_id") < _ANN_QUERIES)

    rebuilt = stage(pq.encode(head, books), "rebuilt")
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["vec_id", "codes"]
    )
    m_topk = pq.pq_probe_topk(
        maintained, head, queries, books, k=K, rerank=RERANK
    ).transform(stage, "m_topk")
    r_topk = pq.pq_probe_topk(
        rebuilt, head, queries, books, k=K, rerank=RERANK
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["qid", "neighbor_id", "rank_n"]
    )
    bf = stage(knn.brute_force_topk(head, queries, k=K), "bf")
    hits = m_topk.join(bf, ["qid", "neighbor_id"], "left_semi").count()
    recall = hits / max(bf.count(), 1)
    candidate = pq.refine_codebooks(head, books)
    cand_codes = pq.encode(head, candidate)
    flips = (
        maintained.alias("a")
        .join(cand_codes.alias("b"), "vec_id")
        .select(
            F.size(
                F.filter(
                    F.zip_with(
                        F.col("a.codes"),
                        F.col("b.codes"),
                        lambda x, y: x != y,
                    ),
                    lambda t: t,
                )
            ).alias("n_flip")
        )
        .agg(
            F.sum("n_flip").cast("long").alias("flips"),
            F.count(F.lit(1)).cast("long").alias("rows"),
        )
        .first()
    )
    cand_frac = flips["flips"] / max(flips["rows"] * M, 1)

    out = spark.createDataFrame(
        [
            (
                int(head.count()),
                int(maintained.count()),
                int(idx_missing),
                int(idx_extra),
                int(topk_missing),
                int(topk_extra),
                int(recall >= 0.6),
                int(0.0 <= cand_frac <= 0.5),
            )
        ],
        "n_head_vecs long, n_index_rows long, idx_missing long, "
        "idx_extra long, topk_missing long, topk_extra long, "
        "recall_ok long, stale_candidate_ok long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


_SANN_ORACLE = """
    WITH head AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_index_rows,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(1 AS BIGINT) AS recall_ok
    FROM head
"""


@query("streaming_ann_live", oracle=_SANN_ORACLE)
def streaming_ann_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE twin of sim_ann_incremental_cdf — the IVF cell index
    maintained FROM BIRTH by the ``lakelog_cdf`` STREAMING source,
    the same batch/streaming symmetry the dedup loop has
    (streaming_dedup_lsh_live): the maintainer starts with an EMPTY
    index and every commit's changes — v0's seed inserts included —
    flow through the two rules in commit order (inserts: assign the
    delta by the fixed centroids, append; deletes: the ids'
    tombstone). One bootstrap step precedes the stream, documented
    as part of the drift contract: the coarse quantizer must be
    trained on SOME corpus before any assignment, so centroids come
    from the v0 snapshot and stay fixed — exactly the state a real
    deployment ships to its streaming maintainer.

    In-session state is the shared streaming.live_index
    .LiveIndexState — ordered parts/tombstones (a re-inserted key
    survives), compacted every K epochs, plan depth bounded for any
    stream length (the machinery the LSH live twin delegates to, so
    the two live maintainers cannot drift).

    Same structural proof as the batch twin: the stream-maintained
    index equals a from-scratch reassignment of the head snapshot on
    (vec_id, cell), top-5 served from it (ivf_probe_topk, shared
    code) equals rebuilt-index top-5, recall vs brute force >= 0.6
    re-checked on the maintained index."""
    import shutil
    import uuid

    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.similarity import ivf, knn
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.streaming import live_index
    from etl_lens_spark.streaming.live_index import LiveIndexState

    n_cells, nprobe, train_iters = ivf_params(spark)
    et = _ann_build(spark, sf_dir, "sann_emb")
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    centroids = ivf.train_centroids(
        lakelog.read_snapshot(spark, et, 0),
        k=n_cells,
        iters=train_iters,
    )
    state = LiveIndexState("vec_id")

    def _apply_version(vdf) -> None:
        # Deletes BEFORE inserts within a version, upsert pre/post
        # images folded into the same two rules (live_index rules).
        dels, ins_rows = live_index.split_version_changes(vdf)
        gone = dels.select(
            F.col("vec_id").alias("__gone")
        ).distinct()
        if not gone.isEmpty():
            state.delete(freeze(gone, "outlives its batch"))
        ins = ins_rows.select("vec_id", "embedding")
        if not ins.isEmpty():
            state.append(
                ivf.assign_cells(ins, centroids).transform(
                    freeze, "outlives its batch"
                )
            )

    sink = live_index.per_version_sink(_apply_version)
    ckpt = sinks.scratch_path(f"ckpt_sann_{uuid.uuid4().hex}")
    q = (
        spark.readStream.format("lakelog_cdf")
        .option("path", et)
        .option("schema_ddl", "vec_id long, embedding array<float>")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    maintained = stage(state.view(), "maintained")
    head = stage(lakelog.read_snapshot(spark, et), "head")
    queries = head.filter(F.col("vec_id") < _ANN_QUERIES)
    rebuilt = stage(ivf.assign_cells(head, centroids), "rebuilt")
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["vec_id", "cell"]
    )
    m_topk = ivf.ivf_probe_topk(
        maintained, queries, centroids, k=_ANN_K, nprobe=nprobe
    ).transform(stage, "m_topk")
    r_topk = ivf.ivf_probe_topk(
        rebuilt, queries, centroids, k=_ANN_K, nprobe=nprobe
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["qid", "neighbor_id", "rank_n"]
    )
    bf = knn.brute_force_topk(head, queries, k=_ANN_K)
    hits = m_topk.join(bf, ["qid", "neighbor_id"], "left_semi").count()
    recall = hits / max(bf.count(), 1)

    out = spark.createDataFrame(
        [
            (
                int(head.count()),
                int(maintained.count()),
                int(idx_missing),
                int(idx_extra),
                int(topk_missing),
                int(topk_extra),
                int(recall >= 0.6),
            )
        ],
        "n_head_vecs long, n_index_rows long, idx_missing long, "
        "idx_extra long, topk_missing long, topk_extra long, "
        "recall_ok long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
