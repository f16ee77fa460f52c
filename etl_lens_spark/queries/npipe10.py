"""Round-8 tranche: the change data feed served PER COMMIT — batch
(lakelog.table_changes) and as a STREAMING SOURCE
(sources/pyds.py::LakeLogCDFStreamDataSource) — closing the
lake → CDF → incrementally-maintained-SCD2 loop (VERDICT r7 item 1),
plus the multi-table LSH ANN retriever (item 6).

Same contract as every npipe tranche: PySpark plan + hand-written
DuckDB oracle on identical parquet where the math is SQL-expressible;
rows-only + pinned invariant tests where it is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.queries import bench_setup, query
from etl_lens_spark.sources import sinks
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import freeze, stage

# ---------------------------------------------------------------------------
# CDF per commit: the canonical four-commit lake fixture
#
# v0 seed (append), v1 MERGE with cdf=True (keys %20==1 price-doubled
# = updates; %20==3 re-keyed +1e8 copies = inserts), v2 predicate
# DELETE with cdf=True (%20==7), v3 merge-on-read DELETE via deletion
# vectors (%20==11 — its CDF rows are DERIVED from the sidecar diff,
# no change record needed, mirroring Delta's DV-commit handling).
# ---------------------------------------------------------------------------


def _cdf_lake_build(spark: SparkSession, sf_dir: str, tag: str) -> str:
    import shutil

    from etl_lens_spark.operators import lakelog

    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    base = sinks.scratch_path(tag)
    shutil.rmtree(base, ignore_errors=True)
    v0.write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    src = (
        v0.filter(F.col("k") % 20 == 1)
        .select("k", (F.col("price_cents") * 2).alias("price_cents"))
        .unionByName(
            v0.filter(F.col("k") % 20 == 3).select(
                (F.col("k") + 100000000).alias("k"), "price_cents"
            )
        )
    )
    lakelog.merge_upsert(spark, base, src, ["k"], cdf=True)
    lakelog.delete_where(spark, base, F.col("k") % 20 == 7, cdf=True)
    lakelog.delete_where_mor(spark, base, F.col("k") % 20 == 11)
    return base


_CDF_ORACLE_CHANGES = """
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    ch AS (
      SELECT k, cents, 'update_preimage' AS ct, 1 AS v
      FROM v0 WHERE k % 20 = 1
      UNION ALL
      SELECT k, cents * 2, 'update_postimage', 1 FROM v0 WHERE k % 20 = 1
      UNION ALL
      SELECT k + 100000000, cents, 'insert', 1 FROM v0 WHERE k % 20 = 3
      UNION ALL
      SELECT k, cents, 'delete', 2 FROM v0 WHERE k % 20 = 7
      UNION ALL
      SELECT k, cents, 'delete', 3 FROM v0 WHERE k % 20 = 11
    )
    SELECT ct AS change_type,
           CAST(v AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM ch
    GROUP BY ct, v
    ORDER BY change_type, commit_version
"""


@query("lake_cdf_table_changes", headline=True, oracle=_CDF_ORACLE_CHANGES)
def lake_cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED SERVED PER COMMIT (lakelog.table_changes —
    the Delta ``table_changes`` read): the four-commit fixture's
    post-seed changes, one row per changed row with its change type
    and commit version. Each commit is served from what its writer
    recorded — the MERGE and predicate DELETE from their ``_cdc``
    change files (written by ``cdf=True`` against the same
    touched-file reads the DML already did), the MOR delete DERIVED
    from its deletion-vector sidecar diff — so serving cost is
    O(rows changed), never O(table), and a CoW rewrite without a
    change record refuses with a clear error instead of guessing
    (contract tests in tests/test_lakelog.py). The oracle recomputes
    every change row relationally from the orders fixture.

    Reference analog: the reference re-scans its one file per query
    (src/main.cpp:1081) — no notion of incremental change serving;
    this is [L]/[N] lakehouse surface."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _cdf_lake_build(spark, sf_dir, "cdf_batch")
    out = (
        lakelog.table_changes(spark, base, 0, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("price_cents").cast("long").alias("cents_sum"),
        )
        .orderBy("change_type", "commit_version")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("lake_cdf_table_changes")
def _bench_cdf_table_changes(spark: SparkSession, sf_dir: str):
    # the four-commit lake fixture (three DML rewrites) is setup; the
    # timed thunk is the operator under test — per-commit CDF serving
    # (cdc records + sidecar-diff deletes) and the rollup
    from etl_lens_spark.operators import lakelog

    base = _cdf_lake_build(spark, sf_dir, "cdf_bench")
    return lambda: (
        lakelog.table_changes(spark, base, 0, 3)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("price_cents").cast("long").alias("cents_sum"),
        )
        .orderBy("change_type", "commit_version")
    )


_SCD2_SCHEMA = (
    "k long, version_seq long, price_cents long, "
    "valid_from_us long, valid_to_us long, is_current long"
)


@query(
    "streaming_lake_cdf_live",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    dim AS (
      -- seed rows (streamed as commit-0 inserts, applied at 1000):
      -- closed when later updated (2000) / CoW-deleted (3000) /
      -- MOR-deleted (4000)
      SELECT k, CAST(1 AS BIGINT) AS version_seq, cents AS price_cents,
             1000 AS vf,
             CASE WHEN k % 20 = 1 THEN 2000
                  WHEN k % 20 = 7 THEN 3000
                  WHEN k % 20 = 11 THEN 4000 END AS vt,
             CASE WHEN k % 20 IN (1, 7, 11) THEN 0 ELSE 1 END
               AS is_current
      FROM v0
      UNION ALL
      SELECT k, 2, cents * 2, 2000, NULL, 1 FROM v0 WHERE k % 20 = 1
      UNION ALL
      SELECT k + 100000000, 1, cents, 2000, NULL, 1
      FROM v0 WHERE k % 20 = 3
    )
    SELECT CAST(k % 20 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_current) AS BIGINT) AS n_current,
           CAST(SUM(version_seq) AS BIGINT) AS seq_sum,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(price_cents) AS BIGINT) AS price_sum,
           CAST(SUM(COALESCE(vt, 0)) AS BIGINT) AS closed_at_sum,
           CAST(0 AS BIGINT) AS read_mismatch
    FROM dim
    GROUP BY k % 20
    ORDER BY key_mod
    """,
)
def streaming_lake_cdf_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF AS A STREAMING SOURCE feeding live SCD2 maintenance — the
    loop VERDICT r7 item 1 asked to close: the four-commit lake
    fixture is tailed by ``lakelog_cdf`` (offsets = commit versions,
    same pacing/restart contract as the plain lake source), emitting
    row-level insert / update_pre/postimage / delete rows per commit
    — including the MOR-delete commit, whose rows come from the
    deletion-vector sidecar diff with no change record needed. The
    streamed feed then drives cdc.scd2_apply_changes batch-by-batch
    (commit v applied at instant (v+1)·1000 µs) from an EMPTY
    dimension, so the maintained dimension's entire history is
    stream-derived.

    Three independent derivations must coincide: (1) the stream-fed
    maintained dimension (this query's rollup); (2) the batch
    table_changes read — ``read_mismatch`` multiset-compares the
    streamed rows against it in one ±1-tagged aggregation, pinned 0;
    (3) the DuckDB oracle's relational reconstruction from orders.

    At 100 TB this is the production shape: writers commit to the
    lake with CDF enabled; a resident stream tails commit versions,
    reading only each commit's change record (O(rows changed) per
    batch, zero re-scans); the SCD2 apply touches only feed keys."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.operators.cdc import scd2_apply_changes
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

    base = _cdf_lake_build(spark, sf_dir, "cdf_live")
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    from etl_lens_spark.streaming import stream_ops as so

    stream = (
        spark.readStream.format("lakelog_cdf")
        .option("path", base)
        .option("schema_ddl", "k long, price_cents long")
        .load()
    )
    streamed = freeze(
        so.run_to_memory(stream, "q_stream_cdf"), "outlives the sink"
    )

    # read-path audit: streamed rows ≡ batch table_changes rows as a
    # MULTISET (±1 tag + one grouped sum — one shuffle, no exceptAll
    # double-lineage), including the commit-0 seed inserts
    batch = lakelog.table_changes(spark, base, -1, 3).select(
        "k", "price_cents", "_change_type", "_commit_version"
    )
    tagged = streamed.withColumn("__t", F.lit(1)).unionByName(
        batch.withColumn("__t", F.lit(-1))
    )
    audit = (
        tagged.groupBy("k", "price_cents", "_change_type", "_commit_version")
        .agg(F.sum("__t").alias("__s"))
        .agg(
            F.sum(
                F.when(F.col("__s") != 0, F.abs(F.col("__s"))).otherwise(0)
            )
            .cast("long")
            .alias("read_mismatch")
        )
    )

    # stream-fed incremental SCD2: apply each commit's feed in order
    dim = spark.createDataFrame([], _SCD2_SCHEMA)
    for v in range(4):
        feed = streamed.filter(F.col("_commit_version") == v).select(
            "k", "price_cents", "_change_type"
        )
        dim = scd2_apply_changes(
            dim, feed, ["k"], ["price_cents"], (v + 1) * 1000
        ).transform(freeze, "bounded loop lineage")

    out = (
        dim.groupBy((F.col("k") % 20).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("is_current").cast("long").alias("n_current"),
            F.sum("version_seq").cast("long").alias("seq_sum"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("price_cents").cast("long").alias("price_sum"),
            F.sum(F.coalesce("valid_to_us", F.lit(0)))
            .cast("long")
            .alias("closed_at_sum"),
        )
        .crossJoin(F.broadcast(audit))
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Column mapping: rename / drop / add as O(1) metadata
# ---------------------------------------------------------------------------


@query(
    "lake_column_mapping",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS k,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS bal,
             c_mktsegment AS seg
      FROM customer
    ),
    final AS (
      SELECT k, bal, CAST(NULL AS BIGINT) AS vip FROM c
      UNION ALL
      SELECT k + 10000000, bal, CAST(NULL AS BIGINT) FROM c
      UNION ALL
      SELECT k + 20000000, bal, k % 3 FROM c
    )
    SELECT CAST(k % 10 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal) AS BIGINT) AS bal_sum,
           CAST(SUM(COALESCE(vip, 0)) AS BIGINT) AS vip_sum,
           CAST(SUM(CASE WHEN vip IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_vip,
           CAST((SELECT COUNT(*) FROM c) * 2 AS BIGINT) AS rows_at_v2,
           CAST((SELECT COUNT(DISTINCT seg) FROM c) AS BIGINT)
             AS seg_kinds_at_v2
    FROM final
    GROUP BY k % 10
    ORDER BY key_mod
    """,
)
def lake_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING — RENAME / DROP / ADD COLUMN as O(1) metadata
    commits with ZERO file rewrites (the Delta column-mapping /
    Iceberg name-mapping capability; lakelog.rename_column /
    drop_column / add_column / read_snapshot_mapped): logical names
    bind to immutable physical parquet names, renames edit only the
    binding, drops remove it, adds bind a NEVER-USED physical name
    so a re-added column cannot resurrect dropped bytes.

    The fixture exercises every operation against customer: v0 seeds
    (k, bal_cents, seg) under an identity mapping; v1 RENAMEs
    bal_cents → balance; v2 appends re-keyed copies WRITTEN UNDER
    PHYSICAL NAMES (to_physical — the file carries ``bal_cents``,
    queries see ``balance``); v3 DROPs seg; v4 ADDs vip and appends
    rows carrying it (old files surface vip as NULL). The final
    mapped read rolls up per key bucket; rows_at_v2 / seg_kinds_at_v2
    pin TIME TRAVEL under the v2-era mapping (seg still visible
    then). The zero-rewrite guarantee is pinned physically in
    tests/test_lakelog.py (byte-identical file inventory across all
    three metadata commits)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    base = sinks.scratch_path("colmap")
    shutil.rmtree(base, ignore_errors=True)
    c.write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            lakelog.mapping_action(
                [("k", "k", "long"), ("bal_cents", "bal_cents", "long"),
                 ("seg", "seg", "string")]
            ),
            {"add": "s0"},
        ],
    )
    lakelog.rename_column(base, "bal_cents", "balance")  # v1
    fields_v1 = lakelog.column_mapping(base)
    appended = c.select(
        (F.col("k") + 10000000).alias("k"),
        F.col("bal_cents").alias("balance"),
        "seg",
    )
    lakelog.to_physical(appended, fields_v1).write.parquet(f"{base}/s2")
    lakelog.commit(base, 2, [{"add": "s2"}])
    lakelog.drop_column(base, "seg")  # v3
    lakelog.add_column(base, "vip", "long")  # v4
    fields_v4 = lakelog.column_mapping(base)
    vip_rows = c.select(
        (F.col("k") + 20000000).alias("k"),
        F.col("bal_cents").alias("balance"),
        (F.col("k") % 3).cast("long").alias("vip"),
    )
    lakelog.to_physical(vip_rows, fields_v4).write.parquet(f"{base}/s5")
    lakelog.commit(base, 5, [{"add": "s5"}])

    at_v2 = lakelog.read_snapshot_mapped(spark, base, 2)
    pins = at_v2.agg(
        F.count(F.lit(1)).cast("long").alias("rows_at_v2"),
        F.countDistinct("seg").cast("long").alias("seg_kinds_at_v2"),
    )
    final = lakelog.read_snapshot_mapped(spark, base)
    out = (
        final.groupBy((F.col("k") % 10).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("balance").cast("long").alias("bal_sum"),
            F.sum(F.coalesce("vip", F.lit(0))).cast("long").alias("vip_sum"),
            F.sum(F.col("vip").isNotNull().cast("long"))
            .cast("long")
            .alias("n_vip"),
        )
        .crossJoin(F.broadcast(pins))
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Multi-table LSH ANN retriever: the plateau-breaker (VERDICT item 6)
# ---------------------------------------------------------------------------

_MT_K = 10
_MT_NQ = 20
_MT_BITS = 4
_MT_DIM = 64
_MT_PROBES = 5  # exact bucket + all flip-1 = the single-table plateau
_MT_TABLES = [1, 2, 3, 4]


@query("sim_ann_lsh_multitable")
def sim_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE LSH RETRIEVER — the deployment answer to the
    single-table plateau sim_ann_lsh_operating_curve recorded:
    flip-1 multi-probe tops out below recall 1.0 because it never
    leaves the neighborhood of ONE hash geometry; L INDEPENDENT
    hyperplane tables (seeds 42..42+L−1) union their candidate sets,
    deduplicate the (query, neighbor) pairs BEFORE scoring, and lift
    the plateau at the same per-table probe depth. Emitted per L:
    candidates actually scored (post-dedup — the honest scan cost;
    overlap between tables is free) and exact-ground-truth recall@10.

    Sweep discipline (the 100 TB posture): ALL max-L bucket columns
    are hashed onto the corpus in ONE pass
    (knn.srp_multitable_index) and staged once — at scale
    the corpus shuffle is the whole cost, and the L-axis sweep
    re-probes only the 20-query side; candidate sets are
    PREFIX-UNIONS (tables 0..L−1), so recall and candidates are
    monotone in L by construction — contract-tested with the L=1
    point pinned ≡ the single-table curve's plateau point (same seed,
    same probes). As of round 10 the sweep is REBUILT on the shared
    helpers (srp_multitable_index / multitable_candidates) that the
    maintained-lake-table path (sim_multitable_incremental_cdf) and
    its top-k serve from — one definition, so the recorded curve and
    the maintained-index scoring cannot drift. Rows-only by design
    (probe internals are not SQL-expressible); contracts in
    tests/test_npipe9.py."""
    from etl_lens_spark.similarity import knn
    from etl_lens_spark.similarity.knn import make_planes

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _MT_NQ)
    truth = {
        (r["qid"], r["neighbor_id"])
        for r in knn.brute_force_topk(
            emb, queries_df, k=_MT_K
        ).collect()
    }
    max_l = max(_MT_TABLES)
    planes = [
        make_planes(_MT_DIM, _MT_BITS, seed=42 + t) for t in range(max_l)
    ]
    from etl_lens_spark.similarity.knn import norm

    # hashed ONCE for every table and L, norms staged with it
    # (multitable_candidates reuses a present __cnorm)
    index = (
        knn.srp_multitable_index(emb, planes)
        .withColumn("__cnorm", norm(F.col("embedding")))
        .transform(stage, "index")
    )

    out_rows = []
    denom = len(truth)
    for n_tables in _MT_TABLES:
        # scored once per L: the count and the ranking share it
        scored = knn.multitable_candidates(
            index,
            queries_df,
            planes,
            probes=_MT_PROBES,
            n_tables=n_tables,
        ).transform(stage, "scored")
        # ranking delegates to the SAME function the maintained-index
        # path serves with — the anti-drift claim covers ranking too
        top = knn.multitable_probe_topk(
            index,
            queries_df,
            planes,
            k=_MT_K,
            probes=_MT_PROBES,
            n_tables=n_tables,
            candidates=scored,
        )
        n_cand = scored.count()
        got = {
            (r["qid"], r["neighbor_id"])
            for r in top.select("qid", "neighbor_id").collect()
        }
        out_rows.append(
            (
                n_tables,
                int(n_cand),
                float(n_cand) / _MT_NQ,
                len(got & truth) / denom,
            )
        )
    return spark.createDataFrame(
        out_rows,
        "n_tables int, candidates_scored long, "
        "avg_candidates_per_query double, recall_at_k double",
    ).orderBy("n_tables")


# ---------------------------------------------------------------------------
# CHECK constraints: data-quality rules as table metadata
# ---------------------------------------------------------------------------


@query(
    "lake_check_constraints",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    final AS (
      SELECT k, cents FROM v0
      UNION ALL
      SELECT k + 10000000, cents FROM v0   -- the clean append only
    )
    SELECT CAST(k % 10 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(1 AS BIGINT) AS n_constraints_active,
           CAST(1 AS BIGINT) AS add_rejected,
           CAST(1 AS BIGINT) AS append_rejected,
           CAST((SELECT COUNT(*) FILTER (WHERE k % 5 = 0) FROM v0)
                AS BIGINT) AS bad_rows_blocked
    FROM final
    GROUP BY k % 10
    ORDER BY key_mod
    """,
)
def lake_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS as table metadata (lakelog.add_constraint /
    constrained_append — the Delta ALTER TABLE ADD CONSTRAINT
    capability): ``cents >= 0`` commits after ONE validating scan of
    the current snapshot; a second constraint existing rows violate
    is REFUSED at add time (a committed constraint is a table-wide
    invariant, never a from-now-on hope); a clean re-keyed append
    passes its O(batch) validation; an append with negated prices on
    k%5==0 is rejected BEFORE its parquet is written, so nothing of
    it is ever visible. The rollup proves exactly the seed + the
    clean append landed; bad_rows_blocked pins how many rows the
    gate stopped. The oracle recomputes the surviving table and the
    blocked count relationally from orders."""
    import shutil

    from etl_lens_spark.operators import lakelog

    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    base = sinks.scratch_path("constraints")
    shutil.rmtree(base, ignore_errors=True)
    v0.write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.add_constraint(spark, base, "cents_nonneg", "cents >= 0")
    add_rejected = 0
    try:  # existing rows violate — must refuse
        lakelog.add_constraint(spark, base, "cents_tiny", "cents < 100")
    except lakelog.ConstraintViolation:
        add_rejected = 1
    clean = v0.select((F.col("k") + 10000000).alias("k"), "cents")
    lakelog.constrained_append(spark, base, clean, "s_clean")
    bad = v0.select(
        (F.col("k") + 20000000).alias("k"),
        F.when(F.col("k") % 5 == 0, -F.col("cents"))
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    append_rejected = 0
    try:
        lakelog.constrained_append(spark, base, bad, "s_bad")
    except lakelog.ConstraintViolation:
        append_rejected = 1
    bad_blocked = bad.filter(F.col("cents") < 0).count()
    flags = spark.createDataFrame(
        [(len(lakelog.table_constraints(base)), add_rejected,
          append_rejected, bad_blocked)],
        "n_constraints_active long, add_rejected long, "
        "append_rejected long, bad_rows_blocked long",
    )
    out = (
        lakelog.read_snapshot(spark, base)
        .groupBy((F.col("k") % 10).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .crossJoin(F.broadcast(flags))
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# The full production loop: lake A → CDF stream → foreachBatch SCD2
# apply → exactly-once commits into lake B
# ---------------------------------------------------------------------------


@query(
    "streaming_lake_cdf_exactly_once",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    dim AS (
      SELECT k, CAST(1 AS BIGINT) AS version_seq, cents AS price_cents,
             1000 AS vf,
             CASE WHEN k % 20 = 1 THEN 2000
                  WHEN k % 20 = 7 THEN 3000
                  WHEN k % 20 = 11 THEN 4000 END AS vt,
             CASE WHEN k % 20 IN (1, 7, 11) THEN 0 ELSE 1 END
               AS is_current
      FROM v0
      UNION ALL
      SELECT k, 2, cents * 2, 2000, NULL, 1 FROM v0 WHERE k % 20 = 1
      UNION ALL
      SELECT k + 100000000, 1, cents, 2000, NULL, 1
      FROM v0 WHERE k % 20 = 3
    )
    SELECT CAST(k % 20 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_current) AS BIGINT) AS n_current,
           CAST(SUM(version_seq) AS BIGINT) AS seq_sum,
           CAST(SUM(price_cents) AS BIGINT) AS price_sum,
           CAST(1 AS BIGINT) AS all_batches_committed,
           CAST(1 AS BIGINT) AS retry_skipped,
           CAST(1 AS BIGINT) AS orphans_removed
    FROM dim
    GROUP BY k % 20
    ORDER BY key_mod
    """,
)
def streaming_lake_cdf_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FULL PRODUCTION LOOP, end to end in one query: lake A's
    commits are tailed by the CDF streaming source; a foreachBatch
    sink applies each micro-batch's row-level changes to an SCD2
    dimension MAINTAINED IN A SECOND LAKE TABLE, committing through
    commit_idempotent (the Delta txn handshake) — so a crash-replayed
    batch is absorbed, not double-applied. The crash is then actually
    simulated: the last epoch's sink work (dimension rewrite + txn
    commit) is re-executed verbatim — the retry is SKIPPED by the
    recorded high-water mark, its orphaned rewrite reclaimed by
    remove_orphans, and the dimension provably unharmed (the oracle
    would hash-mismatch on any duplicate application: a re-applied
    delete batch would close nothing but a re-applied update batch
    would open spurious version-3 rows).

    At 100 TB this is the architecture: source progress in the
    stream's checkpoint, sink progress in lake B's txn actions, each
    micro-batch O(rows changed in its commits), the dimension update
    touching only feed keys (scd2_apply_changes' broadcast
    semi-split)."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.operators.cdc import scd2_apply_changes
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.sources.sinks import scratch_path

    src_base = _cdf_lake_build(spark, sf_dir, "cdf_x1_src")
    dim_base = scratch_path("cdf_x1_dim")
    shutil.rmtree(dim_base, ignore_errors=True)
    import os as _os

    _os.makedirs(dim_base)
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    app_id = "scd2_maintainer"
    sink_log: list[dict] = []

    def _apply_batch(batch_df, epoch_id: int):
        """The sink body, factored so the crash-retry can re-run it
        verbatim: apply the batch's commits IN VERSION ORDER to the
        current dimension, write the new dimension, commit with the
        epoch as the txn version."""
        versions = sorted(
            r["_commit_version"]
            for r in batch_df.select("_commit_version")
            .distinct()
            .collect()
        )
        if not versions:
            return None
        prev = lakelog.snapshot_actions(dim_base) if (
            lakelog.latest_version(dim_base) >= 0
        ) else {}
        dim = (
            lakelog.read_snapshot(spark, dim_base)
            if prev
            else spark.createDataFrame([], _SCD2_SCHEMA)
        )
        for v in versions:
            feed = batch_df.filter(
                F.col("_commit_version") == v
            ).select("k", "price_cents", "_change_type")
            dim = scd2_apply_changes(
                dim, feed, ["k"], ["price_cents"], (v + 1) * 1000
            )
        # the rel must be UNIQUE PER ATTEMPT (round-8 review fix): a
        # crash-replayed epoch re-runs this body — a deterministic
        # name would overwrite the live dimension file the replay is
        # simultaneously reading, BEFORE commit_idempotent can skip;
        # a fresh name makes the replay's write harmless debris that
        # remove_orphans reclaims (the exactly-once story this query
        # pins)
        import uuid as _uuid

        rel = f"dim_{int(epoch_id):05d}_{_uuid.uuid4().hex[:8]}"
        # bound the dimension's file count: the apply's three-way
        # union tripled the shuffle partitioning each epoch — at
        # fixture scale one digit of files is right (production
        # would repartition by key into its bucketing layout)
        dim.coalesce(8).write.mode("overwrite").parquet(
            _os.path.join(dim_base, rel)
        )
        actions = [{"remove": r} for r in prev] + [{"add": rel}]
        return {
            "versions": versions,
            **lakelog.commit_idempotent(
                dim_base, app_id, int(epoch_id), actions
            ),
        }

    def sink(batch_df, epoch_id):
        res = _apply_batch(
            freeze(batch_df, "outlives its batch"), int(epoch_id)
        )
        if res is not None:
            sink_log.append({"epoch": int(epoch_id), **res})

    stream = (
        spark.readStream.format("lakelog_cdf")
        .option("path", src_base)
        .option("schema_ddl", "k long, price_cents long")
        .load()
    )
    import uuid

    ckpt = scratch_path(f"ckpt_cdf_x1_{uuid.uuid4().hex}")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    all_committed = int(
        bool(sink_log) and all(not r["skipped"] for r in sink_log)
    )
    # crash-retry: re-run the LAST epoch's sink work with the SAME
    # batch content (the versions that epoch actually carried — under
    # the availableNow single-batch fallback that is all of them) —
    # the txn high-water mark absorbs it; its fresh-named rewrite
    # becomes debris for remove_orphans
    last = sink_log[-1]
    replay = lakelog.table_changes(
        spark, src_base, -1, lakelog.latest_version(src_base)
    ).filter(F.col("_commit_version").isin([int(v) for v in last["versions"]]))
    pre_head = lakelog.latest_version(dim_base)
    retry = _apply_batch(replay, last["epoch"])
    retry_skipped = int(bool(retry and retry["skipped"]))
    assert lakelog.latest_version(dim_base) == pre_head
    orphans = lakelog.remove_orphans(dim_base)

    flags = spark.createDataFrame(
        [(all_committed, retry_skipped, int(bool(orphans["n_removed"])))],
        "all_batches_committed long, retry_skipped long, "
        "orphans_removed long",
    )
    out = (
        lakelog.read_snapshot(spark, dim_base)
        .groupBy((F.col("k") % 20).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("is_current").cast("long").alias("n_current"),
            F.sum("version_seq").cast("long").alias("seq_sum"),
            F.sum("price_cents").cast("long").alias("price_sum"),
        )
        .crossJoin(F.broadcast(flags))
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(src_base, ignore_errors=True)
    shutil.rmtree(dim_base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# RESTORE (time-travel rollback) + metadata tables — round-8 tranche 2
# ---------------------------------------------------------------------------


@query(
    "lake_restore_rollback",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    v1 AS (
      SELECT k, cents FROM v0
      UNION ALL
      SELECT k + 200000000, cents FROM v0 WHERE k % 20 = 5
    ),
    v2 AS (SELECT k, cents FROM v1 WHERE k % 7 <> 0),
    snap AS (
      SELECT 0 AS v, k, cents FROM v0
      UNION ALL SELECT 1, k, cents FROM v1
      UNION ALL SELECT 2, k, cents FROM v2
      UNION ALL SELECT 3, k, cents FROM v1
    ),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS cdf_ins,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS cdf_del
    )
    SELECT CAST(v AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(2 AS INT) AS n_readded,
           CAST(1 AS INT) AS n_removed,
           c.cdf_ins AS cdf_restore_inserts,
           c.cdf_del AS cdf_restore_deletes,
           'RESTORE' AS op_restore
    FROM snap CROSS JOIN c
    GROUP BY v, c.cdf_ins, c.cdf_del
    ORDER BY version
    """,
)
def lake_restore_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF — Delta's rollback verb,
    closing the lake DML loop: a bad predicate DELETE (v2) is undone
    by a restore commit (v3) that re-adds v1's files and removes the
    delete's rewrite output. The pins:

    - per-version row/key/cents checksums over the WHOLE log prove
      head == v1 exactly while v2 (the mistake) stays time-travelable
      — restore is a new commit, never a log truncation;
    - a physical-inventory assertion (in-test and implicitly here:
      the restore commit re-reads nothing and rewrites nothing — the
      v3 checksums come from the SAME parquet bytes v1's did);
    - the restore's own change record (cdf=True) serves through
      table_changes at FILE granularity, Delta's documented RESTORE
      CDF shape: re-added files' rows are inserts (= all of v1),
      removed rewrite files' rows are deletes (= v2's survivors);
    - the history row classifies the commit as RESTORE.

    100 TB posture: rollback cost is O(files changed between the two
    versions) driver-side metadata — zero parquet reads unless the
    caller asks for the row-level change record, and even then only
    the CHANGED files are read, never the table."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    base = sinks.scratch_path("lake_restore")
    shutil.rmtree(base, ignore_errors=True)
    orders.coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    orders.filter(F.col("k") % 20 == 5).select(
        (F.col("k") + 200000000).alias("k"), "cents"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])
    lakelog.delete_where(spark, base, F.col("k") % 7 == 0, cdf=True)
    res = lakelog.restore_table(spark, base, 1, cdf=True)

    cdf = (
        lakelog.table_changes(spark, base, 2, 3)
        .groupBy()
        .agg(
            F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0))
            .cast("long")
            .alias("cdf_restore_inserts"),
            F.sum(F.when(F.col("_change_type") == "delete", 1).otherwise(0))
            .cast("long")
            .alias("cdf_restore_deletes"),
        )
        .collect()[0]
    )
    op = {
        r.version: r.operation
        for r in lakelog.table_history(spark, base).collect()
    }[res["version"]]

    parts = []
    for v in range(4):
        parts.append(
            lakelog.read_snapshot(spark, base, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("k").cast("long").alias("key_sum"),
                F.sum("cents").cast("long").alias("cents_sum"),
            )
            .withColumn("version", F.lit(v).cast("int"))
        )
    per = parts[0]
    for p in parts[1:]:
        per = per.unionByName(p)
    return per.select(
        "version",
        "n_rows",
        "key_sum",
        "cents_sum",
        F.lit(res["n_readded"]).cast("int").alias("n_readded"),
        F.lit(res["n_removed"]).cast("int").alias("n_removed"),
        F.lit(cdf["cdf_restore_inserts"])
        .cast("long")
        .alias("cdf_restore_inserts"),
        F.lit(cdf["cdf_restore_deletes"])
        .cast("long")
        .alias("cdf_restore_deletes"),
        F.lit(op).alias("op_restore"),
    ).orderBy("version")


@query(
    "lake_metadata_tables",
    oracle="""
    WITH v0 AS (SELECT o_orderkey AS k FROM orders),
    h(version, operation, n_add, n_remove, data_change, has_cdc) AS (
      VALUES (0, 'WRITE',        2, 0, TRUE,  FALSE),
             (1, 'MERGE',        1, 1, TRUE,  TRUE),
             (2, 'DELETE (MOR)', 1, 0, TRUE,  FALSE)
    ),
    s0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS live
      FROM v0 WHERE k % 20 <> 4
    )
    SELECT CAST(version AS INT) AS version,
           operation,
           CAST(n_add AS INT) AS n_add,
           CAST(n_remove AS INT) AS n_remove,
           data_change,
           has_cdc,
           CAST(2 AS INT) AS n_active_files,
           s0.live AS live_known_rows,
           CAST(0 AS INT) AS n_files_unknown_stats
    FROM h CROSS JOIN s0
    ORDER BY version
    """,
)
def lake_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY + the files metadata table as DataFrames —
    the Iceberg ``table$history``/``table$files`` (Delta DESCRIBE
    HISTORY / DETAIL) surface. Fixture: even-key and odd-key orders
    land as two stats-carrying files in one WRITE commit; a MERGE
    (cdf=True, keys %20==1 — all odd) rewrites ONLY the odd file; a
    merge-on-read DELETE (%20==4 — all even) pins a deletion vector
    onto the even file without touching parquet.

    The output joins both metadata tables: per-commit operation
    classification with action counts and cdf flags (history), plus
    head-state aggregates from the files table — active file count,
    live rows among stats-carrying files computed as num_records
    MINUS dv_count straight from the log (zero parquet opens; the
    same numbers the zero-job OPTIMIZE sizing reads), and the count
    of files whose writer recorded no stats (sentinel -1; none here,
    since the merge rewrite records ``num_records`` from its footers).
    The oracle pins history structurally (the DML sequence fixes it)
    and live_known_rows relationally.

    100 TB posture: both tables are pure driver-side log replay —
    O(commits) and O(active files) metadata with zero data reads,
    which is what makes DESCRIBE HISTORY instant on a 10⁹-row
    table."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    base = sinks.scratch_path("lake_meta")
    shutil.rmtree(base, ignore_errors=True)
    orders.filter(F.col("k") % 2 == 0).coalesce(1).write.parquet(
        f"{base}/s0"
    )
    orders.filter(F.col("k") % 2 == 1).coalesce(1).write.parquet(
        f"{base}/s1"
    )
    acts = []
    for rel in ("s0", "s1"):
        stats, n = lakelog.file_stats_with_count(
            spark, f"{base}/{rel}", ["k"]
        )
        acts.append({"add": rel, "stats": stats, "num_records": n})
    lakelog.commit(base, 0, acts)
    lakelog.merge_upsert(
        spark,
        base,
        orders.filter(F.col("k") % 20 == 1).select(
            "k", (F.col("cents") * 2).alias("cents")
        ),
        ["k"],
        cdf=True,
    )
    lakelog.delete_where_mor(spark, base, F.col("k") % 20 == 4)

    files = lakelog.table_files(spark, base)
    agg = files.agg(
        F.count(F.lit(1)).cast("int").alias("n_active_files"),
        F.sum(
            F.when(
                F.col("n_records") >= 0,
                F.col("n_records") - F.col("dv_count"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("live_known_rows"),
        F.sum(F.when(F.col("n_records") < 0, 1).otherwise(0))
        .cast("int")
        .alias("n_files_unknown_stats"),
    )
    return (
        lakelog.table_history(spark, base)
        .select(
            "version",
            "operation",
            "n_add",
            "n_remove",
            "data_change",
            "has_cdc",
        )
        .crossJoin(F.broadcast(agg))
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance from the CDF (operators/ivm.py)
# ---------------------------------------------------------------------------


def _ivm_orders_build(
    spark: SparkSession, sf_dir: str, tag: str
) -> str:
    """Orders-side IVM fixture: v0 seed; v1 MERGE with %20==1 cents
    doubled + %20==3 re-keyed inserts; v2 DELETE %13==0 — all with
    cdf=True."""
    import shutil

    from etl_lens_spark.operators import lakelog

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("custkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ot = sinks.scratch_path(f"{tag}_orders")
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
    lakelog.merge_upsert(spark, ot, src, ["k"], cdf=True)
    lakelog.delete_where(spark, ot, F.col("k") % 13 == 0, cdf=True)
    return ot


def _ivm_lake_build(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[str, str]:
    """Two-table IVM fixture: the orders facts (_ivm_orders_build)
    plus a customer dim (v0 seed; v1 MERGE moving %10==7 to
    (nk+7)%25) — every change with cdf=True. Returns (orders_table,
    customer_table)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    ot = _ivm_orders_build(spark, sf_dir, tag)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").cast("int").alias("nk"),
    )
    ct = sinks.scratch_path(f"{tag}_cust")
    shutil.rmtree(ct, ignore_errors=True)
    cust.write.parquet(f"{ct}/s0")
    lakelog.commit(ct, 0, [{"add": "s0"}])
    c0 = lakelog.read_snapshot(spark, ct, 0)
    csrc = c0.filter(F.col("custkey") % 10 == 7).select(
        "custkey", ((F.col("nk") + 7) % 25).cast("int").alias("nk")
    )
    lakelog.merge_upsert(spark, ct, csrc, ["custkey"], cdf=True)
    return ot, ct



def _ivm_maintained_view(spark, ot: str, ct: str, o0, c0, view0):
    """Shared batch maintenance for the IVM twins: consolidated CDF
    Z-sets from both lake tables, the trilinear delta join, and the
    view merge — one definition so the bench thunk and the query
    cannot drift (review fix)."""
    from etl_lens_spark.operators import ivm, lakelog

    dz_o = ivm.consolidate(
        ivm.changes_to_zset(
            lakelog.table_changes(spark, ot, 0, 2),
            ["k", "custkey", "cents"],
        )
    )
    dz_c = ivm.consolidate(
        ivm.changes_to_zset(
            lakelog.table_changes(spark, ct, 0, 1), ["custkey", "nk"]
        )
    )
    delta = ivm.delta_join(o0, dz_o, c0, dz_c, ["custkey"])
    # the maintained view is consumed TWICE by every caller — once by
    # the recompute audit's full-outer count and once as the query
    # output — so materialize it here (it is O(groups) rows) instead
    # of re-running the CDF reads + trilinear delta join per consumer
    # (guide §5: reused and expensive to recompute)
    return stage(
        ivm.maintain_agg(
            view0, delta, ["nk"], "n_orders", {"cents_sum": F.col("cents")}
        ),
        "ivm_maintained_view",
    )


def _ivm_audit(
    maintained, recompute, key: str, pairs: list[tuple[str, str]]
) -> int:
    """Rows where the maintained view disagrees with the recompute,
    full-outer on ``key`` and NULL-safe on every compared pair — the
    in-output audit column every IVM query pins to 0."""
    import functools

    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(m).eqNullSafe(F.col(r)) for m, r in pairs],
    )
    return maintained.join(recompute, key, "full_outer").filter(~cond).count()


_IVM_VIEW_ORACLE = """
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
    c0 AS (
      SELECT c_custkey AS custkey, c_nationkey AS nk FROM customer
    ),
    cfin AS (
      SELECT custkey,
             CASE WHEN custkey % 10 = 7 THEN (nk + 7) % 25
                  ELSE nk END AS nk
      FROM c0
    )
    SELECT CAST(cfin.nk AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ofin.cents) AS BIGINT) AS cents_sum,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM ofin JOIN cfin USING (custkey)
    GROUP BY cfin.nk
    ORDER BY nationkey
"""


@query(
    "warehouse_ivm_join_view",
    headline=True,
    oracle=_IVM_VIEW_ORACLE,
)
def warehouse_ivm_join_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of a materialized join-aggregate
    view from BOTH base tables' change data feeds — the delta-rule /
    Z-set algebra (operators/ivm.py) closing the warehouse loop the
    round opened with CDF-as-a-source: two lake tables (orders facts,
    customer dim) each take real DML with cdf=True, the view
    ``γ_nationkey(count, sum cents)(orders ⋈ customer)`` is
    materialized once at v0, and every later change reaches it ONLY
    through table_changes:

    - orders v1 MERGE: %20==1 cents doubled (update image pairs) +
      %20==3 re-keyed copies (inserts); v2 DELETE %13==0 — the
      re-keyed inserts shift mod 13, so some v1 inserts die at v2,
      exercising insert-then-delete netting through the feed;
    - customer v1 MERGE: %10==7 moved to (nk+7)%25 — every matching
      order's contribution must LEAVE one nation group and ENTER
      another (the group-moving update delta rules exist for);
    - maintenance: Δ(O⋈C) = ΔO⋈C₀ + O₀⋈ΔC + ΔO⋈ΔC with multiplied
      weights (both deltas broadcast), folded into the view as
      Σw / Σw·cents per group.

    Three-way agreement, the warehouse_scd2_incremental pattern: the
    maintained view is hash-matched against the DuckDB oracle's
    from-final-states recompute, and audit_mismatch counts rows where
    a full Spark recompute from the head snapshots disagrees — pinned
    0 in-output, so a silent algebra bug cannot pass.

    100 TB posture: the recompute path re-joins and re-shuffles both
    full tables; the maintained path shuffles ONLY the delta
    aggregate (rows ≤ groups touched) after broadcast-probing the old
    states where the delta's keys hit — O(changes), the entire point
    of IVM. consolidate() nets same-row churn before the three-way
    fan-out."""
    from etl_lens_spark.operators import lakelog

    ot, ct = _ivm_lake_build(spark, sf_dir, "ivm")

    # v0 snapshots and the materialized view
    o0 = lakelog.read_snapshot(spark, ot, 0)
    c0 = lakelog.read_snapshot(spark, ct, 0)
    view0 = (
        o0.join(c0, "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .transform(freeze, "later DML must not leak in")
    )

    # maintenance: the view sees ONLY the change feeds
    maintained = _ivm_maintained_view(spark, ot, ct, o0, c0, view0)

    # audit: full recompute from the head snapshots must agree
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .join(lakelog.read_snapshot(spark, ct), "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r_n"),
            F.sum("cents").cast("long").alias("r_s"),
        )
    )
    audit = _ivm_audit(
        maintained, recompute, "nk",
        [("n_orders", "r_n"), ("cents_sum", "r_s")],
    )
    return maintained.select(
        F.col("nk").cast("int").alias("nationkey"),
        "n_orders",
        "cents_sum",
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("nationkey")


@query("streaming_ivm_live", oracle=_IVM_VIEW_ORACLE)
def streaming_ivm_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE twin of warehouse_ivm_join_view: the SAME materialized
    join-aggregate view maintained from the CDF STREAMING source
    (``lakelog_cdf``), one maintenance step per commit epoch in true
    commit order (orders v1, orders v2, customer v1) — the resident-
    stream deployment of the delta rules, where each epoch joins that
    commit's (broadcast) change batch against the OTHER side's
    snapshot as of that moment:

    - orders epochs: ``ΔO_v ⋈ C₀`` (the customer update commits
      later in wall time, so the dim state is still v0);
    - customer epoch: ``O_head ⋈ ΔC`` (orders already at head);
    - each delta folds into the view as Σw / Σw·cents per group.

    The per-epoch single-sided rule telescopes to the batch trilinear
    form (bilinearity), so three derivations must coincide: the
    stream-maintained view, the full recompute from head snapshots
    (audit_mismatch, pinned 0 in-output), and the DuckDB oracle — the
    SAME oracle the batch twin hashes against, so batch and stream
    maintenance cannot drift apart without one of them failing.

    100 TB posture: the stream reads each commit's change record only
    (O(rows changed) per micro-batch, offsets = commit versions, the
    restart-safe pacing the source pins in its own tests); each
    epoch's view update shuffles only the delta aggregate. The other
    side's snapshot is broadcast-probed where the delta's keys hit —
    never re-joined in full."""
    import shutil

    from etl_lens_spark.operators import ivm, lakelog
    from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource
    from etl_lens_spark.streaming import stream_ops as so

    ot, ct = _ivm_lake_build(spark, sf_dir, "sivm")
    try:
        spark.dataSource.register(LakeLogCDFStreamDataSource)
    except Exception:
        pass  # already registered in this session

    def tail(base: str, ddl: str, name: str) -> DataFrame:
        stream = (
            spark.readStream.format("lakelog_cdf")
            .option("path", base)
            .option("schema_ddl", ddl)
            .load()
        )
        return so.run_to_memory(stream, name).transform(
            freeze, "outlives the sink"
        )

    so_feed = tail(ot, "k long, custkey long, cents long", "q_sivm_o")
    sc_feed = tail(ct, "custkey long, nk int", "q_sivm_c")

    o0 = lakelog.read_snapshot(spark, ot, 0)
    c0 = lakelog.read_snapshot(spark, ct, 0)
    view = (
        o0.join(c0, "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
    )

    # one maintenance step per commit epoch, in true commit order
    for v in (1, 2):
        dz = ivm.consolidate(
            ivm.changes_to_zset(
                so_feed.filter(F.col("_commit_version") == v),
                ["k", "custkey", "cents"],
            )
        )
        delta = F.broadcast(dz).join(c0, ["custkey"])
        view = ivm.maintain_agg(
            view, delta, ["nk"], "n_orders", {"cents_sum": F.col("cents")}
        )
    dzc = ivm.consolidate(
        ivm.changes_to_zset(
            sc_feed.filter(F.col("_commit_version") == 1),
            ["custkey", "nk"],
        )
    )
    o_head = lakelog.read_snapshot(spark, ot)
    delta = o_head.join(F.broadcast(dzc), ["custkey"])
    view = ivm.maintain_agg(
        view, delta, ["nk"], "n_orders", {"cents_sum": F.col("cents")}
    ).transform(stage, "view")

    recompute = (
        o_head.join(lakelog.read_snapshot(spark, ct), "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r_n"),
            F.sum("cents").cast("long").alias("r_s"),
        )
    )
    audit = _ivm_audit(
        view, recompute, "nk",
        [("n_orders", "r_n"), ("cents_sum", "r_s")],
    )
    out = view.select(
        F.col("nk").cast("int").alias("nationkey"),
        "n_orders",
        "cents_sum",
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("nationkey")
    rows = out.collect()
    shutil.rmtree(ot, ignore_errors=True)
    shutil.rmtree(ct, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Governance: row-level security + column masking (operators/governance.py)
# ---------------------------------------------------------------------------


@query(
    "gov_rls_column_masking",
    oracle="""
    WITH roles(role) AS (VALUES ('admin'), ('analyst')),
    v AS (
      SELECT role,
             CASE WHEN role = 'analyst' THEN sha256(c_name)
                  ELSE c_name END AS name_repr,
             CASE WHEN role = 'analyst'
                  THEN '***-' || right(c_mktsegment, 4)
                  ELSE c_mktsegment END AS seg_repr,
             CASE WHEN role = 'analyst' THEN NULL
                  ELSE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                            AS BIGINT) END AS bal_cents
      FROM customer CROSS JOIN roles
      WHERE role = 'admin' OR c_nationkey < 10
    )
    SELECT role,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT name_repr) AS BIGINT) AS n_names,
           MIN(name_repr) AS min_name_repr,
           MIN(seg_repr) AS min_seg_repr,
           CAST(SUM(COALESCE(bal_cents, 0)) AS BIGINT)
             AS visible_bal_cents,
           CAST(SUM(CASE WHEN seg_repr LIKE '***-%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_masked_segs
    FROM v
    GROUP BY role
    ORDER BY role
    """,
)
def gov_rls_column_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOVERNED READS — row-level security + column masking policies
    (operators/governance.py), the Unity/Snowflake governance shape:
    the analyst role sees only nations 0-9 (row access policy),
    sha2-256-masked names (deterministic, still joinable), partial
    market segments (last 4), and NULLed balances; admin sees all.
    Both roles read through the SAME apply_governance call — the
    policy map, not the query, decides what each role gets.

    The oracle replays both roles relationally (DuckDB sha256 and
    Spark sha2(...,256) both emit lowercase hex, so even the hashed
    representations hash-match cross-engine). Pins: per-role row
    counts (RLS), min masked representations (exact mask
    expressions), visible balance cents (redaction), and the
    masked-segment count == analyst rows (every row masked).

    100 TB posture: masks are projection rewrites (zero extra cost,
    whole-stage codegen); the row policy is an ordinary predicate
    that reaches the parquet scan — PushedFilters pinned in
    tests/test_governance.py — so a governed read scans exactly what
    the hand-filtered query would."""
    from etl_lens_spark.operators import governance as gov

    cust = load_table(spark, sf_dir, "customer").select(
        "c_name",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        "c_nationkey",
    )
    masks = {
        "c_name": gov.unless_role({"admin"}, gov.mask_hash()),
        "c_mktsegment": gov.unless_role({"admin"}, gov.mask_partial(4)),
        "bal_cents": gov.unless_role({"admin"}, gov.mask_null()),
    }

    def row_policy(role):
        return None if role == "admin" else F.col("c_nationkey") < 10

    parts = []
    for role in ("admin", "analyst"):
        g = gov.apply_governance(cust, role, masks, row_policy)
        parts.append(
            g.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct("c_name").cast("long").alias("n_names"),
                F.min("c_name").alias("min_name_repr"),
                F.min("c_mktsegment").alias("min_seg_repr"),
                F.sum(F.coalesce("bal_cents", F.lit(0)))
                .cast("long")
                .alias("visible_bal_cents"),
                F.sum(
                    F.when(
                        F.col("c_mktsegment").startswith("***-"), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_masked_segs"),
            ).withColumn("role", F.lit(role))
        )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "role",
        "n_rows",
        "n_names",
        "min_name_repr",
        "min_seg_repr",
        "visible_bal_cents",
        "n_masked_segs",
    ).orderBy("role")


@bench_setup("warehouse_ivm_join_view")
def _bench_ivm_join_view(spark: SparkSession, sf_dir: str):
    # the two-table lake fixture (two seeds + three cdf=True DML
    # rewrites) and the v0 view materialization are setup; the timed
    # thunk is the operator under test — CDF reads, the trilinear
    # delta join, the view merge, and the recompute audit
    from etl_lens_spark.operators import lakelog

    ot, ct = _ivm_lake_build(spark, sf_dir, "ivm_bench")
    o0 = lakelog.read_snapshot(spark, ot, 0)
    c0 = lakelog.read_snapshot(spark, ct, 0)
    view0 = (
        o0.join(c0, "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .transform(freeze, "untimed bench setup")
    )

    def answer() -> DataFrame:
        maintained = _ivm_maintained_view(spark, ot, ct, o0, c0, view0)
        recompute = (
            lakelog.read_snapshot(spark, ot)
            .join(lakelog.read_snapshot(spark, ct), "custkey")
            .groupBy("nk")
            .agg(
                F.count(F.lit(1)).cast("long").alias("r_n"),
                F.sum("cents").cast("long").alias("r_s"),
            )
        )
        audit = _ivm_audit(
            maintained, recompute, "nk",
            [("n_orders", "r_n"), ("cents_sum", "r_s")],
        )
        return maintained.select(
            F.col("nk").cast("int").alias("nationkey"),
            "n_orders",
            "cents_sum",
            F.lit(audit).cast("long").alias("audit_mismatch"),
        ).orderBy("nationkey")

    return answer


@query(
    "warehouse_ivm_three_table",
    oracle="""
    WITH l0 AS (
      SELECT l_orderkey AS okey,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             l_linenumber AS ln
      FROM lineitem
    ),
    lfin AS (SELECT * FROM l0 WHERE (okey + ln) % 11 <> 0),
    o0 AS (SELECT o_orderkey AS okey, o_custkey AS custkey FROM orders),
    ofin AS (
      SELECT okey,
             CASE WHEN okey % 20 = 1
                  THEN ((custkey + 3) % 1500) + 1
                  ELSE custkey END AS custkey
      FROM o0
    ),
    c0 AS (
      SELECT c_custkey AS custkey, c_nationkey AS nk FROM customer
    ),
    cfin AS (
      SELECT custkey,
             CASE WHEN custkey % 10 = 7 THEN (nk + 7) % 25
                  ELSE nk END AS nk
      FROM c0
    )
    SELECT CAST(cfin.nk AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(lfin.price_cents) AS BIGINT) AS cents_sum,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM lfin JOIN ofin USING (okey) JOIN cfin USING (custkey)
    GROUP BY cfin.nk
    ORDER BY nationkey
    """,
)
def warehouse_ivm_three_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVM COMPOSES: a three-table join-aggregate view
    ``γ_nk(count, sum price)(L ⋈ O ⋈ C)`` maintained by applying the
    bilinear delta rule TWICE — ``Δ(L⋈O)`` from the lineitem and
    orders deltas, then that result fed as the R-side delta of
    ``(L⋈O) ⋈ C`` — the associativity that lets delta rules cover an
    arbitrary join tree with one two-input primitive (DBSP's circuit
    composition, built from this repo's operators/ivm.py alone).

    All three tables change: lineitem loses every (okey+ln)%11==0
    line (delete), orders %20==1 re-point to a different customer
    (update — the line's contribution must move nations), customer
    %10==7 moves nations (update). Deltas here are synthetic CDF
    frames (the lake-log plumbing is already pinned by the two-table
    twins); the algebra under test is the composition.

    Pins: maintained == DuckDB final-state recompute (hash) ==
    full Spark recompute (audit_mismatch 0 in-output).

    100 TB posture: the composed rule needs the INTERMEDIATE old
    state (L⋈O)₀ only where ΔC's keys probe it — production keeps
    that probe pruned by the broadcast delta (never materializes the
    full intermediate); every delta stays broadcast-sized end to
    end, and the view merge shuffles only the touched groups."""
    from etl_lens_spark.operators import ivm

    l0 = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_linenumber").alias("ln"),
    )
    o0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("custkey"),
    )
    c0 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").cast("int").alias("nk"),
    )

    # synthetic change feeds (CDF image-pair shape)
    ct = "_change_type"
    dl = l0.filter((F.col("okey") + F.col("ln")) % 11 == 0).withColumn(
        ct, F.lit("delete")
    )
    o_touched = o0.filter(F.col("okey") % 20 == 1)
    do = o_touched.withColumn(ct, F.lit("update_preimage")).unionByName(
        o_touched.select(
            "okey",
            (((F.col("custkey") + 3) % 1500) + 1).alias("custkey"),
        ).withColumn(ct, F.lit("update_postimage"))
    )
    c_touched = c0.filter(F.col("custkey") % 10 == 7)
    dc = c_touched.withColumn(ct, F.lit("update_preimage")).unionByName(
        c_touched.select(
            "custkey", ((F.col("nk") + 7) % 25).cast("int").alias("nk")
        ).withColumn(ct, F.lit("update_postimage"))
    )

    dz_l = ivm.changes_to_zset(dl, ["okey", "price_cents", "ln"])
    dz_o = ivm.changes_to_zset(do, ["okey", "custkey"])
    dz_c = ivm.changes_to_zset(dc, ["custkey", "nk"])

    # level 1: Δ(L⋈O); level 2: feed it as the R-delta of (L⋈O)⋈C
    r1_old = l0.join(o0, "okey")
    d_r1 = stage(ivm.delta_join(l0, dz_l, o0, dz_o, ["okey"]), "d_r1")
    d_view = ivm.delta_join(r1_old, d_r1, c0, dz_c, ["custkey"])

    view0 = (
        r1_old.join(c0, "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("price_cents").cast("long").alias("cents_sum"),
        )
    )
    maintained = ivm.maintain_agg(
        view0, d_view, ["nk"], "n_lines", {"cents_sum": F.col("price_cents")}
    )

    # final states for the audit recompute
    lf = l0.filter((F.col("okey") + F.col("ln")) % 11 != 0)
    of = o0.select(
        "okey",
        F.when(
            F.col("okey") % 20 == 1, ((F.col("custkey") + 3) % 1500) + 1
        )
        .otherwise(F.col("custkey"))
        .alias("custkey"),
    )
    cf = c0.select(
        "custkey",
        F.when(F.col("custkey") % 10 == 7, (F.col("nk") + 7) % 25)
        .otherwise(F.col("nk"))
        .cast("int")
        .alias("nk"),
    )
    recompute = (
        lf.join(of, "okey")
        .join(cf, "custkey")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r_n"),
            F.sum("price_cents").cast("long").alias("r_s"),
        )
    )
    audit = _ivm_audit(
        maintained, recompute, "nk",
        [("n_lines", "r_n"), ("cents_sum", "r_s")],
    )
    return maintained.select(
        F.col("nk").cast("int").alias("nationkey"),
        "n_lines",
        "cents_sum",
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("nationkey")


@query(
    "warehouse_ivm_distinct_view",
    oracle="""
    WITH o0 AS (
      SELECT o_orderkey AS k, o_custkey AS custkey FROM orders
    ),
    o1 AS (
      SELECT k, custkey FROM o0
      UNION ALL
      SELECT k + 300000000, custkey FROM o0 WHERE k % 20 = 3
    ),
    ofin AS (SELECT * FROM o1 WHERE k % 13 <> 0)
    SELECT CAST(k % 50 AS INT) AS bucket,
           CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(*) AS BIGINT) AS n_refs,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM ofin
    GROUP BY k % 50
    ORDER BY bucket
    """,
)
def warehouse_ivm_distinct_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COUNT(DISTINCT) maintained under DELETES from the change feed
    (ivm.maintain_distinct) — the aggregate the linear delta rules
    can't fold as a scalar, and the case the merge-only
    view_maintain_distinct_agg deliberately stops short of: the view
    keeps one REFERENCE COUNT per (bucket, custkey); the orders lake
    table's CDF (same fixture as the join-view twins: re-keyed
    inserts at v1, %13 deletes at v2) drives the support table, a
    customer leaves a bucket only when its last order there dies,
    and the distinct count is the surviving support row count.

    The fixture exercises both non-trivial paths: re-keyed inserts
    land in the SAME (bucket, custkey) cell (+3·10⁸ ≡ 0 mod 50), so
    refs grow while distinct does not; the %13 deletes then take
    some cells to zero, shrinking distinct. Underflow (a feed delete
    of a value the support never held) refuses loudly — divergence
    detection, tested in tests/test_ivm.py.

    Pins: maintained == DuckDB recompute (hash) == full Spark
    recompute (audit_mismatch 0), and n_refs doubles as the linear-
    count cross-check on the same support.

    100 TB posture: the support table IS the exact-distinct state any
    engine needs (live (group, value) pairs); maintenance shuffles
    only the delta aggregate and full-outer-probes the support on
    (group, value) — O(changes), never a corpus re-scan. The update
    image pairs (cents doubled) net to zero weight on (bucket,
    custkey) and vanish in consolidate() before touching state."""
    from etl_lens_spark.operators import ivm, lakelog

    ot = _ivm_orders_build(spark, sf_dir, "ivmd")
    o0 = lakelog.read_snapshot(spark, ot, 0)
    bucket = (F.col("k") % 50).cast("int").alias("bucket")
    support0 = (
        o0.select(bucket, "custkey")
        .groupBy("bucket", "custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dz = ivm.consolidate(
        ivm.changes_to_zset(
            lakelog.table_changes(spark, ot, 0, 2).select(
                bucket, "custkey", "_change_type"
            ),
            ["bucket", "custkey"],
        )
    )
    support1 = ivm.maintain_distinct(support0, dz, ["bucket"], "custkey")
    maintained = support1.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cnt").cast("long").alias("n_refs"),
    )
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .select(bucket, "custkey")
        .groupBy("bucket")
        .agg(
            F.countDistinct("custkey").cast("long").alias("r_d"),
            F.count(F.lit(1)).cast("long").alias("r_n"),
        )
    )
    audit = _ivm_audit(
        maintained, recompute, "bucket",
        [("n_cust", "r_d"), ("n_refs", "r_n")],
    )
    return maintained.select(
        "bucket",
        "n_cust",
        "n_refs",
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("bucket")


@query(
    "warehouse_ivm_minmax_view",
    oracle="""
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
           CAST(MIN(cents) AS BIGINT) AS vmin,
           CAST(MAX(cents) AS BIGINT) AS vmax,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM ofin
    GROUP BY custkey % 25
    ORDER BY bucket
    """,
)
def warehouse_ivm_minmax_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX maintained under DELETES from the change feed
    (ivm.maintain_minmax) — the EXTREMAL aggregates no scalar delta
    can fold (deleting the current minimum says nothing about the
    next one): the auxiliary state is the refcounted (bucket, cents)
    support maintain_distinct already maintains, and the update is
    hierarchical — buckets untouched by the delta keep their old
    extrema VERBATIM (pass-through, no recompute; at 100 TB that is
    almost every group), touched buckets re-aggregate only their own
    support slice, the exact set any engine must examine once a
    minimum dies.

    The orders lake CDF drives it (same fixture as the other IVM
    twins): the v1 cents-doubling updates can raise maxima, the v2
    %13 deletes can kill minima (update image pairs move the support
    refs between cents values; a (bucket, cents) cell dying moves
    the min to the next survivor). Three-way agreement pinned —
    DuckDB final-state recompute (hash) + full Spark recompute
    (audit_mismatch 0). Extrema movement, group death, and
    untouched-group pass-through pinned in tests/test_ivm.py.

    100 TB posture: O(changes) support merge + O(touched groups'
    support) re-aggregation; untouched groups cost zero — neither
    read nor shuffled."""
    from etl_lens_spark.operators import ivm, lakelog

    ot = _ivm_orders_build(spark, sf_dir, "ivmm")
    o0 = lakelog.read_snapshot(spark, ot, 0)
    bucket = (F.col("custkey") % 25).cast("int").alias("bucket")
    support0 = (
        o0.select(bucket, "cents")
        .groupBy("bucket", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(stage, "support0")
    )
    view0 = support0.groupBy("bucket").agg(
        F.min("cents").alias("vmin"),
        F.max("cents").alias("vmax"),
        F.sum("cnt").cast("long").alias("n"),
    )
    dz = ivm.consolidate(
        ivm.changes_to_zset(
            lakelog.table_changes(spark, ot, 0, 2).select(
                bucket, "cents", "_change_type"
            ),
            ["bucket", "cents"],
        )
    ).transform(stage, "dz")
    support1 = ivm.maintain_distinct(support0, dz, ["bucket"], "cents")
    touched = dz.select("bucket").distinct()
    maintained = ivm.maintain_minmax(
        view0, support1, touched, ["bucket"], "cents"
    )
    recompute = (
        lakelog.read_snapshot(spark, ot)
        .select(bucket, "cents")
        .groupBy("bucket")
        .agg(
            F.min("cents").alias("r_min"),
            F.max("cents").alias("r_max"),
            F.count(F.lit(1)).cast("long").alias("r_n"),
        )
    )
    audit = _ivm_audit(
        maintained, recompute, "bucket",
        [("vmin", "r_min"), ("vmax", "r_max"), ("n", "r_n")],
    )
    return maintained.select(
        "bucket",
        "vmin",
        "vmax",
        "n",
        F.lit(audit).cast("long").alias("audit_mismatch"),
    ).orderBy("bucket")


@query(
    "lake_gdpr_cdf_purge",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    surviving AS (
      SELECT k + 100000000 AS k, cents, 'insert' AS ct, 1 AS v
      FROM v0 WHERE k % 20 = 3
      UNION ALL
      SELECT k, cents, 'delete', 2 FROM v0 WHERE k % 20 = 7
      UNION ALL
      SELECT k, cents, 'delete', 3 FROM v0 WHERE k % 20 = 11
    ),
    purged AS (
      -- v1 image pair (2 rows/key) + v4's own delete record (1)
      SELECT CAST(3 * COUNT(*) AS BIGINT) AS purged_rows
      FROM v0 WHERE k % 20 = 1
    ),
    fin AS (
      SELECT k, cents FROM v0 WHERE k % 20 NOT IN (1, 7, 11)
      UNION ALL
      SELECT k + 100000000, cents FROM v0 WHERE k % 20 = 3
    ),
    fsum AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS final_n,
             CAST(SUM(cents) AS BIGINT) AS final_cents
      FROM fin
    )
    SELECT ct AS change_type,
           CAST(v AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           purged.purged_rows,
           fsum.final_n,
           fsum.final_cents
    FROM surviving CROSS JOIN purged CROSS JOIN fsum
    GROUP BY ct, v, purged.purged_rows, fsum.final_n, fsum.final_cents
    ORDER BY change_type, commit_version
    """,
)
def lake_gdpr_cdf_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN vs the change data feed — the tension
    every CDF deployment hits: a cdf=True DELETE of the subject
    writes a change record that itself CARRIES the subject's data,
    and time travel keeps serving every older record. The recipe
    (lakelog.gdpr_purge_change_records): (1) delete the %20==1
    subject keys from the live table with cdf=True; (2) purge
    the subject from EVERY recorded change file in place — v1's
    update image pairs and the delete's own just-written record —
    leaving log references valid and an audit marker commit with
    counts but no row content; (3, outside this fixture) vacuum
    reclaims pre-delete data files, which is also what erases
    DV-DERIVED change rows (they read from data files, not records —
    the %20==11 MOR delete here is disjoint from the subject and
    keeps serving untouched).

    Pins: the post-purge feed over ALL commits grouped by
    (change_type, version) — the subject appears NOWHERE, survivors'
    checksums intact, the delete commit serves zero rows from its
    emptied record, the materialize commit serves nothing —
    plus the purge row count (3 per subject key: image pair + delete
    record) and the final-table checksum, all against the relational
    oracle.

    100 TB posture: O(change records) with two jobs per record
    holding a match; untouched records and all data files are never
    rewritten; the main log chain is untouched so concurrent readers
    never see a hole."""
    import shutil

    from etl_lens_spark.operators import lakelog

    base = _cdf_lake_build(spark, sf_dir, "gdpr_cdf")
    # v4: REORG-PURGE the fixture's deletion vectors first — CoW
    # DELETE refuses DV'd files, and a real forget-me run wants the
    # subject's bytes out of the rewritten files anyway; the commit
    # is data_change=false, so the feed serves nothing for it
    lakelog.materialize_deletion_vectors(spark, base)
    lakelog.delete_where(spark, base, F.col("k") % 20 == 1, cdf=True)  # v5
    purge = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") % 20 == 1
    )  # v6 marker
    head = lakelog.latest_version(base)
    served = lakelog.table_changes(spark, base, 0, head)
    fin = lakelog.read_snapshot(spark, base).agg(
        F.count(F.lit(1)).cast("long").alias("final_n"),
        F.sum("price_cents").cast("long").alias("final_cents"),
    )
    out = (
        served.groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
            F.sum("price_cents").cast("long").alias("cents_sum"),
        )
        .withColumn(
            "purged_rows",
            F.lit(purge["n_rows_purged"]).cast("long"),
        )
        .crossJoin(F.broadcast(fin))
        .orderBy("change_type", "commit_version")
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
