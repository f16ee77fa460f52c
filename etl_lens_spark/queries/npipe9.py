"""Round-7 tranche: incremental SCD2 maintenance from the change
data feed (VERDICT r6 item 3), write-audit-publish on the lake log
(item 4), k-core decomposition (item 6), partition evolution
(item 7), and the ANN operating-curve artifact (item 8).

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
from etl_lens_spark.operators.staging import stage

# ---------------------------------------------------------------------------
# Incremental SCD2 maintenance from the change data feed
# ---------------------------------------------------------------------------

_SCD2_T0 = 1000  # v0 rows become valid at this instant (µs)
_SCD2_T1 = 2000  # the CDF batch's effective instant


def _scd2_lake_build(spark: SparkSession, sf_dir: str) -> str:
    """Two-version lakehouse table for the CDF→SCD2 pipeline:
    v0 = every order (key, price_cents); v1 applies the canonical
    mod-20 batch — keys %20==1 price-doubled (updates), %20==7
    dropped (deletes), %20==3 re-keyed +1e8 copies (inserts)."""
    import shutil

    from etl_lens_spark.operators import lakelog

    v0 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    v1 = (
        v0.filter(F.col("k") % 20 != 7)
        .withColumn(
            "price_cents",
            F.when(
                F.col("k") % 20 == 1, F.col("price_cents") * 2
            ).otherwise(F.col("price_cents")),
        )
        .unionByName(
            v0.filter(F.col("k") % 20 == 3).select(
                (F.col("k") + 100000000).alias("k"), "price_cents"
            )
        )
    )
    base = sinks.scratch_path("scd2_cdf")
    shutil.rmtree(base, ignore_errors=True)
    v0.write.parquet(f"{base}/s0")
    v1.write.parquet(f"{base}/s1")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.commit(base, 1, [{"remove": "s0"}, {"add": "s1"}])
    return base


def _scd2_incremental_answer(
    spark: SparkSession, base: str
) -> DataFrame:
    """Read the CDF, apply it to the v0-seeded dimension with
    cdc.scd2_apply_changes, SELF-AUDIT against a from-scratch rebuild
    over both snapshots (symmetric exceptAll — an independent code
    path), and aggregate the maintained dimension per key bucket."""
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.operators.cdc import scd2_apply_changes

    feed = lakelog.change_feed(spark, base, ["k"], 0, 1)
    v0 = lakelog.read_snapshot(spark, base, 0)
    dim0 = v0.select(
        "k",
        F.lit(1).cast("long").alias("version_seq"),
        "price_cents",
        F.lit(_SCD2_T0).cast("long").alias("valid_from_us"),
        F.lit(None).cast("long").alias("valid_to_us"),
        F.lit(1).cast("long").alias("is_current"),
    )
    dim1 = scd2_apply_changes(
        dim0, feed, ["k"], ["price_cents"], _SCD2_T1
    )
    # the maintained dimension feeds BOTH the rollup and the audit —
    # materialize it once instead of re-running the apply per consumer
    dim1 = stage(dim1, "scd2_dim1")
    # from-scratch rebuild on the SAME two snapshots, CDF-free:
    # v0 rows close iff their key's value changed or vanished in v1;
    # v1 rows open a new version iff their key is new or changed
    v1 = lakelog.read_snapshot(spark, base, 1)
    o = v0.select("k", F.col("price_cents").alias("__p0"))
    n = v1.select("k", F.col("price_cents").alias("__p1"))
    both = o.join(n, "k", "full_outer")
    # ONE pass over the full-outer join: each key emits its 0-2 SCD2
    # rows (the surviving v0 version and/or the newly-opened version)
    # as conditional structs exploded in place. The previous
    # two-filter union referenced ``both`` twice, so the join — a
    # full-table shuffle at scale — was computed twice per audit
    # (guide §2.4: one exchange, not two identical ones).
    closed = F.col("__p1").isNull() | (F.col("__p1") != F.col("__p0"))
    opened = F.col("__p1").isNotNull() & (
        F.col("__p0").isNull() | (F.col("__p0") != F.col("__p1"))
    )
    row_v0 = F.when(
        F.col("__p0").isNotNull(),
        F.struct(
            F.lit(1).cast("long").alias("version_seq"),
            F.col("__p0").alias("price_cents"),
            F.lit(_SCD2_T0).cast("long").alias("valid_from_us"),
            F.when(closed, F.lit(_SCD2_T1).cast("long")).alias(
                "valid_to_us"
            ),
            (~closed).cast("long").alias("is_current"),
        ),
    )
    row_new = F.when(
        opened,
        F.struct(
            F.when(F.col("__p0").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("version_seq"),
            F.col("__p1").alias("price_cents"),
            F.lit(_SCD2_T1).cast("long").alias("valid_from_us"),
            F.lit(None).cast("long").alias("valid_to_us"),
            F.lit(1).cast("long").alias("is_current"),
        ),
    )
    scratch = (
        both.select("k", F.explode(F.array(row_v0, row_new)).alias("__r"))
        .filter(F.col("__r").isNotNull())
        .select("k", "__r.*")
    )
    # multiset equality in ONE pass: tag each side ±1, sum per full
    # row; any nonzero sum is a disagreement. Cheaper than a double
    # exceptAll, which would recompute both lineages (each rooted in
    # the two-snapshot join) four times.
    tagged = dim1.withColumn("__t", F.lit(1)).unionByName(
        scratch.withColumn("__t", F.lit(-1))
    )
    audit = (
        tagged.groupBy(tagged.columns[:-1])
        .agg(F.sum("__t").alias("__s"))
        .agg(
            F.sum(F.when(F.col("__s") != 0, F.abs(F.col("__s"))).otherwise(0))
            .cast("long")
            .alias("audit_mismatch")
        )
    )
    return (
        dim1.groupBy((F.col("k") % 20).cast("int").alias("key_mod"))
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


@query(
    "warehouse_scd2_incremental",
    headline=True,
    oracle=f"""
    WITH v0 AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    dim AS (
      -- v0 seed rows: closed at T1 iff updated or deleted by the batch
      SELECT k, CAST(1 AS BIGINT) AS version_seq, cents AS price_cents,
             {_SCD2_T0} AS vf,
             CASE WHEN k % 20 IN (1, 7) THEN {_SCD2_T1} END AS vt,
             CASE WHEN k % 20 IN (1, 7) THEN 0 ELSE 1 END AS is_current
      FROM v0
      UNION ALL
      -- updates open version 2 at T1
      SELECT k, 2, cents * 2, {_SCD2_T1}, NULL, 1
      FROM v0 WHERE k % 20 = 1
      UNION ALL
      -- inserts open version 1 at T1
      SELECT k + 100000000, 1, cents, {_SCD2_T1}, NULL, 1
      FROM v0 WHERE k % 20 = 3
    )
    SELECT CAST(k % 20 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_current) AS BIGINT) AS n_current,
           CAST(SUM(version_seq) AS BIGINT) AS seq_sum,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(price_cents) AS BIGINT) AS price_sum,
           CAST(SUM(COALESCE(vt, 0)) AS BIGINT) AS closed_at_sum,
           CAST(0 AS BIGINT) AS audit_mismatch
    FROM dim
    GROUP BY k % 20
    ORDER BY key_mod
    """,
)
def warehouse_scd2_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental Type-2 SCD maintenance from a change data feed —
    wiring round 6's two halves together (VERDICT r6 item 3): the
    lake log's row-level CDF (lakelog.change_feed) feeds
    cdc.scd2_apply_changes, which closes open rows and appends new
    versions touching ONLY feed keys — never re-scanning dimension
    history (warehouse_scd2_build is the from-scratch twin this
    replaces for per-batch maintenance).

    Three independent derivations must coincide: (1) the maintained
    dimension, via feed → apply; (2) an in-query from-scratch rebuild
    over both snapshots (symmetric exceptAll, pinned 0 in the
    audit_mismatch column); (3) the DuckDB oracle's relational
    reconstruction from the orders fixture. At 100 TB the apply cost
    is O(|feed| × versions-per-touched-key) after a broadcast
    semi-split of the dimension — the history partition is never
    read, never shuffled, never rewritten."""
    import shutil

    base = _scd2_lake_build(spark, sf_dir)
    out = _scd2_incremental_answer(spark, base)
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("warehouse_scd2_incremental")
def _bench_scd2_incremental(spark: SparkSession, sf_dir: str):
    # the two-version lake fixture is setup; the timed thunk is the
    # CDF read + incremental apply + self-audit + rollup
    base = _scd2_lake_build(spark, sf_dir)
    return lambda: _scd2_incremental_answer(spark, base)


# ---------------------------------------------------------------------------
# ANN operating curve: recall@k vs candidates scanned across nprobe
# ---------------------------------------------------------------------------

_ANN_K = 10
_ANN_CELLS = 16
_ANN_NPROBES = [1, 2, 4, 8, 16]
_ANN_NQ = 20


@query("sim_ann_operating_curve")
def sim_ann_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN OPERATING CURVE (VERDICT r6 item 8) — the tuning artifact
    a 100 TB ANN deployment reads first: sweep IVF ``nprobe`` over a
    fixed 16-cell index and emit, per point, the exact-ground-truth
    recall@10 against the candidates actually scanned. The curve
    answers the only question that matters operationally: how much
    scan budget buys how much recall.

    Sweep discipline: the index is built ONCE (centroids trained
    once, the corpus cell assignment staged once — at
    100 TB that corpus shuffle is the dominant cost and a naive
    sweep would repeat it per point); each sweep point re-probes only
    the 20-query side (tiny) and re-joins against the cached
    assignment. candidates_scanned counts every (query, corpus-row)
    pair the probe admits BEFORE top-k truncation — the honest scan
    cost — and recall is measured against brute_force_topk's exact
    answer on identical arithmetic.

    Rows-only by design (LSH/IVF probe internals are not
    SQL-expressible); the operating contracts — recall and
    candidates both monotone nondecreasing in nprobe, endpoint
    nprobe = n_cells ≡ exact search with recall 1.0 — are pinned in
    tests/test_npipe9.py at two scales."""
    from etl_lens_spark.similarity import ivf, knn
    from etl_lens_spark.similarity.knn import _as_double, dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    truth = {
        (r["qid"], r["neighbor_id"])
        for r in knn.brute_force_topk(emb, queries, k=_ANN_K).collect()
    }
    centroids = ivf.train_centroids(emb, k=_ANN_CELLS, iters=5)
    corpus = (
        ivf.assign_cells(emb, centroids)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col("embedding")).alias("__cvec"),
            "cell",
        )
        .withColumn("__cnorm", norm(F.col("__cvec")))
        .transform(stage, "ivf_sweep_corpus")  # one corpus shuffle
    )
    cell_sizes = {
        r["cell"]: r["n"]
        for r in corpus.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out_rows = []
    denom = len(truth)  # n_queries × k
    for nprobe in _ANN_NPROBES:
        q = (
            ivf.assign_cells(queries, centroids, nprobe=nprobe)
            .select(
                F.col("vec_id").alias("qid"),
                _as_double(F.col("embedding")).alias("__qvec"),
                "cell",
            )
            .withColumn("__qnorm", norm(F.col("__qvec")))
        )
        probed = q.select("qid", "cell").collect()
        # scan cost: every admitted (query, corpus-row) pair,
        # self-match excluded for the query's own home cell
        cands = sum(cell_sizes.get(r["cell"], 0) for r in probed) - _ANN_NQ
        scored = (
            corpus.join(F.broadcast(q), "cell")
            .filter(F.col("neighbor_id") != F.col("qid"))
            .withColumn(
                "cos_sim",
                dot(F.col("__cvec"), F.col("__qvec"))
                / (F.col("__cnorm") * F.col("__qnorm")),
            )
            .dropDuplicates(["qid", "neighbor_id"])
        )
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        got = {
            (r["qid"], r["neighbor_id"])
            for r in scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _ANN_K)
            .select("qid", "neighbor_id")
            .collect()
        }
        out_rows.append(
            (
                nprobe,
                int(cands),
                float(cands) / _ANN_NQ,
                len(got & truth) / denom,
            )
        )
    return spark.createDataFrame(
        out_rows,
        "nprobe int, candidates_scanned long, "
        "avg_candidates_per_query double, recall_at_k double",
    ).orderBy("nprobe")


_LSH_BITS = 4
_LSH_PROBES = [1, 2, 3, 4, 5]  # max = n_bits + 1 (exact + flip-1)
_LSH_DIM = 64


@query("sim_ann_lsh_operating_curve")
def sim_ann_lsh_operating_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LSH half of the ANN operating curve (VERDICT r6 item 8
    named both index families): sweep MULTI-PROBE depth over one
    4-bit SRP table and emit exact-ground-truth recall@10 vs
    candidates scanned per probe count. Probe sets are PREFIX-ORDERED
    (exact bucket, then single-bit flips by ascending |projection|),
    so each sweep point's candidate set contains the previous one —
    recall and scan cost are monotone by construction, which the
    contract tests pin.

    Deliberate contrast with sim_ann_operating_curve: flip-1
    multi-probe tops out at n_bits+1 probes and NEVER covers all
    2^n_bits buckets, so unlike IVF's nprobe=n_cells endpoint the
    LSH curve plateaus BELOW recall 1.0 — the operational reason
    production deployments pair multi-probe with multiple tables.
    The plateau recall is itself part of the emitted artifact.

    Same sweep discipline as the IVF curve: the corpus is hashed
    ONCE (staged); each point re-probes only the 20-query
    side. Rows-only by design; contracts in tests/test_npipe9.py."""
    from etl_lens_spark.similarity import knn
    from etl_lens_spark.similarity.knn import (
        _as_double,
        _probe_buckets,
        _srp_bits,
        dot,
        make_planes,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_NQ)
    truth = {
        (r["qid"], r["neighbor_id"])
        for r in knn.brute_force_topk(emb, queries, k=_ANN_K).collect()
    }
    planes = make_planes(_LSH_DIM, _LSH_BITS, seed=42)
    corpus = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col("embedding")).alias("__cvec"),
        )
        .withColumn("__bucket", _srp_bits(F.col("__cvec"), planes))
        .withColumn("__cnorm", norm(F.col("__cvec")))
        .transform(stage, "srp_sweep_corpus")  # hashed once
    )
    sizes = {
        r["__bucket"]: r["n"]
        for r in corpus.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out_rows = []
    denom = len(truth)
    for probes in _LSH_PROBES:
        q = (
            queries.select(
                F.col("vec_id").alias("qid"),
                _as_double(F.col("embedding")).alias("__qvec"),
            )
            .withColumn(
                "__bucket",
                F.explode(
                    _probe_buckets(F.col("__qvec"), planes, probes)
                ),
            )
            .withColumn("__qnorm", norm(F.col("__qvec")))
        )
        probed = q.select("qid", "__bucket").collect()
        cands = sum(sizes.get(r["__bucket"], 0) for r in probed) - _ANN_NQ
        scored = (
            corpus.join(F.broadcast(q), "__bucket")
            .filter(F.col("neighbor_id") != F.col("qid"))
            .withColumn(
                "cos_sim",
                dot(F.col("__cvec"), F.col("__qvec"))
                / (F.col("__cnorm") * F.col("__qnorm")),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        got = {
            (r["qid"], r["neighbor_id"])
            for r in scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _ANN_K)
            .select("qid", "neighbor_id")
            .collect()
        }
        out_rows.append(
            (
                probes,
                int(cands),
                float(cands) / _ANN_NQ,
                len(got & truth) / denom,
            )
        )
    return spark.createDataFrame(
        out_rows,
        "probes int, candidates_scanned long, "
        "avg_candidates_per_query double, recall_at_k double",
    ).orderBy("probes")
