"""Statistics / ML-preparation tranche: rank correlation, mutual
information, leakage-free target encoding, differentially-private
release, split-conformal intervals, and the Poisson bootstrap.

These are the feature-engineering and evaluation primitives a
training-data pipeline runs next to dedup/curation: "is this feature
monotonically informative" (Spearman), "are these two categoricals
redundant" (MI), "encode a high-cardinality categorical without
leaking the target" (K-fold target encoding), "publish aggregate
counts with a privacy budget" (Laplace mechanism), "attach honest
prediction intervals to a baseline model" (split conformal), and
"put a confidence interval on a mean without a second pass"
(Poisson bootstrap — the classic single-pass resampling trick for
datasets too large to resample by index).

Cross-engine discipline: every stochastic choice (folds, splits,
noise, bootstrap weights) derives from md5 of a key — deterministic
and identical in Spark and DuckDB (same trick as operators/kmv.py) —
so even the "randomized" queries hash-match their oracles exactly.

Reference parity: the reference computes column min/max/avg summaries
in its stats pane (src/main.cpp summary paths); this module is the
statistical layer a production deployment grows in its place.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_lens_spark.operators.kmv import SCALE as _MD5_SCALE
from etl_lens_spark.operators.kmv import kmv_value
from etl_lens_spark.operators.prefix import ordered_prefix_sum
from etl_lens_spark.operators.staging import stage
from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table

# DuckDB replica of operators/kmv.kmv_value over an arbitrary SQL
# expression: first 13 hex chars of md5 folded to a 52-bit BIGINT.
def _md5_sql(expr: str) -> str:
    # lambda vars are deliberately obscure (__hp/__ha/__hb): a plain
    # `i` would SHADOW any same-named column inside {expr} (DuckDB
    # lambda scoping), silently hashing the character index instead
    return f"""list_reduce(list_transform(range(1, 14),
      __hp -> CAST(strpos('0123456789abcdef',
             substr(md5(CAST({expr} AS VARCHAR)), __hp, 1)) - 1 AS BIGINT)),
      (__ha, __hb) -> __ha * 16 + __hb)"""


# ---------------------------------------------------------------------------
# Spearman rank correlation — distributed average ranks
# ---------------------------------------------------------------------------

_SPEAR_PAIRS = [
    ("qty_vs_price", "CAST(l_quantity AS DOUBLE)",
     "CAST(l_extendedprice AS DOUBLE)"),
    ("discount_vs_qty", "CAST(l_discount AS DOUBLE)",
     "CAST(l_quantity AS DOUBLE)"),
    ("tax_vs_price", "CAST(l_tax AS DOUBLE)",
     "CAST(l_extendedprice AS DOUBLE)"),
]


def _spear_pair_sql(pair: str, x: str, y: str) -> str:
    return f"""
    SELECT '{pair}' AS pair, CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r2x * r2y) AS DOUBLE)
              - CAST(SUM(r2x) AS DOUBLE) * CAST(SUM(r2y) AS DOUBLE))
           / SQRT((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r2x * r2x) AS DOUBLE)
                     - CAST(SUM(r2x) AS DOUBLE) * CAST(SUM(r2x) AS DOUBLE))
                  * (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r2y * r2y) AS DOUBLE)
                     - CAST(SUM(r2y) AS DOUBLE) * CAST(SUM(r2y) AS DOUBLE)))
             AS spearman
    FROM (
      SELECT 2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x)
               - 1 AS r2x,
             2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y)
               - 1 AS r2y
      FROM (SELECT {x} AS x, {y} AS y FROM lineitem)
    )
    """


@query(
    "stats_spearman_corr",
    oracle="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _spear_pair_sql(p, x, y) for p, x, y in _SPEAR_PAIRS
    )
    + "\n) t ORDER BY pair",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation for three lineitem column pairs —
    monotone-association screening, robust to outliers and to any
    monotone transform of a feature.

    Average ranks with ties are computed WITHOUT ranking rows through
    a window: values are aggregated to a distinct-value count table
    first (ties collapse — l_discount has ~11 distinct values), then
    `ordered_prefix_sum` (operators/prefix.py) assigns cumulative
    counts over the value order with the two-pass range-partition
    pattern — no single-reducer WindowExec even when the value domain
    is large (l_extendedprice). Ranks are doubled (2·avg_rank is
    always an integer) so every co-moment sum is an exact BIGINT and
    the final Pearson-of-ranks formula is cross-engine bit-identical;
    the docstring bound (n < ~2.1e6 rows per the n·(2n)² co-moment)
    holds at gate scale — at 100 TB production swaps the exact integer
    sums for `F.corr` over the same rank columns (same plan shape,
    loses only oracle bit-exactness).

    Scale posture: one groupBy per column (map-side combine), one
    range exchange over DISTINCT values, two hash joins back to rows
    (broadcast when the domain is small), one final scalar aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = {
        "qty_vs_price": (
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
        ),
        "discount_vs_qty": (
            F.col("l_discount").cast("double"),
            F.col("l_quantity").cast("double"),
        ),
        "tax_vs_price": (
            F.col("l_tax").cast("double"),
            F.col("l_extendedprice").cast("double"),
        ),
    }

    def rank2(df: DataFrame, col: str) -> DataFrame:
        counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        pre = ordered_prefix_sum(counts, [F.col(col)], "c", "cum")
        # avg_rank = cum - c + (c+1)/2  →  2·avg_rank = 2·cum - c + 1
        return pre.select(
            col, (2 * F.col("cum") - F.col("c") + 1).alias(f"r2_{col}")
        )

    outs = []
    for pair, (cx, cy) in pairs.items():
        d = li.select(cx.alias("x"), cy.alias("y"))
        rx = rank2(d.select("x"), "x")
        ry = rank2(d.select("y"), "y")
        ranked = (
            d.join(rx, "x").join(ry, "y")
            .select(
                F.col("r2_x").alias("r2x"), F.col("r2_y").alias("r2y")
            )
        )
        agg = ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r2x").alias("sx"),
            F.sum("r2y").alias("sy"),
            F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
            F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
            F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
        )
        nd = F.col("n").cast("double")
        outs.append(
            agg.select(
                F.lit(pair).alias("pair"),
                F.col("n").cast("long").alias("n_rows"),
                (
                    (nd * F.col("sxy").cast("double")
                     - F.col("sx").cast("double")
                     * F.col("sy").cast("double"))
                    / F.sqrt(
                        (nd * F.col("sxx").cast("double")
                         - F.col("sx").cast("double")
                         * F.col("sx").cast("double"))
                        * (nd * F.col("syy").cast("double")
                           - F.col("sy").cast("double")
                           * F.col("sy").cast("double"))
                    )
                ).alias("spearman"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("pair")


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns
# ---------------------------------------------------------------------------


@query(
    "stats_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint),
    mx AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cx FROM joint GROUP BY lang),
    my AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cy
           FROM joint GROUP BY source),
    mi AS (
      SELECT CAST(SUM((CAST(j.c AS DOUBLE) / n) *
                      LN((CAST(j.c AS DOUBLE) * n) /
                         (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))))
                  AS DOUBLE) AS mi_nats,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             MAX(n) AS n_docs
      FROM joint j JOIN mx USING (lang) JOIN my USING (source)
      CROSS JOIN tot
    ),
    hx AS (SELECT -SUM((CAST(cx AS DOUBLE) / n) *
                       LN(CAST(cx AS DOUBLE) / n)) AS h
           FROM mx CROSS JOIN tot),
    hy AS (SELECT -SUM((CAST(cy AS DOUBLE) / n) *
                       LN(CAST(cy AS DOUBLE) / n)) AS h
           FROM my CROSS JOIN tot)
    SELECT mi.n_docs, mi.n_cells, mi.mi_nats,
           mi.mi_nats / SQRT(hx.h * hy.h) AS nmi
    FROM mi, hx, hy
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and normalized MI) between ``documents.
    lang`` and ``documents.source`` — the redundancy screen a feature
    pipeline runs before one-hot-encoding two categoricals that may
    encode the same signal.

    MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the JOINT count table:
    one groupBy collapses 100 TB of rows to |langs|·|sources| cells;
    marginals and entropies re-aggregate that tiny table (broadcast
    joins). Nothing after the first aggregate touches row-scale data,
    so the query is scan-bound — the same posture as
    `dq_uniqueness_entropy_profile`."""
    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = joint.agg(F.sum("c").cast("long").alias("n"))
    mx = joint.groupBy("lang").agg(F.sum("c").cast("long").alias("cx"))
    my = joint.groupBy("source").agg(F.sum("c").cast("long").alias("cy"))
    j = (
        joint.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
    )
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    mi = j.agg(
        F.sum(
            (cd / nd)
            * F.log(
                (cd * nd)
                / (F.col("cx").cast("double") * F.col("cy").cast("double"))
            )
        ).cast("double").alias("mi_nats"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").alias("n_docs"),
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                (F.col("cx").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("cx").cast("double") / F.col("n").cast("double")
                )
            )).alias("h")
        )
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                (F.col("cy").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("cy").cast("double") / F.col("n").cast("double")
                )
            )).alias("h")
        )
    )
    return (
        mi.crossJoin(hx.select(F.col("h").alias("hx")))
        .crossJoin(hy.select(F.col("h").alias("hy")))
        .select(
            "n_docs",
            "n_cells",
            "mi_nats",
            (F.col("mi_nats") / F.sqrt(F.col("hx") * F.col("hy"))).alias(
                "nmi"
            ),
        )
    )


# ---------------------------------------------------------------------------
# K-fold leakage-free target encoding
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_PRIOR = 10.0


@query(
    "ml_target_encode_kfold",
    oracle=f"""
    WITH rows_f AS (
      SELECT c_nationkey AS nk,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y,
             {_md5_sql("'te1|' || CAST(o_orderkey AS VARCHAR)")}
               % {_TE_FOLDS} AS fold
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    g AS (SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS gmean FROM rows_f),
    per AS (
      SELECT nk, fold, CAST(COUNT(*) AS BIGINT) AS cnt_f,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sum_f
      FROM rows_f GROUP BY nk, fold
    ),
    alln AS (
      SELECT nk, CAST(SUM(cnt_f) AS BIGINT) AS cnt_all,
             CAST(SUM(sum_f) AS DECIMAL(38,2)) AS sum_all
      FROM per GROUP BY nk
    )
    SELECT n_name, fold, cnt_f AS n_in_fold,
           (CAST(sum_all - sum_f AS DOUBLE) + {_TE_PRIOR!r} * gmean)
             / (CAST(cnt_all - cnt_f AS DOUBLE) + {_TE_PRIOR!r})
             AS encoding
    FROM per JOIN alln USING (nk)
    JOIN nation ON nk = n_nationkey
    CROSS JOIN g
    ORDER BY n_name, fold
    """,
)
def ml_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold leakage-free target encoding of customer nation against
    order value: each fold's encoding is the smoothed target mean
    computed from the OTHER folds only (leave-fold-out), so a model
    trained on fold f never sees its own rows' targets — the standard
    defence against target-leakage in mean encoding.

    Folds are md5-deterministic (cross-engine, so the oracle
    recomputes them bit-for-bit). Leave-fold-out means come from ONE
    per-(category, fold) aggregate — `sum_all - sum_f` per fold —
    not K separate passes; the category×fold table (25×5 here) is
    tiny at any data scale, and the dimension joins broadcast. The
    smoothing prior (weight {_TE_PRIOR}) shrinks rare categories
    toward the global mean. Target sums stay exact DECIMAL until the
    final division."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rows = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
            (
                kmv_value(
                    F.concat(
                        F.lit("te1|"), F.col("o_orderkey").cast("string")
                    )
                )
                % _TE_FOLDS
            ).alias("fold"),
        )
    )
    g = rows.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("gmean")
    )
    per = rows.groupBy("nk", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_f"),
        F.sum("y").cast("decimal(38,2)").alias("sum_f"),
    )
    alln = per.groupBy("nk").agg(
        F.sum("cnt_f").cast("long").alias("cnt_all"),
        F.sum("sum_f").cast("decimal(38,2)").alias("sum_all"),
    )
    return (
        per.join(F.broadcast(alln), "nk")
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .crossJoin(F.broadcast(g))
        .select(
            "n_name",
            "fold",
            F.col("cnt_f").alias("n_in_fold"),
            (
                (
                    (F.col("sum_all") - F.col("sum_f")).cast("double")
                    + F.lit(_TE_PRIOR) * F.col("gmean")
                )
                / (
                    (F.col("cnt_all") - F.col("cnt_f")).cast("double")
                    + F.lit(_TE_PRIOR)
                )
            ).alias("encoding"),
        )
        .orderBy("n_name", "fold")
    )


# ---------------------------------------------------------------------------
# Differentially-private noisy counts (Laplace mechanism, seeded)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0


@query(
    "privacy_dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    noised AS (
      SELECT n_name, true_cnt,
             CAST({_md5_sql("'dp1|' || n_name")} AS DOUBLE)
               / {_MD5_SCALE!r} - 0.5 AS u
      FROM counts
    )
    SELECT n_name, true_cnt,
           CAST(true_cnt AS DOUBLE)
             - (1.0 / {_DP_EPS!r}) * SIGN(u) * LN(1.0 - 2.0 * ABS(u))
             AS noisy_cnt,
           CAST({_DP_EPS!r} AS DOUBLE) AS eps
    FROM noised ORDER BY n_name
    """,
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of per-nation customer counts
    via the Laplace mechanism: noise ~ Laplace(Δf/ε) with sensitivity
    Δf = 1 (one customer changes one count by one), ε = {_DP_EPS}.

    Noise is generated by inverse-transform sampling from an
    md5-seeded uniform (u = md5(group)/2⁵² − ½; noise =
    −(1/ε)·sign(u)·ln(1−2|u|)) — deterministic and identical in both
    engines, so the oracle verifies the entire mechanism, not just
    the counts. (A production release would use a CSPRNG; the seeded
    form is the testable twin with the same distribution.) The true
    count is kept alongside for the privacy-utility audit — the
    release view drops it. One aggregate + a broadcast dimension
    join; noise is applied post-aggregation on the tiny group table,
    which is exactly where the mechanism belongs at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    counts = (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    u = (
        kmv_value(F.concat(F.lit("dp1|"), F.col("n_name"))).cast("double")
        / F.lit(_MD5_SCALE)
        - F.lit(0.5)
    )
    return (
        counts.withColumn("u", u)
        .select(
            "n_name",
            "true_cnt",
            (
                F.col("true_cnt").cast("double")
                - (F.lit(1.0) / F.lit(_DP_EPS))
                * F.signum("u")
                * F.log(F.lit(1.0) - F.lit(2.0) * F.abs("u"))
            ).alias("noisy_cnt"),
            F.lit(_DP_EPS).alias("eps"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------

_CONF_Q = 0.9
_CONF_ACC = 1_000_000  # saturating: matches DuckDB quantile_disc


@query(
    "ml_conformal_intervals",
    oracle=f"""
    WITH rows_s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_extendedprice AS DOUBLE) AS y,
             {_md5_sql(
                 "'cf1|' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)"
             )} % 3 AS part
      FROM lineitem
    ),
    model AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS pred
      FROM rows_s WHERE part = 0 GROUP BY l_returnflag, l_linestatus
    ),
    cal_resid AS (
      SELECT r.l_returnflag, r.l_linestatus, ABS(r.y - m.pred) AS resid
      FROM rows_s r JOIN model m USING (l_returnflag, l_linestatus)
      WHERE r.part = 1
    ),
    rcounts AS (
      SELECT l_returnflag, l_linestatus, resid,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM cal_resid GROUP BY l_returnflag, l_linestatus, resid
    ),
    rcum AS (
      SELECT l_returnflag, l_linestatus, resid, c,
             SUM(c) OVER (PARTITION BY l_returnflag, l_linestatus
                          ORDER BY resid) AS cumw
      FROM rcounts
    ),
    rtot AS (
      SELECT l_returnflag, l_linestatus, CAST(SUM(c) AS BIGINT) AS n_cal
      FROM rcounts GROUP BY l_returnflag, l_linestatus
    ),
    cal AS (
      SELECT u.l_returnflag, u.l_linestatus,
             MIN(u.resid) AS q_resid, t.n_cal
      FROM rcum u JOIN rtot t USING (l_returnflag, l_linestatus)
      WHERE u.cumw >= CAST(CEIL({_CONF_Q!r}
                                * CAST(t.n_cal AS DOUBLE)) AS BIGINT)
      GROUP BY u.l_returnflag, u.l_linestatus, t.n_cal
    )
    SELECT r.l_returnflag, r.l_linestatus, c.q_resid, c.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN ABS(r.y - m.pred) <= c.q_resid
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS coverage
    FROM rows_s r
    JOIN model m USING (l_returnflag, l_linestatus)
    JOIN cal c USING (l_returnflag, l_linestatus)
    WHERE r.part = 2
    GROUP BY r.l_returnflag, r.l_linestatus, c.q_resid, c.n_cal
    ORDER BY r.l_returnflag, r.l_linestatus
    """,
)
def ml_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around a per-group mean
    model of ``l_extendedprice``, with held-out coverage audit: rows
    split 3 ways by an md5-deterministic hash (train → model, cal →
    residual quantile, test → empirical coverage). The conformal
    guarantee — coverage ≈ q regardless of how bad the model is — is
    what the test partition's ``coverage`` column demonstrates.

    Scale posture: the "model" is a per-group aggregate (map-side
    combine); the calibration quantile is EXACT nearest-rank with a
    shared explicit rank formula (ceil(q·n) computed from the same
    double literal both engines): distinct-residual counts, a global
    range-partitioned prefix sum (operators/prefix.py) converted to
    within-group cumulatives by subtracting the tiny per-group
    offsets (triangular join over |groups| rows), then min-over-
    threshold. No approx sketch — the earlier percentile_approx form
    at saturating accuracy went ×14.8 at the 10× probe (GK buffer
    growth) and silently loses quantile_disc exactness past
    ~accuracy/6 values; this form is exact and linear at any n.
    Coverage is one conditional aggregate over the test split."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").cast("double").alias("y"),
        (
            kmv_value(
                F.concat(
                    F.lit("cf1|"),
                    (
                        F.col("l_orderkey") * 8 + F.col("l_linenumber")
                    ).cast("string"),
                )
            )
            % 3
        ).alias("part"),
    )
    keys = ["l_returnflag", "l_linestatus"]
    model = (
        li.filter(F.col("part") == 0)
        .groupBy(*keys)
        .agg(
            (
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("pred")
        )
    )
    from etl_lens_spark.operators.prefix import ordered_prefix_sums

    cal_resid = (
        li.filter(F.col("part") == 1)
        .join(F.broadcast(model), keys)
        .select(*keys, F.abs(F.col("y") - F.col("pred")).alias("resid"))
    )
    rcounts = cal_resid.groupBy(*keys, "resid").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rcum = ordered_prefix_sums(
        rcounts,
        [F.col("l_returnflag"), F.col("l_linestatus"), F.col("resid")],
        {"gcum": "c"},
    )
    rtot = rcounts.groupBy(*keys).agg(
        F.sum("c").cast("long").alias("n_cal")
    )
    # per-group starting offsets from the tiny totals table via a
    # triangular join (never a global window), lexicographic on keys
    a = rtot.select(
        F.col("l_returnflag").alias("a_rf"),
        F.col("l_linestatus").alias("a_ls"),
    )
    b = rtot.select(
        F.col("l_returnflag").alias("b_rf"),
        F.col("l_linestatus").alias("b_ls"),
        F.col("n_cal").alias("b_n"),
    )
    offs = (
        a.join(
            b,
            (F.col("b_rf") < F.col("a_rf"))
            | (
                (F.col("b_rf") == F.col("a_rf"))
                & (F.col("b_ls") < F.col("a_ls"))
            ),
            "left",
        )
        .groupBy("a_rf", "a_ls")
        .agg(F.coalesce(F.sum("b_n"), F.lit(0)).alias("off"))
        .select(
            F.col("a_rf").alias("l_returnflag"),
            F.col("a_ls").alias("l_linestatus"),
            "off",
        )
    )
    cal = (
        rcum.join(F.broadcast(offs), keys)
        .join(F.broadcast(rtot), keys)
        .filter(
            (F.col("gcum") - F.col("off"))
            >= F.ceil(
                F.lit(_CONF_Q) * F.col("n_cal").cast("double")
            ).cast("long")
        )
        .groupBy(*keys, "n_cal")
        .agg(F.min("resid").cast("double").alias("q_resid"))
    )
    return (
        li.filter(F.col("part") == 2)
        .join(F.broadcast(model), keys)
        .join(F.broadcast(cal), keys)
        .groupBy(*keys, "q_resid", "n_cal")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            (
                F.sum(
                    F.when(
                        F.abs(F.col("y") - F.col("pred"))
                        <= F.col("q_resid"),
                        1,
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("coverage"),
        )
        .orderBy(*keys)
    )



def _median_disc_exact(df: DataFrame, col: str, out: str) -> DataFrame:
    """Exact nearest-rank median (quantile_disc(0.5) semantics:
    smallest v with cum-count >= ceil(n/2)) with NO approx sketch and
    no row-scale sort: distinct-value counts + range-partitioned
    prefix sums (operators/prefix.py). approx_percentile stops being
    exact once n exceeds ~accuracy/6 (GK merge error — config.py),
    which silently flips the selected order statistic on large
    inputs; this path is exact at any n. q=0.5 only: 0.5*n is exact
    in binary, so the Spark-side ceil can't drift from DuckDB's
    internal rank arithmetic the way a 0.9*n literal could."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
    pre = ordered_prefix_sum(counts, [F.col(col)], "c", "cum")
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    return (
        pre.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cum")
            >= F.ceil(F.col("n_tot").cast("double") * 0.5).cast("long")
        )
        .agg(F.min(col).cast("double").alias(out))
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend estimator
# ---------------------------------------------------------------------------


@query(
    "stats_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.r - a.r) / CAST(b.d - a.d AS DOUBLE) AS s
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    med AS (
      SELECT CAST(quantile_disc(s, 0.5) AS DOUBLE) AS slope,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           med.n_pairs, med.slope,
           (SELECT CAST(quantile_disc(r - med.slope * d, 0.5) AS DOUBLE)
            FROM daily) AS intercept
    FROM med
    """,
)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the median of all
    pairwise slopes (breakdown point 29% — one bad day cannot move
    it, unlike OLS), intercept = median residual at the fitted slope.

    The quadratic pairwise step runs on the DAILY aggregate — a
    data-volume-independent series (~2.4k rows for this date span no
    matter how many orders), so the O(days²) self-join is bounded at
    any corpus scale; the only row-scale work is one groupBy with
    map-side combine and exact DECIMAL sums. Medians via saturating
    approx_percentile (= quantile_disc semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("r")
    )
    a = daily.select(F.col("d").alias("d1"), F.col("r").alias("r1"))
    b = daily.select(F.col("d").alias("d2"), F.col("r").alias("r2"))
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("r2") - F.col("r1"))
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("s")
    )
    med = _median_disc_exact(slopes, "s", "slope").crossJoin(
        F.broadcast(
            slopes.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    icept = (
        daily.crossJoin(F.broadcast(med.select("slope")))
        .agg(
            F.percentile_approx(
                F.col("r") - F.col("slope") * F.col("d"), 0.5, _CONF_ACC
            )
            .cast("double")
            .alias("intercept")
        )
    )
    return (
        n_days.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(icept))
        .select("n_days", "n_pairs", "slope", "intercept")
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_LAGS = 7


@query(
    "stats_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT l.lag, a.r AS x, b.r AS y
      FROM (SELECT UNNEST(range(1, {_ACF_LAGS + 1})) AS lag) l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.lag
    )
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (CAST(COUNT(*) AS DOUBLE) * SUM(x * y) - SUM(x) * SUM(y))
           / SQRT((CAST(COUNT(*) AS DOUBLE) * SUM(x * x) - SUM(x) * SUM(x))
                  * (CAST(COUNT(*) AS DOUBLE) * SUM(y * y)
                     - SUM(y) * SUM(y))) AS acf
    FROM pairs GROUP BY lag ORDER BY lag
    """,
)
def stats_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1..{_ACF_LAGS} — the
    seasonality screen (a weekly cycle shows as a lag-7 peak) run
    before fitting any forecast model.

    Row-scale data collapses to the daily series first (exact DECIMAL
    sums, map-side combine); the lag alignment is an equi-join of the
    tiny series against itself shifted by an exploded literal lag
    column — 7 lags ride ONE join, and nothing downstream of the
    first aggregate scales with the order count. Pearson formula in
    explicit double sums, identical text both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("r")
    )
    lags = daily.select(
        "d",
        F.col("r").alias("x"),
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.lit(_ACF_LAGS).cast("long"))
        ).alias("lag"),
    )
    b = daily.select(F.col("d").alias("d2"), F.col("r").alias("y"))
    pairs = lags.join(
        b, F.col("d2") == F.col("d") + F.col("lag")
    )
    nd = F.count(F.lit(1)).cast("double")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                (nd * F.sum(F.col("x") * F.col("y"))
                 - F.sum("x") * F.sum("y"))
                / F.sqrt(
                    (nd * F.sum(F.col("x") * F.col("x"))
                     - F.sum("x") * F.sum("x"))
                    * (nd * F.sum(F.col("y") * F.col("y"))
                       - F.sum("y") * F.sum("y"))
                )
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# MMD two-sample drift on a deterministic bounded sample
# ---------------------------------------------------------------------------

_MMD_K = 512


@query(
    "stats_mmd_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 'early' ELSE 'late' END AS grp,
             CAST(o_totalprice AS DOUBLE) AS v,
             CAST({_md5_sql("'mmd1|' || CAST(o_orderkey AS VARCHAR)")}
                  AS DOUBLE) / {_MD5_SCALE!r} AS u,
             o_orderkey
      FROM orders
    ),
    sizes AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM tagged GROUP BY grp
    ),
    surv AS (
      SELECT t.* FROM tagged t JOIN sizes s USING (grp)
      WHERE t.u < LEAST(1.0, 4.0 * {_MMD_K} / CAST(s.n AS DOUBLE))
    ),
    samp AS (
      SELECT grp, v FROM (
        SELECT grp, v,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY u, o_orderkey) AS rn
        FROM surv
      ) WHERE rn <= {_MMD_K}
    ),
    x AS (SELECT v FROM samp WHERE grp = 'early'),
    y AS (SELECT v FROM samp WHERE grp = 'late'),
    sigma AS (
      SELECT CAST(quantile_disc(ABS(x.v - y.v), 0.5) AS DOUBLE) AS s
      FROM x, y
    ),
    kxx AS (
      SELECT SUM(EXP(-((a.v - b.v) * (a.v - b.v))
                     / (2.0 * s * s))) AS t, COUNT(*) AS c
      FROM x a, x b, sigma
    ),
    kyy AS (
      SELECT SUM(EXP(-((a.v - b.v) * (a.v - b.v))
                     / (2.0 * s * s))) AS t, COUNT(*) AS c
      FROM y a, y b, sigma
    ),
    kxy AS (
      SELECT SUM(EXP(-((a.v - b.v) * (a.v - b.v))
                     / (2.0 * s * s))) AS t, COUNT(*) AS c
      FROM x a, y b, sigma
    )
    SELECT (SELECT n FROM sizes WHERE grp = 'early') AS n_early,
           (SELECT n FROM sizes WHERE grp = 'late') AS n_late,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS k_early,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM y) AS k_late,
           (SELECT s FROM sigma) AS sigma,
           (SELECT t / c FROM kxx) + (SELECT t / c FROM kyy)
             - 2.0 * (SELECT t / c FROM kxy) AS mmd2
    """,
)
def stats_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample drift statistic (MMD² with an RBF kernel,
    median-heuristic bandwidth) between early (< 1998) and late order
    values — the nonparametric drift test that sees distribution-shape
    changes KS/PSI binning can miss.

    The quadratic kernel sums run on a BOUNDED deterministic sample:
    a two-phase bottom-k by md5 (count per group → survivors with
    u < 4k/n — a row-local filter that keeps ~4k of n rows — then an
    exact rank over the tiny survivor set). The windowed rank touches
    O(k) rows per group regardless of corpus size, so there is no
    row-scale single-reducer stage; the 3·k² kernel evaluations are
    constant work. The md5 sample makes the whole statistic — sample,
    bandwidth, kernel sums — cross-engine reproducible, so the oracle
    pins the full mechanism."""
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.when(
            F.col("o_orderdate")
            < F.lit("1998-01-01").cast("timestamp"),
            "early",
        )
        .otherwise("late")
        .alias("grp"),
        F.col("o_totalprice").cast("double").alias("v"),
        (
            kmv_value(
                F.concat(F.lit("mmd1|"), F.col("o_orderkey").cast("string"))
            ).cast("double")
            / F.lit(_MD5_SCALE)
        ).alias("u"),
        "o_orderkey",
    )
    sizes = tagged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    surv = tagged.join(F.broadcast(sizes), "grp").filter(
        F.col("u")
        < F.least(
            F.lit(1.0), F.lit(4.0 * _MMD_K) / F.col("n").cast("double")
        )
    )
    w = Window.partitionBy("grp").orderBy("u", "o_orderkey")
    samp = (
        surv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMD_K)
        .select("grp", "v")
    )
    x = samp.filter(F.col("grp") == "early").select("v")
    y = samp.filter(F.col("grp") == "late").select(
        F.col("v").alias("vy")
    )
    sigma = _median_disc_exact(
        x.crossJoin(y).select(
            F.abs(F.col("v") - F.col("vy")).alias("ad")
        ),
        "ad",
        "s",
    )

    def ksum(a: DataFrame, ac: str, b: DataFrame, bc: str, out: str):
        return (
            a.crossJoin(b)
            .crossJoin(F.broadcast(sigma))
            .agg(
                (
                    F.sum(
                        F.exp(
                            -(
                                (F.col(ac) - F.col(bc))
                                * (F.col(ac) - F.col(bc))
                            )
                            / (2.0 * F.col("s") * F.col("s"))
                        )
                    )
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    x2 = x.select(F.col("v").alias("vx2"))
    y2 = y.select(F.col("vy").alias("vy2"))
    kxx = ksum(x, "v", x2, "vx2", "mxx")
    kyy = ksum(y.select(F.col("vy").alias("v")), "v", y2, "vy2", "myy")
    kxy = ksum(x, "v", y2, "vy2", "mxy")
    counts = (
        sizes.groupBy()
        .pivot("grp", ["early", "late"])
        .agg(F.first("n"))
        .select(
            F.col("early").alias("n_early"), F.col("late").alias("n_late")
        )
    )
    ks = samp.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    kcounts = (
        ks.groupBy()
        .pivot("grp", ["early", "late"])
        .agg(F.first("k"))
        .select(
            F.col("early").alias("k_early"), F.col("late").alias("k_late")
        )
    )
    return (
        counts.crossJoin(F.broadcast(kcounts))
        .crossJoin(F.broadcast(sigma.select(F.col("s").alias("sigma"))))
        .crossJoin(F.broadcast(kxx))
        .crossJoin(F.broadcast(kyy))
        .crossJoin(F.broadcast(kxy))
        .select(
            "n_early",
            "n_late",
            "k_early",
            "k_late",
            "sigma",
            (
                F.col("mxx") + F.col("myy") - 2.0 * F.col("mxy")
            ).alias("mmd2"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record-linkage weights
# ---------------------------------------------------------------------------

_FS_M = {"type": 0.95, "band": 0.9, "tok": 0.85}
_FS_TOP = 100


@query(
    "entity_fellegi_sunter_scores",
    oracle=f"""
    WITH parts AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             split_part(p_name, ' ', 2) AS tok,
             CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS band
      FROM part
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM parts),
    u_type AS (
      SELECT SUM(c * c) / (SELECT n * n FROM n) AS u FROM
        (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM parts GROUP BY p_type)
    ),
    u_band AS (
      SELECT SUM(c * c) / (SELECT n * n FROM n) AS u FROM
        (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM parts GROUP BY band)
    ),
    u_tok AS (
      SELECT SUM(c * c) / (SELECT n * n FROM n) AS u FROM
        (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM parts GROUP BY tok)
    ),
    pairs AS (
      SELECT a.p_partkey AS p1, b.p_partkey AS p2,
             CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS ag_type,
             CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS ag_band,
             CASE WHEN a.tok = b.tok THEN 1 ELSE 0 END AS ag_tok
      FROM parts a JOIN parts b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
    ),
    scored AS (
      SELECT p1, p2,
             CAST(ag_type + ag_band + ag_tok AS BIGINT) AS n_agree,
             (CASE WHEN ag_type = 1
                   THEN LN({_FS_M['type']!r} / (SELECT u FROM u_type))
                   ELSE LN({1 - _FS_M['type']!r}
                           / (1.0 - (SELECT u FROM u_type))) END)
           + (CASE WHEN ag_band = 1
                   THEN LN({_FS_M['band']!r} / (SELECT u FROM u_band))
                   ELSE LN({1 - _FS_M['band']!r}
                           / (1.0 - (SELECT u FROM u_band))) END)
           + (CASE WHEN ag_tok = 1
                   THEN LN({_FS_M['tok']!r} / (SELECT u FROM u_tok))
                   ELSE LN({1 - _FS_M['tok']!r}
                           / (1.0 - (SELECT u FROM u_tok))) END)
             AS score
      FROM pairs
    )
    SELECT p1, p2, n_agree, score
    FROM scored
    ORDER BY score DESC, p1, p2 LIMIT {_FS_TOP}
    """,
)
def entity_fellegi_sunter_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the part
    catalog: candidate pairs blocked by brand, scored by
    sum-of-log-likelihood agreement weights ln(m/u) / ln((1−m)/(1−u))
    across three fields (type, price band, name token). u-probabilities —
    the chance two RANDOM records agree — are estimated from the data
    itself as the field's collision probability Σ(nᵥ/n)²; m-
    probabilities are the configured match-model literals. Top-{_FS_TOP}
    scored pairs returned (deterministic tie-break on the key pair).

    Scale posture: u-estimation is one tiny aggregate per field; the
    pair generation is a blocked self-equi-join on the COMPOSITE
    (brand, size) key — the single-key brand blocking measured ×6.2
    at the 10× probe (block size grows with data, pairs grow
    quadratically); the composite key keeps blocks ~50× smaller and
    the probe linear, the same lever the dedup family pulls. The
    score/top-k stages are a map + bounded TakeOrdered either way."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("tok"),
        F.floor(F.col("p_retailprice") / 100.0).cast("long").alias("band"),
    )
    n = parts.agg(F.count(F.lit(1)).cast("double").alias("n"))

    def u_of(col: str) -> DataFrame:
        return (
            parts.groupBy(col)
            .agg(F.count(F.lit(1)).cast("double").alias("c"))
            .crossJoin(F.broadcast(n))
            .agg(
                (F.sum(F.col("c") * F.col("c")) / F.first(
                    F.col("n") * F.col("n")
                )).alias(f"u_{col}")
            )
        )

    u_type = u_of("p_type")
    u_band = u_of("band")
    u_tok = u_of("tok")
    a = parts.select(
        F.col("p_partkey").alias("p1"),
        F.col("p_brand").alias("b1"),
        F.col("p_type").alias("t1"),
        F.col("p_size").alias("s1"),
        F.col("tok").alias("k1"),
        F.col("band").alias("d1"),
    )
    b = parts.select(
        F.col("p_partkey").alias("p2"),
        F.col("p_brand").alias("b2"),
        F.col("p_type").alias("t2"),
        F.col("p_size").alias("s2"),
        F.col("tok").alias("k2"),
        F.col("band").alias("d2"),
    )
    pairs = a.join(
        b,
        (F.col("b1") == F.col("b2"))
        & (F.col("s1") == F.col("s2"))
        & (F.col("p1") < F.col("p2")),
    ).select(
        "p1",
        "p2",
        (F.col("t1") == F.col("t2")).cast("int").alias("ag_type"),
        (F.col("d1") == F.col("d2")).cast("int").alias("ag_band"),
        (F.col("k1") == F.col("k2")).cast("int").alias("ag_tok"),
    )

    def w(flag: str, m: float, ucol: str):
        return F.when(
            F.col(flag) == 1, F.log(F.lit(m) / F.col(ucol))
        ).otherwise(
            F.log(F.lit(1 - m) / (F.lit(1.0) - F.col(ucol)))
        )

    scored = (
        pairs.crossJoin(F.broadcast(u_type))
        .crossJoin(F.broadcast(u_band))
        .crossJoin(F.broadcast(u_tok))
        .select(
            "p1",
            "p2",
            (
                F.col("ag_type") + F.col("ag_band") + F.col("ag_tok")
            )
            .cast("long")
            .alias("n_agree"),
            (
                w("ag_type", _FS_M["type"], "u_p_type")
                + w("ag_band", _FS_M["band"], "u_band")
                + w("ag_tok", _FS_M["tok"], "u_tok")
            ).alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), "p1", "p2"
    ).limit(_FS_TOP)


# ---------------------------------------------------------------------------
# l-diversity audit (companion to privacy_k_anonymity)
# ---------------------------------------------------------------------------

_LDIV_L = 3


@query(
    "privacy_l_diversity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS k_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l_distinct,
           CASE WHEN COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0)
                                         AS BIGINT)) < {_LDIV_L}
                THEN 1 ELSE 0 END AS below_l
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the quasi-identifier (nation, market
    segment): each QI equivalence class must contain at least
    l = {_LDIV_L} distinct sensitive values (banded account balance),
    or a k-anonymous release still leaks the sensitive attribute by
    homogeneity. Companion to privacy_k_anonymity — same grouping,
    stronger property. One groupBy with a distinct-count (Spark
    expands to two-level partial aggregation; at extreme cardinality
    swap in the KMV/HLL sketch family, same shape)."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_size"),
            F.countDistinct(band).cast("long").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k_size",
            "l_distinct",
            F.when(F.col("l_distinct") < _LDIV_L, 1)
            .otherwise(0)
            .alias("below_l"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval — single-pass resampling
# ---------------------------------------------------------------------------

_BOOT_B = 16
# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), k = 0..6;
# weights cap at 7 (P ≈ 8e-5 per draw). Literal doubles, identical
# text in both engines.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
]


def _poisson_case_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {whens} ELSE 7 END"


@query(
    "stats_bootstrap_poisson_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o_totalprice,
             b,
             {_poisson_case_sql(
                 "CAST(" + _md5_sql(
                     "'bs1|' || CAST(o_orderkey * " + str(_BOOT_B)
                     + " + b AS VARCHAR)"
                 ) + " AS DOUBLE) / " + repr(_MD5_SCALE)
             )} AS w
      FROM orders CROSS JOIN (SELECT UNNEST(range({_BOOT_B})) AS b)
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE) AS mean_b
      FROM reps GROUP BY b
    ),
    point AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS point_mean,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
    )
    SELECT n_orders, {_BOOT_B} AS b_reps, point_mean,
           (SELECT CAST(quantile_disc(mean_b, 0.05) AS DOUBLE)
            FROM means) AS ci_lo,
           (SELECT CAST(quantile_disc(mean_b, 0.95) AS DOUBLE)
            FROM means) AS ci_hi
    FROM point
    """,
)
def stats_bootstrap_poisson_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for the mean order
    value — the single-pass resampling scheme for data too large to
    resample by index: each (row, replicate) pair draws a Poisson(1)
    weight (≈ the multinomial resample count as n→∞), so all B
    bootstrap replicates are computed in ONE scan with B partial
    aggregates, no per-replicate pass and no driver-side sampling.

    Weights come from inverse-CDF lookup on an md5-seeded uniform —
    the thresholds are shared literals, so Spark and DuckDB draw
    IDENTICAL weights and the oracle pins the whole resampling
    machinery, not a distributional property. Row-side cost is a
    B-way flatMap (explode of a literal sequence — no shuffle);
    the only exchange carries B·n_groups partial sums. Weighted sums
    stay exact DECIMAL until the final division; the CI picks order
    statistics (quantile_disc semantics) from the B replicate means."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("y")
    )
    reps = orders.select(
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "o_orderkey",
    ).withColumn(
        "u",
        kmv_value(
            F.concat(
                F.lit("bs1|"),
                (F.col("o_orderkey") * _BOOT_B + F.col("b")).cast(
                    "string"
                ),
            )
        ).cast("double")
        / F.lit(_MD5_SCALE),
    )
    w = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("y")).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_b")
        )
    )
    ci = means.agg(
        F.percentile_approx("mean_b", 0.05, _CONF_ACC)
        .cast("double")
        .alias("ci_lo"),
        F.percentile_approx("mean_b", 0.95, _CONF_ACC)
        .cast("double")
        .alias("ci_hi"),
    )
    point = orders.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
            "point_mean"
        ),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        F.lit(_BOOT_B).alias("b_reps"),
        "point_mean",
        "ci_lo",
        "ci_hi",
    )


# ---------------------------------------------------------------------------
# One-pass all-pairs correlation matrix
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_sql() -> str:
    cols = _CORR_COLS
    sums = ", ".join(
        f"SUM(c{i}) AS s{i}, SUM(c{i} * c{i}) AS q{i}"
        for i in range(len(cols))
    )
    crosses = ", ".join(
        f"SUM(c{i} * c{j}) AS x{i}_{j}"
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    pair_rows = "\nUNION ALL\n".join(
        f"""SELECT '{cols[i]}' AS col_x, '{cols[j]}' AS col_y,
            (n * x{i}_{j} - s{i} * s{j})
            / SQRT((n * q{i} - s{i} * s{i}) * (n * q{j} - s{j} * s{j}))
              AS pearson FROM agg"""
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    proj = ", ".join(
        f"CAST({c} AS DOUBLE) AS c{i}" for i, c in enumerate(cols)
    )
    return f"""
    WITH src AS (SELECT {proj} FROM lineitem),
    agg AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, {sums}, {crosses} FROM src
    )
    SELECT col_x, col_y, pearson FROM ({pair_rows}) t
    ORDER BY col_x, col_y
    """


@query("profile_correlation_matrix", oracle=_corr_matrix_sql())
def profile_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All-pairs Pearson correlation matrix over the numeric lineitem
    columns in ONE scan: every sum, square-sum and cross-moment rides
    a single aggregate (map-side combine), and the 6 pair rows are
    exploded from that 1-row moment table — the k-column profiling
    pass costs one read no matter how many pairs, vs k·(k-1)/2
    separate F.corr jobs. Formula in explicit double sums with
    identical expression text in both engines."""
    cols = _CORR_COLS
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(c).cast("double").alias(f"c{i}") for i, c in enumerate(cols)]
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i in range(len(cols)):
        aggs.append(F.sum(F.col(f"c{i}")).alias(f"s{i}"))
        aggs.append(F.sum(F.col(f"c{i}") * F.col(f"c{i}")).alias(f"q{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.sum(F.col(f"c{i}") * F.col(f"c{j}")).alias(f"x{i}_{j}")
            )
    m = li.agg(*aggs)
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            pairs.append(
                F.struct(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    (
                        (
                            F.col("n") * F.col(f"x{i}_{j}")
                            - F.col(f"s{i}") * F.col(f"s{j}")
                        )
                        / F.sqrt(
                            (
                                F.col("n") * F.col(f"q{i}")
                                - F.col(f"s{i}") * F.col(f"s{i}")
                            )
                            * (
                                F.col("n") * F.col(f"q{j}")
                                - F.col(f"s{j}") * F.col(f"s{j}")
                            )
                        )
                    ).alias("pearson"),
                )
            )
    return (
        m.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.col_x", "p.col_y", "p.pearson")
        .orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# Soundex phonetic blocking — native function vs from-scratch replica
# ---------------------------------------------------------------------------

# Classic American Soundex in portable SQL (DuckDB has no soundex):
# map letters to digit codes (H/W = 7 so equal codes separated by h/w
# collapse, vowels = 0 so they reset duplicates — the Tymczak rule),
# collapse runs per digit, drop 7s and 0s, keep first letter + 3.
_SOUNDEX_SQL = """
    rpad(substr(w, 1, 1) ||
         substr(regexp_replace(
           substr(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      translate(w, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   '01230127022455012623017202'),
                      '1(?:7*1)+', '1', 'g'), '2(?:7*2)+', '2', 'g'),
                      '3(?:7*3)+', '3', 'g'), '4(?:7*4)+', '4', 'g'),
                      '5(?:7*5)+', '5', 'g'), '6(?:7*6)+', '6', 'g'),
                  2),
           '[07]', '', 'g'), 1, 3),
         4, '0')
"""


@query(
    "text_soundex_blocking",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT upper(word) AS w FROM (
        SELECT unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS word
        FROM documents
      ) WHERE regexp_matches(word, '^[a-z]+$')
    ),
    coded AS (SELECT w, {_SOUNDEX_SQL} AS code FROM words)
    SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
           string_agg(w, ',' ORDER BY w) AS words
    FROM coded GROUP BY code
    ORDER BY n_words DESC, code LIMIT 40
    """,
)
def text_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex phonetic blocking over the corpus vocabulary: words
    that sound alike land in one block — the classic cheap blocking
    key for name-matching pipelines (pairs only form inside a block,
    same posture as the brand blocking in entity_fellegi_sunter).

    Double function-parity proof: the Spark side uses the ENGINE-
    NATIVE ``F.soundex`` (JVM codegen); the oracle re-derives Soundex
    from scratch in portable SQL (translate + per-digit run collapse
    with the H/W and vowel-reset rules) — a hash match means the
    native function and the textbook algorithm agree on every block.
    Corpus scale collapses at the DISTINCT-word aggregate; everything
    after is vocab-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    words = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .select(F.upper("word").alias("w"))
        .distinct()
    )
    coded = words.select("w", F.soundex("w").alias("code"))
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.array_join(F.array_sort(F.collect_list("w")), ",").alias(
                "words"
            ),
        )
        .orderBy(F.desc("n_words"), "code")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Mahalanobis outliers — closed-form 2D covariance inverse
# ---------------------------------------------------------------------------

_MAHA_TOP = 20


@query(
    "outliers_mahalanobis_2d",
    oracle=f"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM src
    ),
    st AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             sxx / n - (sx / n) * (sx / n) AS vxx,
             syy / n - (sy / n) * (sy / n) AS vyy,
             sxy / n - (sx / n) * (sy / n) AS vxy
      FROM mom
    )
    SELECT l_orderkey, l_linenumber,
           ((s.x - t.mx) * (s.x - t.mx) * t.vyy
            - 2.0 * (s.x - t.mx) * (s.y - t.my) * t.vxy
            + (s.y - t.my) * (s.y - t.my) * t.vxx)
           / (t.vxx * t.vyy - t.vxy * t.vxy) AS d2
    FROM src s, st t
    ORDER BY d2 DESC, l_orderkey, l_linenumber LIMIT {_MAHA_TOP}
    """,
)
def outliers_mahalanobis_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier scoring: Mahalanobis distance of each
    (quantity, price) pair from the joint distribution — catches
    points that are normal in each marginal but jointly impossible
    (huge price at tiny quantity), which the per-column z-score /
    MAD screens (ts_anomaly_zscore, outliers_mad) cannot see.

    The 2×2 covariance inverts in closed form, so the whole score is
    JVM expression arithmetic: one moment aggregate (map-side
    combine) broadcast back into a scan, then a bounded TakeOrdered
    top-{_MAHA_TOP} — two passes over the data, no window, no Python.
    The same pattern extends to any fixed small dimension via the
    cofactor expansion; for wide feature vectors the PCA family
    (emb_pca_covariance) is the scalable route."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    mom = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    st = mom.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("vxx"),
        (
            F.col("syy") / F.col("n")
            - (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("vyy"),
        (
            F.col("sxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("vxy"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    return (
        li.crossJoin(F.broadcast(st))
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                (
                    dx * dx * F.col("vyy")
                    - F.lit(2.0) * dx * dy * F.col("vxy")
                    + dy * dy * F.col("vxx")
                )
                / (
                    F.col("vxx") * F.col("vyy")
                    - F.col("vxy") * F.col("vxy")
                )
            ).alias("d2"),
        )
        .orderBy(F.desc("d2"), "l_orderkey", "l_linenumber")
        .limit(_MAHA_TOP)
    )


# ---------------------------------------------------------------------------
# Box–Cox lambda selection on a closed-form grid
# ---------------------------------------------------------------------------

# λ grid chosen so every power is exact sqrt/reciprocal arithmetic —
# no libm pow() in either engine, so the profile log-likelihoods are
# cross-engine deterministic
_BC_GRID = [-1.0, -0.5, 0.0, 0.5, 1.0]


def _bc_t_sql(lam: float) -> str:
    if lam == 0.0:
        return "LN(x)"
    if lam == 0.5:
        return "(SQRT(x) - 1.0) / 0.5"
    if lam == -0.5:
        return "(1.0 / SQRT(x) - 1.0) / -0.5"
    if lam == -1.0:
        return "(1.0 / x - 1.0) / -1.0"
    return "x - 1.0"


@query(
    "feature_boxcox_lambda",
    oracle=f"""
    WITH src AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      WHERE o_totalprice > 0
    ),
    prof AS (
      {" UNION ALL ".join(
          f'''SELECT CAST({lam!r} AS DOUBLE) AS lam,
              var_pop({_bc_t_sql(lam)}) AS vt,
              AVG(LN(x)) AS mlx
              FROM src''' for lam in _BC_GRID)}
    )
    SELECT lam,
           (-0.5 * LN(vt) + (lam - 1.0) * mlx) AS avg_loglik
    FROM prof ORDER BY lam
    """,
)
def feature_boxcox_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box–Cox transform selection: the profile log-likelihood (per
    row, up to constants) of each λ on a fixed grid over positive
    order values — the normality-restoring power transform chosen the
    standard way (maximize −½·ln σ²_t + (λ−1)·mean ln x).

    The grid is deliberately {{-1, -½, 0, ½, 1}} so every transform is
    sqrt / reciprocal / ln arithmetic — no libm pow(), whose rounding
    is not guaranteed identical across engines. All five candidate
    transforms ride ONE scan as branches of a single union of
    aggregates (Catalyst shares the scan), each a map-side-combined
    moment set; nothing scales with more grid points but the moment
    count. var_pop on both engines, NOT stt/n − (st/n)²: for λ=−1
    the transform clusters at ~1.0 so the naive form subtracts two
    near-equal ~1.0 sums to get a ~1e-10 variance — the resulting
    ~1e-6 relative error lands inside ln() and made the output
    partition-order-sensitive (caught by tools/permutation_probe.py
    round 5)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    x = F.col("o_totalprice").cast("double")

    def t_of(lam: float):
        if lam == 0.0:
            return F.log(x)
        if lam == 0.5:
            return (F.sqrt(x) - 1.0) / 0.5
        if lam == -0.5:
            return (1.0 / F.sqrt(x) - 1.0) / -0.5
        if lam == -1.0:
            return (1.0 / x - 1.0) / -1.0
        return x - 1.0

    outs = []
    for lam in _BC_GRID:
        t = t_of(lam)
        outs.append(
            orders.agg(
                F.var_pop(t).alias("vt"),
                F.avg(F.log(x)).alias("mlx"),
            ).select(
                F.lit(lam).alias("lam"),
                (
                    F.lit(-0.5) * F.log(F.col("vt"))
                    + (F.lit(lam) - 1.0) * F.col("mlx")
                ).alias("avg_loglik"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("lam")


# ---------------------------------------------------------------------------
# Neyman optimal stratified-sampling allocation
# ---------------------------------------------------------------------------

_NEY_TOTAL = 1000


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH st AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             SQRT(SUM(c_acctbal * c_acctbal) / COUNT(*)
                  - (SUM(c_acctbal) / COUNT(*))
                    * (SUM(c_acctbal) / COUNT(*))) AS s_h
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (SELECT SUM(CAST(n_h AS DOUBLE) * s_h) AS w FROM st)
    SELECT c_mktsegment, n_h, s_h,
           CAST(FLOOR({_NEY_TOTAL}.0 * CAST(n_h AS DOUBLE) * s_h / w
                      + 0.5) AS BIGINT) AS alloc_neyman,
           CAST(FLOOR({_NEY_TOTAL}.0 * CAST(n_h AS DOUBLE)
                      / (SELECT SUM(CAST(n_h AS DOUBLE)) FROM st)
                      + 0.5) AS BIGINT) AS alloc_proportional
    FROM st, tot ORDER BY c_mktsegment
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for a stratified sample of
    {_NEY_TOTAL}: stratum h gets n·(N_h·S_h)/Σ(N_h·S_h) draws —
    minimum-variance allocation for estimating the mean, vs the naive
    proportional allocation shown alongside (high-variance strata get
    MORE than their share; the difference is the design effect a
    survey pipeline banks). Per-stratum variance from one moment
    aggregate; rounding via the shared floor(x+0.5) idiom (DuckDB
    ROUND is half-away, Spark bankers' — the explicit floor sidesteps
    the divergence). Companion to sample_stratified_exact_n, which
    does the actual per-stratum exact-n draw once an allocation is
    chosen."""
    cust = load_table(spark, sf_dir, "customer")
    a = F.col("c_acctbal")
    st = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sqrt(
            F.sum(a * a) / F.count(F.lit(1))
            - (F.sum(a) / F.count(F.lit(1)))
            * (F.sum(a) / F.count(F.lit(1)))
        ).alias("s_h"),
    )
    tot = st.agg(
        F.sum(F.col("n_h").cast("double") * F.col("s_h")).alias("w"),
        F.sum(F.col("n_h").cast("double")).alias("ntot"),
    )
    return (
        st.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "n_h",
            "s_h",
            F.floor(
                F.lit(float(_NEY_TOTAL))
                * F.col("n_h").cast("double")
                * F.col("s_h")
                / F.col("w")
                + 0.5
            )
            .cast("long")
            .alias("alloc_neyman"),
            F.floor(
                F.lit(float(_NEY_TOTAL))
                * F.col("n_h").cast("double")
                / F.col("ntot")
                + 0.5
            )
            .cast("long")
            .alias("alloc_proportional"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Point-in-polygon spatial join — ray casting in portable SQL
# ---------------------------------------------------------------------------

# literal polygons in the unit square (one convex, one CONCAVE to
# exercise the parity rule, one irregular pentagon); vertices wound
# counter-clockwise, edges precomputed with wraparound
_PIP_POLYS = {
    "triangle": [(0.1, 0.1), (0.9, 0.1), (0.5, 0.9)],
    "l_shape": [
        (0.0, 0.0), (0.4, 0.0), (0.4, 0.2), (0.2, 0.2),
        (0.2, 0.6), (0.0, 0.6),
    ],
    "pentagon": [
        (0.6, 0.5), (0.8, 0.45), (0.95, 0.6), (0.8, 0.85), (0.62, 0.75),
    ],
}


def _pip_edges():
    for pid, vs in _PIP_POLYS.items():
        for k in range(len(vs)):
            x1, y1 = vs[k]
            x2, y2 = vs[(k + 1) % len(vs)]
            yield pid, x1, y1, x2, y2


@query(
    "geo_point_in_polygon_join",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             CAST({_md5_sql("'px|' || CAST(event_id AS VARCHAR)")}
                  AS DOUBLE) / {_MD5_SCALE!r} AS px,
             CAST({_md5_sql("'py|' || CAST(event_id AS VARCHAR)")}
                  AS DOUBLE) / {_MD5_SCALE!r} AS py
      FROM events
    ),
    edges(poly_id, x1, y1, x2, y2) AS (
      VALUES {", ".join(f"('{p}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
                        for p, x1, y1, x2, y2 in _pip_edges())}
    ),
    hits AS (
      SELECT p.event_id, e.poly_id,
             SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                       AND p.px < (e.x2 - e.x1) * (p.py - e.y1)
                                  / (e.y2 - e.y1) + e.x1
                      THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN edges e
      GROUP BY p.event_id, e.poly_id
    ),
    area AS (
      SELECT poly_id,
             ABS(SUM(x1 * y2 - x2 * y1)) / 2.0 AS shoelace_area
      FROM edges GROUP BY poly_id
    )
    SELECT h.poly_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(crossings % 2) AS BIGINT) AS n_inside,
           CAST(SUM(crossings % 2) AS DOUBLE) / COUNT(*) AS frac_inside,
           a.shoelace_area
    FROM hits h JOIN area a USING (poly_id)
    GROUP BY h.poly_id, a.shoelace_area
    ORDER BY h.poly_id
    """,
)
def geo_point_in_polygon_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-polygon containment join by ray casting, entirely in
    portable column arithmetic: each md5-derived uniform point tests
    against every polygon edge (odd crossing parity = inside —
    correct for the CONCAVE l_shape too, which a bounding-box or
    convex-hull test would get wrong). The polygon table also carries
    its shoelace area, so the result is self-auditing: frac_inside of
    uniform points converges to the area (pinned as a property test).

    Scale posture: the edge table is broadcast (a few rows per
    polygon); crossing counts reduce map-side per (point, polygon);
    at many polygons the standard upgrade is a coarse grid prefilter
    (geo_grid_nearest_join's banding) before the exact parity test —
    same plan shape with a pre-join on grid cell."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    pts = ev.select(
        "event_id",
        (
            kmv_value(
                F.concat(F.lit("px|"), F.col("event_id").cast("string"))
            ).cast("double")
            / F.lit(_MD5_SCALE)
        ).alias("px"),
        (
            kmv_value(
                F.concat(F.lit("py|"), F.col("event_id").cast("string"))
            ).cast("double")
            / F.lit(_MD5_SCALE)
        ).alias("py"),
    )
    spark_edges = spark.createDataFrame(
        list(_pip_edges()),
        "poly_id string, x1 double, y1 double, x2 double, y2 double",
    )
    crossing = (
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & (
            F.col("px")
            < (F.col("x2") - F.col("x1"))
            * (F.col("py") - F.col("y1"))
            / (F.col("y2") - F.col("y1"))
            + F.col("x1")
        )
    )
    hits = (
        pts.crossJoin(F.broadcast(spark_edges))
        .groupBy("event_id", "poly_id")
        .agg(
            F.sum(F.when(crossing, 1).otherwise(0)).alias("crossings")
        )
    )
    area = (
        spark_edges.groupBy("poly_id")
        .agg(
            (
                F.abs(
                    F.sum(
                        F.col("x1") * F.col("y2")
                        - F.col("x2") * F.col("y1")
                    )
                )
                / F.lit(2.0)
            ).alias("shoelace_area")
        )
    )
    return (
        hits.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.col("crossings") % 2).cast("long").alias("n_inside"),
            (
                F.sum(F.col("crossings") % 2).cast("double")
                / F.count(F.lit(1))
            ).alias("frac_inside"),
        )
        .join(F.broadcast(area), "poly_id")
        .select(
            "poly_id",
            "n_points",
            "n_inside",
            "frac_inside",
            "shoelace_area",
        )
        .orderBy("poly_id")
    )


# ---------------------------------------------------------------------------
# ALS half-step — closed-form per-user solve, pure aggregates
# ---------------------------------------------------------------------------

_ALS_LAMBDA = 0.1
_ALS_TOP = 25


@query(
    "reco_als_one_step",
    oracle=f"""
    WITH r AS (
      SELECT o_custkey AS u, l_partkey AS i,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS rating
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_partkey
    ),
    vfac AS (
      SELECT i,
             1.0 AS v1,
             CAST({_md5_sql("'als1|' || CAST(i AS VARCHAR)")} AS DOUBLE)
               / {_MD5_SCALE!r} AS v2
      FROM (SELECT DISTINCT i FROM r)
    ),
    g AS (
      SELECT r.u,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(v.v1 * v.v1) + {_ALS_LAMBDA!r} AS a11,
             SUM(v.v1 * v.v2) AS a12,
             SUM(v.v2 * v.v2) + {_ALS_LAMBDA!r} AS a22,
             SUM(v.v1 * r.rating) AS b1,
             SUM(v.v2 * r.rating) AS b2
      FROM r JOIN vfac v USING (i) GROUP BY r.u
    )
    SELECT u, n_items,
           (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS u1,
           (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS u2
    FROM g ORDER BY n_items DESC, u LIMIT {_ALS_TOP}
    """,
)
def reco_als_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step (solve all user factors against fixed item
    factors) expressed as pure distributed aggregates — the
    structural demonstration that an ALS ITERATION on Spark is one
    groupBy per side: per-user, the 2×2 normal equations
    (VᵀV + λI)u = Vᵀr accumulate as five sums over the user's rated
    items (map-side combine on the ratings join), and the solve is
    Cramer's rule in closed form — no per-user matrix library, no
    Python, no collect. Item factors are md5-deterministic (the
    "previous iteration's" factors), so the oracle re-derives the
    entire step bit-for-bit. Top-{_ALS_TOP} most active users shown.

    At 100 TB: ratings shuffle once on user (the groupBy); the item-
    factor join is broadcast when factors fit, hash otherwise —
    exactly MLlib's ALS data layout, visible here as plain SQL."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("i"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("double")
            .alias("rating")
        )
    )
    vfac = r.select("i").distinct().select(
        "i",
        F.lit(1.0).alias("v1"),
        (
            kmv_value(
                F.concat(F.lit("als1|"), F.col("i").cast("string"))
            ).cast("double")
            / F.lit(_MD5_SCALE)
        ).alias("v2"),
    )
    g = (
        r.join(vfac, "i")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (F.sum(F.col("v1") * F.col("v1")) + F.lit(_ALS_LAMBDA)).alias(
                "a11"
            ),
            F.sum(F.col("v1") * F.col("v2")).alias("a12"),
            (F.sum(F.col("v2") * F.col("v2")) + F.lit(_ALS_LAMBDA)).alias(
                "a22"
            ),
            F.sum(F.col("v1") * F.col("rating")).alias("b1"),
            F.sum(F.col("v2") * F.col("rating")).alias("b2"),
        )
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return (
        g.select(
            "u",
            "n_items",
            (
                (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12"))
                / det
            ).alias("u1"),
            (
                (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12"))
                / det
            ).alias("u2"),
        )
        .orderBy(F.desc("n_items"), "u")
        .limit(_ALS_TOP)
    )


# ---------------------------------------------------------------------------
# k-means++ initialization + one Lloyd iteration — md5-deterministic
# ---------------------------------------------------------------------------

_KPP_K = 4
_KPP_EPS = 1e-300  # guards ln(u)/dist2 at already-chosen points


def _kpp_oracle() -> str:
    u = lambda r: (  # noqa: E731
        "CAST("
        + _md5_sql(f"'kpp{r}|' || CAST(rid AS VARCHAR)")
        + f" AS DOUBLE) / {_MD5_SCALE!r}"
    )

    def d2(j):
        return f"((zx - c{j}x) * (zx - c{j}x) + (zy - c{j}y) * (zy - c{j}y))"

    sels = []
    prev = []
    for k in range(2, _KPP_K + 1):
        dist = "LEAST(" + ", ".join(d2(j) for j in prev_all) + ")" if (
            prev_all := list(range(1, k))
        ) else ""
        sels.append(f"""
    sel{k} AS (
      SELECT max_by(zx, LN({u(k)}) / GREATEST({dist}, {_KPP_EPS!r}))
               AS c{k}x,
             max_by(zy, LN({u(k)}) / GREATEST({dist}, {_KPP_EPS!r}))
               AS c{k}y
      FROM pts CROSS JOIN st{k - 1}
    ),
    st{k} AS (SELECT * FROM st{k - 1} CROSS JOIN sel{k})""")
    all_d2 = [d2(j) for j in range(1, _KPP_K + 1)]
    label = "CASE " + " ".join(
        f"WHEN {all_d2[j - 1]} <= LEAST({', '.join(all_d2)}) THEN {j}"
        for j in range(1, _KPP_K + 1)
    ) + " END"
    mind = f"LEAST({', '.join(all_d2)})"
    return f"""
    WITH src0 AS (
      SELECT l_orderkey * 8 + l_linenumber AS rid0,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    src AS MATERIALIZED (
      SELECT rid0 * 32 + ROW_NUMBER() OVER (PARTITION BY rid0
                                            ORDER BY x, y) AS rid,
             x, y
      FROM src0
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM src
    ),
    stt AS (
      SELECT sx / n AS mx, sy / n AS my,
             SQRT(sxx / n - (sx / n) * (sx / n)) AS sdx,
             SQRT(syy / n - (sy / n) * (sy / n)) AS sdy
      FROM mom
    ),
    pts AS MATERIALIZED (
      SELECT rid, (x - mx) / sdx AS zx, (y - my) / sdy AS zy
      FROM src CROSS JOIN stt
    ),
    sel1 AS (
      SELECT max_by(zx, LN({u(1)})) AS c1x,
             max_by(zy, LN({u(1)})) AS c1y
      FROM pts
    ),
    st1 AS (SELECT * FROM sel1),
    {",".join(sels)},
    assigned AS (
      SELECT {label} AS k, zx, zy, {mind} AS md
      FROM pts CROSS JOIN st{_KPP_K}
    ),
    news AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_assigned,
             SUM(zx) / COUNT(*) AS new_cx,
             SUM(zy) / COUNT(*) AS new_cy,
             SUM(md) AS sse_cluster
      FROM assigned GROUP BY k
    ),
    inits AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS k, c{j}x AS init_cx, c{j}y AS init_cy "
          f"FROM st{_KPP_K}" for j in range(1, _KPP_K + 1))}
    )
    SELECT i.k, i.init_cx, i.init_cy, n.n_assigned, n.new_cx, n.new_cy,
           n.sse_cluster
    FROM inits i JOIN news n USING (k) ORDER BY i.k
    """


@query("ml_kmeans_plusplus_lloyd", oracle=_kpp_oracle())
def ml_kmeans_plusplus_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means++ initialization (k={_KPP_K}) plus ONE Lloyd
    iteration over standardized (quantity, price) — the distributed
    clustering bootstrap, fully oracle-checked because the D²-weighted
    sampling is derandomized with the Efraimidis–Spirakis key
    ln(u)/D² on md5 uniforms (argmax ≡ sampling with probability ∝
    D²; a fresh salt per round keeps draws independent; the argmax
    seed id is made row-UNIQUE first — the synthetic lineitem reuses
    (orderkey, linenumber) pairs, so a deterministic dedup rank over
    (x, y) within each collided id disambiguates the hash input;
    identical full duplicates keep identical coordinates either way). Already-
    chosen points have D²=0 → key −∞ via the epsilon guard, so they
    can never be re-picked.

    Plan shape: standardization is one moment aggregate; each ++
    round is ONE max_by aggregate over the scan with the tiny center
    state cross-joined in (k passes total — inherent to k-means++;
    the k-means‖ oversampling variant would batch them); the Lloyd
    step is one conditional-aggregate pass. No windows, no Python,
    nothing ever collects to the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    w_dup = Window.partitionBy("rid0").orderBy("x", "y")
    src = (
        li.select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias(
                "rid0"
            ),
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
        .withColumn(
            "rid",
            F.col("rid0") * 32
            + F.row_number().over(w_dup).cast("long"),
        )
        .drop("rid0")
    )
    mom = src.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    stt = mom.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        F.sqrt(
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("sdx"),
        F.sqrt(
            F.col("syy") / F.col("n")
            - (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("sdy"),
    )
    pts = src.crossJoin(F.broadcast(stt)).select(
        "rid",
        ((F.col("x") - F.col("mx")) / F.col("sdx")).alias("zx"),
        ((F.col("y") - F.col("my")) / F.col("sdy")).alias("zy"),
    )

    def uni(r):
        return (
            kmv_value(
                F.concat(F.lit(f"kpp{r}|"), F.col("rid").cast("string"))
            ).cast("double")
            / F.lit(_MD5_SCALE)
        )

    def d2(j):
        return (F.col("zx") - F.col(f"c{j}x")) * (
            F.col("zx") - F.col(f"c{j}x")
        ) + (F.col("zy") - F.col(f"c{j}y")) * (
            F.col("zy") - F.col(f"c{j}y")
        )

    state = pts.agg(
        F.max_by("zx", F.log(uni(1))).alias("c1x"),
        F.max_by("zy", F.log(uni(1))).alias("c1y"),
    )
    for k in range(2, _KPP_K + 1):
        prior = [d2(j) for j in range(1, k)]
        dist = prior[0] if len(prior) == 1 else F.least(*prior)
        key = F.log(uni(k)) / F.greatest(dist, F.lit(_KPP_EPS))
        sel = (
            pts.crossJoin(F.broadcast(state))
            .agg(
                F.max_by("zx", key).alias(f"c{k}x"),
                F.max_by("zy", key).alias(f"c{k}y"),
            )
        )
        state = state.crossJoin(F.broadcast(sel))
    dists = [d2(j) for j in range(1, _KPP_K + 1)]
    mind = F.least(*dists)
    label = F.when(dists[0] <= mind, 1)
    for j in range(2, _KPP_K + 1):
        label = label.when(dists[j - 1] <= mind, j)
    assigned = pts.crossJoin(F.broadcast(state)).select(
        label.alias("k"), "zx", "zy", mind.alias("md")
    )
    news = assigned.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        (F.sum("zx") / F.count(F.lit(1))).alias("new_cx"),
        (F.sum("zy") / F.count(F.lit(1))).alias("new_cy"),
        F.sum("md").alias("sse_cluster"),
    )
    inits = None
    for j in range(1, _KPP_K + 1):
        part = state.select(
            F.lit(j).alias("k"),
            F.col(f"c{j}x").alias("init_cx"),
            F.col(f"c{j}y").alias("init_cy"),
        )
        inits = part if inits is None else inits.unionByName(part)
    return (
        inits.join(F.broadcast(news), "k")
        .select(
            "k",
            "init_cx",
            "init_cy",
            "n_assigned",
            "new_cx",
            "new_cy",
            "sse_cluster",
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Gaps & islands: longest consecutive-day streak per user
# ---------------------------------------------------------------------------


@query(
    "events_login_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1995-01-01' AS BIGINT) AS d
      FROM events WHERE user_id IS NOT NULL
    ),
    isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS start_d
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           MAX(len) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days,
           MIN(start_d) AS first_day
    FROM streaks GROUP BY user_id
    ORDER BY longest_streak DESC, user_id LIMIT 50
    """,
)
def events_login_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gaps-and-islands classic, distributed: longest run of
    CONSECUTIVE active days per user via the d − row_number() island
    trick (consecutive days share a constant difference, so one
    subtraction converts runs into group keys — no self-join, no
    recursion). Retention/habit metric every engagement pipeline
    ships.

    Scale posture: the distinct-day collapse happens first; the
    window partitions BY USER over each user's handful of days —
    bounded per-partition state, perfectly parallel, never a global
    sort. Top-50 by streak with key tie-break."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    days = ev.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "island", F.col("d") - F.row_number().over(w).cast("long")
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("start_d"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.sum("len").cast("long").alias("active_days"),
            F.min("start_d").alias("first_day"),
        )
        .orderBy(F.desc("longest_streak"), "user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Exact trimmed mean — order statistics without a global sort
# ---------------------------------------------------------------------------

_TRIM = 0.05  # trim fraction each tail


@query(
    "stats_trimmed_mean",
    oracle=f"""
    WITH src AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders
    ),
    counts AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY v
    ),
    cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS cumw,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n
      FROM counts
    ),
    bounds AS (
      SELECT n,
             CAST(FLOOR({_TRIM!r} * CAST(n AS DOUBLE)) AS BIGINT) AS k_lo,
             n - CAST(FLOOR({_TRIM!r} * CAST(n AS DOUBLE)) AS BIGINT)
               AS k_hi
      FROM (SELECT DISTINCT n FROM cum)
    ),
    kept AS (
      SELECT v,
             LEAST(cumw, b.k_hi)
               - GREATEST(cumw - c, b.k_lo) AS w
      FROM cum CROSS JOIN bounds b
      WHERE cumw > b.k_lo AND cumw - c < b.k_hi
    )
    SELECT (SELECT n FROM bounds) AS n_rows,
           (SELECT k_lo FROM bounds) AS n_trimmed_each_tail,
           CAST(SUM(w) AS BIGINT) AS n_kept,
           CAST(SUM(v * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
             AS trimmed_mean
    FROM kept
    """,
)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {int(_TRIM * 100)}%-each-tail trimmed mean of order
    value — the robust location estimate — computed WITHOUT sorting
    rows: distinct-value counts, a range-partitioned prefix sum over
    the value order (operators/prefix.py), then each value
    contributes the exact number of its copies that fall inside the
    rank window [k_lo, k_hi] (LEAST/GREATEST clipping handles values
    straddling a trim boundary — partial inclusion, bit-exact).
    Weighted sum stays DECIMAL until the final division. The same
    clipping identity generalizes to any exact rank-window statistic
    (winsorized mean, interquartile mean)."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v")
    )
    counts = src.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = ordered_prefix_sum(counts, [F.col("v")], "c", "cumw")
    tot = src.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = tot.select(
        "n",
        F.floor(F.lit(_TRIM) * F.col("n").cast("double"))
        .cast("long")
        .alias("k_lo"),
        (
            F.col("n")
            - F.floor(F.lit(_TRIM) * F.col("n").cast("double")).cast(
                "long"
            )
        ).alias("k_hi"),
    )
    kept = (
        cum.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("cumw") > F.col("k_lo"))
            & (F.col("cumw") - F.col("c") < F.col("k_hi"))
        )
        .select(
            "v",
            "n",
            "k_lo",
            (
                F.least(F.col("cumw"), F.col("k_hi"))
                - F.greatest(F.col("cumw") - F.col("c"), F.col("k_lo"))
            ).alias("w"),
        )
    )
    return kept.groupBy("n", "k_lo").agg(
        F.sum("w").cast("long").alias("n_kept"),
        (
            F.sum(F.col("v") * F.col("w")).cast("double")
            / F.sum("w").cast("double")
        ).alias("trimmed_mean"),
    ).select(
        F.col("n").alias("n_rows"),
        F.col("k_lo").alias("n_trimmed_each_tail"),
        "n_kept",
        "trimmed_mean",
    )


# ---------------------------------------------------------------------------
# Huber robust regression — one IRLS step in closed form
# ---------------------------------------------------------------------------

_HUBER_C = 1.345


@query(
    "ml_huber_irls_step",
    oracle=f"""
    WITH src AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM src
    ),
    fit0 AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b0,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS a0
      FROM ols
    ),
    scale AS (
      SELECT SQRT(SUM((y - a0 - b0 * x) * (y - a0 - b0 * x)) / MAX(n))
               AS sigma
      FROM src CROSS JOIN fit0
    ),
    wls AS (
      SELECT SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
             SUM(w * x * x) AS swxx, SUM(w * x * y) AS swxy
      FROM (
        SELECT x, y,
               LEAST(1.0, {_HUBER_C!r} * sigma
                          / GREATEST(ABS(y - a0 - b0 * x), 1e-300)) AS w
        FROM src CROSS JOIN fit0 CROSS JOIN scale
      )
    )
    SELECT f.n AS n_rows, f.a0, f.b0, s.sigma,
           (w.sw * w.swxy - w.swx * w.swy)
             / (w.sw * w.swxx - w.swx * w.swx) AS b1,
           (w.swy - (w.sw * w.swxy - w.swx * w.swy)
                    / (w.sw * w.swxx - w.swx * w.swx) * w.swx) / w.sw
             AS a1,
           w.sw AS sum_weights
    FROM fit0 f, scale s, wls w
    """,
)
def ml_huber_irls_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression, one IRLS step in closed form: OLS of
    price on quantity (moment aggregates), residual scale, Huber
    weights w = min(1, cσ/|r|) (c = {_HUBER_C}: full weight inside
    the band, downweighted beyond — outliers stop dragging the fit),
    then weighted least squares from weighted moments. Three scans,
    every stage a map-side-combined aggregate + broadcast of a 1-row
    state — the whole robust-regression iteration with no Python and
    nothing driver-side; production iterates the same step to
    convergence, each iteration this exact plan."""
    src = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    ols = src.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b0 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit0 = ols.select(
        "n",
        b0.alias("b0"),
        ((F.col("sy") - b0 * F.col("sx")) / F.col("n")).alias("a0"),
    )
    resid = F.col("y") - F.col("a0") - F.col("b0") * F.col("x")
    scale = (
        src.crossJoin(F.broadcast(fit0))
        .agg(
            F.sqrt(F.sum(resid * resid) / F.first("n")).alias("sigma")
        )
    )
    w = F.least(
        F.lit(1.0),
        F.lit(_HUBER_C)
        * F.col("sigma")
        / F.greatest(F.abs(resid), F.lit(1e-300)),
    )
    wls = (
        src.crossJoin(F.broadcast(fit0))
        .crossJoin(F.broadcast(scale))
        .select("x", "y", w.alias("w"))
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum(F.col("w") * F.col("y")).alias("swy"),
            F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
            F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
        )
    )
    b1 = (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")) / (
        F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    )
    return (
        fit0.crossJoin(F.broadcast(scale))
        .crossJoin(F.broadcast(wls))
        .select(
            F.col("n").alias("n_rows"),
            "a0",
            "b0",
            "sigma",
            b1.alias("b1"),
            ((F.col("swy") - b1 * F.col("swx")) / F.col("sw")).alias(
                "a1"
            ),
            F.col("sw").alias("sum_weights"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (binned, exact)
# ---------------------------------------------------------------------------

_QN_BINS = 20


@query(
    "feature_quantile_normalize",
    oracle=f"""
    WITH counts AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    cum AS (
      SELECT source, n_chars, c,
             SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cumw,
             SUM(c) OVER (PARTITION BY source) AS n_s
      FROM counts
    ),
    binned AS (
      SELECT source, n_chars, c,
             LEAST(CAST(FLOOR((CAST(cumw AS DOUBLE) - CAST(c AS DOUBLE)
                               / 2.0) / CAST(n_s AS DOUBLE)
                              * {_QN_BINS}) AS BIGINT),
                   {_QN_BINS - 1}) AS ventile
      FROM cum
    ),
    src_bin AS (
      SELECT source, ventile, CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT) * c) AS DOUBLE) / SUM(c)
               AS src_mean
      FROM binned GROUP BY source, ventile
    ),
    ref AS (
      SELECT ventile, SUM(src_mean) / COUNT(*) AS ref_value
      FROM src_bin GROUP BY ventile
    )
    SELECT s.source, s.ventile, s.n_docs, s.src_mean, r.ref_value
    FROM src_bin s JOIN ref r USING (ventile)
    ORDER BY s.source, s.ventile
    """,
)
def feature_quantile_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of document lengths ACROSS sources (the
    microarray-era classic, used today to calibrate quality scores
    across crawl shards): each source's distribution is mapped onto
    the shared reference — the cross-source average of per-quantile-
    bin means — so rank structure survives but marginal distributions
    align. A document's normalized score is its bin's ref_value.

    Scale posture: ranks come from the (source, n_chars) COUNT table
    (the value domain is bounded, so the per-source window rides a
    collapsed table orders of magnitude smaller than the corpus);
    bin midpoint q = (cum − c/2)/n_s, clipped to {_QN_BINS} bins.
    The reference table is {_QN_BINS} rows — broadcast back wherever
    the mapped score is applied."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    cum = counts.select(
        "source",
        "n_chars",
        "c",
        F.sum("c").over(w_cum).alias("cumw"),
        F.sum("c").over(w_all).alias("n_s"),
    )
    binned = cum.select(
        "source",
        "n_chars",
        "c",
        F.least(
            F.floor(
                (
                    F.col("cumw").cast("double")
                    - F.col("c").cast("double") / 2.0
                )
                / F.col("n_s").cast("double")
                * _QN_BINS
            ).cast("long"),
            F.lit(_QN_BINS - 1).cast("long"),
        ).alias("ventile"),
    )
    src_bin = binned.groupBy("source", "ventile").agg(
        F.sum("c").cast("long").alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("long") * F.col("c")).cast(
                "double"
            )
            / F.sum("c")
        ).alias("src_mean"),
    )
    ref = src_bin.groupBy("ventile").agg(
        (F.sum("src_mean") / F.count(F.lit(1))).alias("ref_value")
    )
    return (
        src_bin.join(F.broadcast(ref), "ventile")
        .select("source", "ventile", "n_docs", "src_mean", "ref_value")
        .orderBy("source", "ventile")
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (SPRT) over the event stream
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.18
_SPRT_P1 = 0.22
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.2
import math as _math  # noqa: E402

_SPRT_LW = _math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_LL = _math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
_SPRT_UP = _math.log((1.0 - _SPRT_BETA) / _SPRT_ALPHA)
_SPRT_LO = _math.log(_SPRT_BETA / (1.0 - _SPRT_ALPHA))


@query(
    "ab_test_sprt",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1995-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY 1
    ),
    walk AS (
      SELECT d, n, conv,
             SUM(CAST(conv AS DOUBLE) * {_SPRT_LW!r}
                 + CAST(n - conv AS DOUBLE) * {_SPRT_LL!r})
               OVER (ORDER BY d) AS cum_llr
      FROM daily
    )
    SELECT d, n, conv, cum_llr,
           CASE WHEN cum_llr >= {_SPRT_UP!r} THEN 'accept_h1'
                WHEN cum_llr <= {_SPRT_LO!r} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk ORDER BY d
    """,
)
def ab_test_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test on the daily purchase
    rate: the cumulative log-likelihood ratio for H1 (p={_SPRT_P1})
    vs H0 (p={_SPRT_P0}) walks day by day, and the experiment STOPS
    the first day it crosses ln((1−β)/α) above or ln(β/(1−α)) below
    — the always-valid alternative to fixed-horizon testing that the
    ab_test_cuped / diff-in-diff family doesn't cover (peeking is
    legal by construction).

    Scale posture: the corpus collapses to one row per day (map-side
    combined counts); the running LLR is a window over the tiny daily
    series (at many-experiment scale the window partitions by
    experiment id). All four SPRT constants are shared repr()'d
    double literals, so the walk is cross-engine bit-exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.withColumn(
        "cum_llr",
        F.sum(
            F.col("conv").cast("double") * F.lit(_SPRT_LW)
            + (F.col("n") - F.col("conv")).cast("double")
            * F.lit(_SPRT_LL)
        ).over(w),
    )
    return walk.select(
        "d",
        "n",
        "conv",
        "cum_llr",
        F.when(F.col("cum_llr") >= _SPRT_UP, "accept_h1")
        .when(F.col("cum_llr") <= _SPRT_LO, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Incremental view maintenance — join-view delta rules
# ---------------------------------------------------------------------------


@query(
    "ivm_join_delta",
    oracle="""
    WITH o0 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
    d_o AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
    c0 AS (SELECT * FROM customer WHERE c_custkey % 20 <> 0),
    d_c AS (SELECT * FROM customer WHERE c_custkey % 20 = 0),
    v0 AS (
      SELECT c_nationkey AS nk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM o0 JOIN c0 ON o_custkey = c_custkey GROUP BY 1
    ),
    dv AS (
      SELECT nk, CAST(SUM(rev) AS DECIMAL(38,2)) AS rev,
             CAST(SUM(n) AS BIGINT) AS n
      FROM (
        SELECT c_nationkey AS nk,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS rev,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM d_o JOIN c0 ON o_custkey = c_custkey GROUP BY 1
        UNION ALL
        SELECT c_nationkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)),
               CAST(COUNT(*) AS BIGINT)
        FROM o0 JOIN d_c ON o_custkey = c_custkey GROUP BY 1
        UNION ALL
        SELECT c_nationkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)),
               CAST(COUNT(*) AS BIGINT)
        FROM d_o JOIN d_c ON o_custkey = c_custkey GROUP BY 1
      ) GROUP BY nk
    ),
    maintained AS (
      SELECT COALESCE(v0.nk, dv.nk) AS nk,
             CAST(COALESCE(v0.rev, 0) + COALESCE(dv.rev, 0)
                  AS DECIMAL(38,2)) AS m_rev,
             COALESCE(v0.n, 0) + COALESCE(dv.n, 0) AS m_n
      FROM v0 FULL OUTER JOIN dv ON v0.nk = dv.nk
    ),
    recomputed AS (
      SELECT c_nationkey AS nk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS r_rev,
             CAST(COUNT(*) AS BIGINT) AS r_n
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
    )
    SELECT n_name, m.m_rev AS maintained_rev, r.r_rev AS recomputed_rev,
           m.m_n AS maintained_n, r.r_n AS recomputed_n,
           CASE WHEN m.m_rev = r.r_rev AND m.m_n = r.r_n
                THEN 1 ELSE 0 END AS matches
    FROM maintained m JOIN recomputed r USING (nk)
    JOIN nation ON nk = n_nationkey
    ORDER BY n_name
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view under inserts
    on BOTH sides, by the classic delta rules: for V = γ(O ⋈ C),
    ΔV = γ(ΔO⋈C₀) ⊎ γ(O₀⋈ΔC) ⊎ γ(ΔO⋈ΔC) — the cross term is the one
    naive implementations forget, and the one this query would fail
    without (orders of NEW customers arriving in the same batch).
    The query is self-auditing: the maintained view and a full
    recompute are emitted side by side with an exact-DECIMAL equality
    flag — `matches = 1` on every row IS the delta-rule proof.

    At 100 TB this is the nightly-pipeline pattern that replaces
    full view rebuilds: the three delta joins touch only
    |Δ|-proportional data (the Δ sides broadcast when small), while
    the recompute side — shipped here only as the in-query oracle —
    is the full-scan cost being avoided. Companion to
    incremental_agg_merge (aggregate views) and the lake CDC family
    (storage-side deltas)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o0 = orders.filter(F.col("o_orderkey") % 10 != 0)
    d_o = orders.filter(F.col("o_orderkey") % 10 == 0)
    c0 = cust.filter(F.col("c_custkey") % 20 != 0)
    d_c = cust.filter(F.col("c_custkey") % 20 == 0)

    def gamma(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nk"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,2)")
                .alias("rev"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )

    v0 = gamma(o0, c0)
    dv = (
        gamma(d_o, c0)
        .unionByName(gamma(o0, d_c))
        .unionByName(gamma(d_o, d_c))
        .groupBy("nk")
        .agg(
            F.sum("rev").cast("decimal(38,2)").alias("rev"),
            F.sum("n").cast("long").alias("n"),
        )
    )
    maintained = (
        v0.withColumnRenamed("rev", "rev0")
        .withColumnRenamed("n", "n0")
        .join(
            dv.withColumnRenamed("rev", "revd").withColumnRenamed(
                "n", "nd"
            ),
            "nk",
            "full_outer",
        )
        .select(
            "nk",
            (
                F.coalesce(F.col("rev0"), F.lit(0))
                + F.coalesce(F.col("revd"), F.lit(0))
            )
            .cast("decimal(38,2)")
            .alias("m_rev"),
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("nd"), F.lit(0))
            )
            .cast("long")
            .alias("m_n"),
        )
    )
    recomputed = gamma(orders, cust).select(
        "nk",
        F.col("rev").alias("r_rev"),
        F.col("n").alias("r_n"),
    )
    return (
        maintained.join(recomputed, "nk")
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("m_rev").alias("maintained_rev"),
            F.col("r_rev").alias("recomputed_rev"),
            F.col("m_n").alias("maintained_n"),
            F.col("r_n").alias("recomputed_n"),
            F.when(
                (F.col("m_rev") == F.col("r_rev"))
                & (F.col("m_n") == F.col("r_n")),
                1,
            )
            .otherwise(0)
            .alias("matches"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Typo-recovery evaluation: planted corruptions → blocked fuzzy match
# ---------------------------------------------------------------------------

_TYPO_JW = 0.92
_TYPO_OFF = 1_000_000

def _sdx_of(expr: str) -> str:
    # portable Soundex over an arbitrary uppercase-word expression —
    # the _SOUNDEX_SQL recipe with its `w` column reference replaced
    return _SOUNDEX_SQL.replace("w,", f"{expr},").replace(
        "(w", f"({expr}"
    )


@query(
    "entity_typo_recovery_eval",
    oracle=f"""
    WITH names AS (
      SELECT p_name AS name, CAST(MIN(p_partkey) AS BIGINT) AS id
      FROM part GROUP BY p_name
    ),
    corrupted AS (
      SELECT name AS orig_name, id AS orig_id,
             substr(name, 1, CAST(k AS INTEGER))
               || substr(name, CAST(k + 2 AS INTEGER)) AS name,
             id + {_TYPO_OFF} AS id
      FROM (
        SELECT name, id,
               1 + {_md5_sql("'typo|' || name")} % (length(name) - 1)
                 AS k
        FROM names
        WHERE {_md5_sql("'pick|' || name")} % 4 = 0
      )
    ),
    pool AS (
      SELECT name, id FROM names
      UNION ALL
      SELECT name, id FROM corrupted
    ),
    keyed AS (
      SELECT name, id,
             {_sdx_of("upper(split_part(name, ' ', 1))")} AS blk
      FROM pool
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             jaro_winkler_similarity(a.name, b.name) AS jw
      FROM keyed a JOIN keyed b
        ON a.blk = b.blk AND a.id < b.id
    ),
    matched AS (
      SELECT * FROM cand WHERE jw >= {_TYPO_JW!r}
    ),
    tp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tp FROM matched
      WHERE id_b = id_a + {_TYPO_OFF}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM names) AS n_names,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM corrupted)
             AS n_corrupted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM matched) AS n_matched,
           tp.tp,
           CAST(tp.tp AS DOUBLE)
             / (SELECT COUNT(*) FROM matched) AS precision_,
           CAST(tp.tp AS DOUBLE)
             / (SELECT COUNT(*) FROM corrupted) AS recall_
    FROM tp
    """,
)
def entity_typo_recovery_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end evaluation harness for the fuzzy-matching stack:
    PLANT ground truth (md5-chosen quarter of distinct part names
    gets one md5-positioned character dropped), run the production
    cascade — soundex blocking on the first token, then Jaro–Winkler
    ≥ {_TYPO_JW} on survivors — and score it against the planted
    pairs: precision and recall come out of the query itself. This
    is the "measure your dedup before trusting it" tool; both the
    corruption and the cascade are cross-engine deterministic (the
    oracle runs DuckDB's NATIVE jaro_winkler_similarity against our
    from-scratch UDF, and the portable-SQL soundex against Spark's
    native one — double function parity inside an eval harness).

    Scale: everything downstream of the distinct-name collapse is
    vocabulary-sized; blocking bounds the quadratic term exactly as
    in entity_jaro_winkler_pairs."""
    from etl_lens_spark.functions.strsim import jaro_winkler_udf

    jw_udf = jaro_winkler_udf()
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.min("p_partkey").cast("long").alias("id"))
    )
    k = 1 + kmv_value(F.concat(F.lit("typo|"), F.col("name"))) % (
        F.length("name") - 1
    )
    corrupted = (
        names.filter(
            kmv_value(F.concat(F.lit("pick|"), F.col("name"))) % 4 == 0
        )
        .withColumn("k", k.cast("int"))
        .select(
            F.concat(
                F.expr("substring(name, 1, k)"),
                F.expr("substring(name, k + 2)"),
            ).alias("name"),
            (F.col("id") + _TYPO_OFF).alias("id"),
        )
    )
    pool = names.select("name", "id").unionByName(corrupted)
    keyed = pool.withColumn(
        "blk", F.soundex(F.upper(F.split_part(F.col("name"), F.lit(" "), F.lit(1))))
    )
    a = keyed.select(
        F.col("name").alias("na"), F.col("id").alias("id_a"), "blk"
    )
    b = keyed.select(
        F.col("name").alias("nb"), F.col("id").alias("id_b"), "blk"
    )
    cand = a.join(
        b.withColumnRenamed("blk", "blk_b"),
        (F.col("blk") == F.col("blk_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).select(
        "id_a", "id_b", jw_udf(F.col("na"), F.col("nb")).alias("jw")
    )
    matched = cand.filter(F.col("jw") >= _TYPO_JW)
    n_names = names.agg(F.count(F.lit(1)).cast("long").alias("n_names"))
    n_corr = corrupted.agg(
        F.count(F.lit(1)).cast("long").alias("n_corrupted")
    )
    n_cand = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    n_match = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched")
    )
    tp = matched.filter(
        F.col("id_b") == F.col("id_a") + _TYPO_OFF
    ).agg(F.count(F.lit(1)).cast("long").alias("tp"))
    return (
        n_names.crossJoin(F.broadcast(n_corr))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_match))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_names",
            "n_corrupted",
            "n_candidates",
            "n_matched",
            "tp",
            (
                F.col("tp").cast("double") / F.col("n_matched")
            ).alias("precision_"),
            (
                F.col("tp").cast("double") / F.col("n_corrupted")
            ).alias("recall_"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR over per-nation mean tests
# ---------------------------------------------------------------------------

_BH_Q = 0.10
# Abramowitz & Stegun 7.1.26 erf approximation (|err| < 1.5e-7) —
# elementary arithmetic only, so both engines evaluate the identical
# expression; fine for p-values feeding a rank procedure
_AS_P = 0.3275911
_AS_A = [0.254829592, -0.284496736, 1.421413741, -1.453152027,
         1.061405429]


def _phi_tail_sql(z: str) -> str:
    # 2·(1 − Φ(|z|)) = erfc(|z|/√2), via A&S 7.1.26 on x = |z|/√2
    x = f"(ABS({z}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + {_AS_P!r} * {x}))"
    poly = (
        f"((((({_AS_A[4]!r} * {t} + {_AS_A[3]!r}) * {t} + {_AS_A[2]!r})"
        f" * {t} + {_AS_A[1]!r}) * {t} + {_AS_A[0]!r}) * {t})"
    )
    return f"({poly} * EXP(-({x} * {x})))"


@query(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CAST(o_totalprice AS DOUBLE)) AS s,
             SUM(CAST(o_totalprice AS DOUBLE)
                 * CAST(o_totalprice AS DOUBLE)) AS ss
      FROM orders
    ),
    gs AS (
      SELECT s / n AS mu, SQRT(ss / n - (s / n) * (s / n)) AS sd FROM g
    ),
    per AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DOUBLE)) / COUNT(*) AS mean_n
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    tests AS (
      SELECT n_name, n_orders,
             (mean_n - gs.mu)
               / (gs.sd / SQRT(CAST(n_orders AS DOUBLE))) AS z
      FROM per, gs
    ),
    pvals AS (
      SELECT n_name, n_orders, z, {_phi_tail_sql("z")} AS p
      FROM tests
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p, n_name) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM pvals
    ),
    kmax AS (
      SELECT COALESCE(MAX(rk), 0) AS k FROM ranked
      WHERE p <= {_BH_Q!r} * CAST(rk AS DOUBLE) / CAST(m AS DOUBLE)
    )
    SELECT n_name, n_orders, z, p, CAST(rk AS BIGINT) AS rk,
           {_BH_Q!r} * CAST(rk AS DOUBLE) / CAST(m AS DOUBLE)
             AS bh_threshold,
           CASE WHEN rk <= (SELECT k FROM kmax) THEN 1 ELSE 0 END
             AS rejected
    FROM ranked ORDER BY rk
    """,
)
def stats_benjamini_hochberg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiple-testing control for the experimentation family: a
    per-nation z-test of mean order value against the global mean,
    then the Benjamini–Hochberg step-up — reject every hypothesis
    ranked ≤ the largest k with p_k ≤ k·q/m (q = {_BH_Q}) — which
    bounds the FALSE DISCOVERY RATE across all 25 simultaneous
    tests, the error that running 25 naive t-tests at α=.05 doesn't
    control. p-values via the Abramowitz–Stegun 7.1.26 erfc
    approximation (elementary arithmetic with shared literals — no
    engine-specific erf, so the oracle is bit-exact).

    Scale posture: moments per group + one global moment pass; the
    BH sort/rank runs over the m-row test table (25 rows — at
    thousands of experiments still trivially small), never over
    row-scale data."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    v = F.col("o_totalprice").cast("double")
    g = orders.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    ).select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("ss") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("sd"),
    )
    per = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(v) / F.count(F.lit(1))).alias("mean_n"),
        )
    )
    tests = per.crossJoin(F.broadcast(g)).select(
        "n_name",
        "n_orders",
        (
            (F.col("mean_n") - F.col("mu"))
            / (F.col("sd") / F.sqrt(F.col("n_orders").cast("double")))
        ).alias("z"),
    )
    x = F.abs(F.col("z")) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        (
            (
                (F.lit(_AS_A[4]) * t + F.lit(_AS_A[3])) * t
                + F.lit(_AS_A[2])
            )
            * t
            + F.lit(_AS_A[1])
        )
        * t
        + F.lit(_AS_A[0])
    ) * t
    pvals = tests.withColumn("p", poly * F.exp(-(x * x)))
    w = Window.orderBy("p", "n_name")
    ranked = pvals.select(
        "n_name",
        "n_orders",
        "z",
        "p",
        F.row_number().over(w).cast("long").alias("rk"),
    ).crossJoin(
        F.broadcast(
            pvals.agg(F.count(F.lit(1)).cast("long").alias("m"))
        )
    )
    thr = F.lit(_BH_Q) * F.col("rk").cast("double") / F.col(
        "m"
    ).cast("double")
    kmax = (
        ranked.filter(F.col("p") <= thr)
        .agg(F.coalesce(F.max("rk"), F.lit(0)).alias("k"))
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "n_name",
            "n_orders",
            "z",
            "p",
            "rk",
            thr.alias("bh_threshold"),
            F.when(F.col("rk") <= F.col("k"), 1)
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (companion to Kaplan–Meier)
# ---------------------------------------------------------------------------


@query(
    "survival_nelson_aalen",
    oracle="""
    WITH bounds AS (SELECT MAX(ts) AS tmax FROM events),
    per_user AS (
        SELECT e.user_id,
               MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS first_us,
               MIN(CASE WHEN e.event_type = 'purchase'
                   THEN epoch_us(CAST(e.ts AS TIMESTAMP)) END)
                 AS purch_us,
               MAX(epoch_us(CAST(b.tmax AS TIMESTAMP))) AS tmax_us
        FROM events e CROSS JOIN bounds b
        GROUP BY e.user_id
    ),
    obs AS (
        SELECT user_id,
               CASE WHEN purch_us IS NOT NULL
                    THEN (purch_us - first_us) // 86400000000
                    ELSE (tmax_us - first_us) // 86400000000
               END AS t_days,
               CAST(purch_us IS NOT NULL AS INT) AS is_event
        FROM per_user
    ),
    times AS (
        SELECT t_days,
               CAST(SUM(is_event) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM obs GROUP BY t_days
    ),
    risk AS (
        SELECT t_days, d, leaving,
               (SELECT COUNT(*) FROM obs) -
               COALESCE(SUM(leaving) OVER (
                   ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS n_risk
        FROM times
    )
    SELECT t_days, d, CAST(n_risk AS BIGINT) AS n_risk,
           ROUND(SUM(CASE WHEN d > 0
                          THEN CAST(d AS DOUBLE) / n_risk
                          ELSE 0.0 END)
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cum_hazard
    FROM risk WHERE d > 0 ORDER BY t_days
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator H(t) = Σ d_i/n_i over
    the same right-censored time-to-first-purchase construction as
    survival_kaplan_meier — the additive companion to KM's product
    (H ≈ −ln S for small hazards; plotting both is the standard
    model-check). Same scale posture: per-user collapse, event-time
    table is tiny, the risk-set window rides distinct times only."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.max("ts").alias("tmax"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.min(us).alias("first_us"),
            F.min(
                F.when(F.col("event_type") == "purchase", us)
            ).alias("purch_us"),
            F.max(F.unix_micros(F.col("tmax"))).alias("tmax_us"),
        )
    )
    obs = per_user.select(
        F.when(
            F.col("purch_us").isNotNull(),
            F.floor(
                (F.col("purch_us") - F.col("first_us")) / 86400000000
            ),
        )
        .otherwise(
            F.floor(
                (F.col("tmax_us") - F.col("first_us")) / 86400000000
            )
        )
        .cast("long")
        .alias("t_days"),
        F.col("purch_us").isNotNull().cast("int").alias("is_event"),
    )
    times = obs.groupBy("t_days").agg(
        F.sum("is_event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    n_tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = times.crossJoin(F.broadcast(n_tot)).withColumn(
        "n_risk",
        F.col("n_tot")
        - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        risk.withColumn(
            "cum_hazard",
            F.round(
                F.sum(
                    F.when(
                        F.col("d") > 0,
                        F.col("d").cast("double") / F.col("n_risk"),
                    ).otherwise(0.0)
                ).over(w_cum),
                6,
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            "t_days",
            "d",
            F.col("n_risk").cast("long").alias("n_risk"),
            "cum_hazard",
        )
        .orderBy("t_days")
    )


# ---------------------------------------------------------------------------
# Panel fixed-effects (within) estimator
# ---------------------------------------------------------------------------


@query(
    "stats_panel_fixed_effects",
    oracle="""
    WITH panel AS (
      SELECT c_nationkey AS nk,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             CAST(o_totalprice AS DOUBLE) AS y,
             CAST(EXTRACT(month FROM o_orderdate) AS DOUBLE) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cell AS (
      SELECT nk, yr, AVG(y) AS my, AVG(x) AS mx FROM panel
      GROUP BY nk, yr
    ),
    within AS (
      SELECT p.y - c.my AS dy, p.x - c.mx AS dx
      FROM panel p JOIN cell c USING (nk, yr)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cell) AS n_groups,
           SUM(dx * dy) / SUM(dx * dx) AS beta_within,
           (SELECT (CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
                    - SUM(x) * SUM(y))
                   / (CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
                      - SUM(x) * SUM(x))
            FROM panel) AS beta_pooled
    FROM within
    """,
)
def stats_panel_fixed_effects(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Panel fixed-effects (within) estimator: order value regressed
    on order month with nation×year fixed effects absorbed by the
    within-transform — demean y and x inside each (nation, year)
    cell, then OLS on the residuals; β_within is identical to
    including thousands of dummy variables but costs one groupBy +
    one join + one aggregate. The pooled β is emitted alongside: the
    gap between them is exactly the omitted-group-effect bias the FE
    design removes — the econometrics companion to
    ab_test_diff_in_diff.

    Scale posture: cell means are a map-side-combined aggregate; the
    demeaning join broadcasts the cell table when it fits and hash-
    partitions otherwise; the final sums are one pass. Standard at
    any panel width because nothing materializes dummies."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    panel = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("o_totalprice").cast("double").alias("y"),
            F.month("o_orderdate").cast("double").alias("x"),
        )
    )
    cell = panel.groupBy("nk", "yr").agg(
        F.avg("y").alias("my"), F.avg("x").alias("mx")
    )
    within = panel.join(F.broadcast(cell), ["nk", "yr"]).select(
        (F.col("y") - F.col("my")).alias("dy"),
        (F.col("x") - F.col("mx")).alias("dx"),
    )
    n_groups = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups")
    )
    pooled = panel.agg(
        (
            (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("x") * F.col("y"))
                - F.sum("x") * F.sum("y")
            )
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x")
            )
        ).alias("beta_pooled")
    )
    return (
        within.agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            (
                F.sum(F.col("dx") * F.col("dy"))
                / F.sum(F.col("dx") * F.col("dx"))
            ).alias("beta_within"),
        )
        .crossJoin(F.broadcast(n_groups))
        .crossJoin(F.broadcast(pooled))
        .select("n_obs", "n_groups", "beta_within", "beta_pooled")
    )


# ---------------------------------------------------------------------------
# Empirical tail dependence (copula diagnostics)
# ---------------------------------------------------------------------------

_TAIL_Q = 0.95


@query(
    "stats_tail_dependence",
    oracle=f"""
    WITH src AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
    qx AS (
      SELECT MIN(x) AS qx FROM (
        SELECT x, SUM(c) OVER (ORDER BY x) AS cumw FROM
          (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY x)
      ), nq
      WHERE cumw >= CAST(CEIL({_TAIL_Q!r} * CAST(n AS DOUBLE)) AS BIGINT)
    ),
    qy AS (
      SELECT MIN(y) AS qy FROM (
        SELECT y, SUM(c) OVER (ORDER BY y) AS cumw FROM
          (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY y)
      ), nq
      WHERE cumw >= CAST(CEIL({_TAIL_Q!r} * CAST(n AS DOUBLE)) AS BIGINT)
    )
    SELECT (SELECT n FROM nq) AS n_rows,
           (SELECT qx FROM qx) AS x_q95,
           (SELECT qy FROM qy) AS y_q95,
           CAST(SUM(CASE WHEN x > (SELECT qx FROM qx)
                          AND y > (SELECT qy FROM qy)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_joint,
           CAST(SUM(CASE WHEN y > (SELECT qy FROM qy)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_y_tail,
           CAST(SUM(CASE WHEN x > (SELECT qx FROM qx)
                          AND y > (SELECT qy FROM qy)
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN y > (SELECT qy FROM qy)
                        THEN 1 ELSE 0 END) AS lambda_upper,
           CAST(1.0 - {_TAIL_Q!r} AS DOUBLE) AS independence_baseline
    FROM src
    """,
)
def stats_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ_U = P(X > q_x | Y > q_y) at
    the {_TAIL_Q} quantiles — the copula diagnostic that says whether
    extremes CO-OCCUR (risk concentrates) or decouple; correlation
    alone cannot distinguish the two. Emitted next to the
    independence baseline 1−q: λ_U far above it means joint-tail
    risk. Thresholds are exact nearest-rank order statistics via the
    distinct-value prefix pattern (no approx sketch, no global sort);
    the tail counts are one conditional-aggregate pass."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    src = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    n = src.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def q_of(col: str, out: str) -> DataFrame:
        counts = src.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        cum = ordered_prefix_sum(counts, [F.col(col)], "c", "cumw")
        return (
            cum.crossJoin(F.broadcast(n))
            .filter(
                F.col("cumw")
                >= F.ceil(
                    F.lit(_TAIL_Q) * F.col("n").cast("double")
                ).cast("long")
            )
            .agg(F.min(col).alias(out))
        )

    qx = q_of("x", "x_q95")
    qy = q_of("y", "y_q95")
    joint = (
        src.crossJoin(F.broadcast(qx))
        .crossJoin(F.broadcast(qy))
        .agg(
            F.sum(
                F.when(
                    (F.col("x") > F.col("x_q95"))
                    & (F.col("y") > F.col("y_q95")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_joint"),
            F.sum(
                F.when(F.col("y") > F.col("y_q95"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_y_tail"),
            F.first("x_q95").alias("x_q95"),
            F.first("y_q95").alias("y_q95"),
        )
    )
    return joint.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_rows"),
        "x_q95",
        "y_q95",
        "n_joint",
        "n_y_tail",
        (
            F.col("n_joint").cast("double") / F.col("n_y_tail")
        ).alias("lambda_upper"),
        F.lit(1.0 - _TAIL_Q).alias("independence_baseline"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution — power iteration on the tiny matrix
# ---------------------------------------------------------------------------

_MSTAT_ITERS = 10


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS nxt
      FROM events WHERE user_id IS NOT NULL
    ),
    trans AS (
      SELECT event_type AS s, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    p AS MATERIALIZED (
      SELECT s, t, CAST(c AS DOUBLE)
                   / SUM(CAST(c AS DOUBLE)) OVER (PARTITION BY s) AS p
      FROM trans
    ),
    states AS (SELECT DISTINCT s FROM p),
    it0 AS (
      SELECT s, 1.0 / (SELECT COUNT(*) FROM states) AS v FROM states
    ),
    {", ".join(
        f'''it{k} AS (
      SELECT p.t AS s, SUM(it{k - 1}.v * p.p) AS v
      FROM it{k - 1} JOIN p ON p.s = it{k - 1}.s
      GROUP BY p.t
    )''' for k in range(1, _MSTAT_ITERS + 1))}
    SELECT s AS event_type, v AS stationary_p
    FROM it{_MSTAT_ITERS} ORDER BY s
    """,
)
def events_markov_stationary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the user event-transition Markov
    chain by {_MSTAT_ITERS} power-iteration steps (held below a measured DuckDB optimizer cliff at ~12 chained CTEs) πᵀP — the
    steady-state answer to "where does user behavior settle" that the
    removal-effect attribution (events_attribution_markov) and the
    one-step transition matrix don't give. The iteration runs on the
    |states|² probability matrix — data-volume-INDEPENDENT after the
    one transition-counting pass — so the driver loop multiplies a
    5-row vector, and the oracle unrolls the identical schedule as
    chained CTEs. Convergence (π after k vs k−1 steps) is pinned in
    tests."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    ws = Window.partitionBy("s")
    p = trans.select(
        "s",
        "t",
        (
            F.col("c").cast("double")
            / F.sum(F.col("c").cast("double")).over(ws)
        ).alias("p"),
    ).transform(stage, "markov_transitions")
    states = p.select("s").distinct()
    n_states = states.count()
    pi = states.select("s", F.lit(1.0 / n_states).alias("v"))
    for _ in range(_MSTAT_ITERS):
        pi = (
            pi.join(p, "s")
            .groupBy(F.col("t").alias("s2"))
            .agg(F.sum(F.col("v") * F.col("p")).alias("v"))
            .withColumnRenamed("s2", "s")
        )
    return pi.select(
        F.col("s").alias("event_type"), F.col("v").alias("stationary_p")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Peaks-over-threshold GPD tail fit (method of moments)
# ---------------------------------------------------------------------------

_POT_Q = 0.9


@query(
    "stats_gpd_peaks_over_threshold",
    oracle=f"""
    WITH src AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
    ),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
    thr AS (
      SELECT MIN(v) AS u FROM (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cumw FROM
          (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY v)
      ), nq
      WHERE cumw >= CAST(CEIL({_POT_Q!r} * CAST(n AS DOUBLE)) AS BIGINT)
    ),
    exc AS (
      SELECT v - t.u AS e FROM src, thr t WHERE v > t.u
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exc,
             SUM(e) / COUNT(*) AS m,
             SUM(e * e) / COUNT(*)
               - (SUM(e) / COUNT(*)) * (SUM(e) / COUNT(*)) AS s2
      FROM exc
    )
    SELECT (SELECT u FROM thr) AS threshold, n_exc, m AS mean_excess,
           0.5 * (1.0 - m * m / s2) AS xi_hat,
           0.5 * m * (m * m / s2 + 1.0) AS beta_hat
    FROM mom
    """,
)
def stats_gpd_peaks_over_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Extreme-value tail modelling: excesses over the exact
    {_POT_Q}-quantile threshold fitted to a Generalized Pareto by
    method of moments — ξ̂ = ½(1 − m²/s²), β̂ = ½m(m²/s² + 1) — the
    Pickands–Balkema–de Haan route to tail risk that complements the
    Hill index (stats_tail_index_hill fits the shape from order
    statistics; this fits shape AND scale from the excess moments,
    and ξ ≈ 1/Hill-α on heavy tails). Threshold via the exact
    prefix-rank pattern; excess moments are one pass."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    n = src.agg(F.count(F.lit(1)).cast("long").alias("n"))
    counts = src.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = ordered_prefix_sum(counts, [F.col("v")], "c", "cumw")
    thr = (
        cum.crossJoin(F.broadcast(n))
        .filter(
            F.col("cumw")
            >= F.ceil(F.lit(_POT_Q) * F.col("n").cast("double")).cast(
                "long"
            )
        )
        .agg(F.min("v").alias("u"))
    )
    exc = (
        src.crossJoin(F.broadcast(thr))
        .filter(F.col("v") > F.col("u"))
        .select((F.col("v") - F.col("u")).alias("e"), "u")
    )
    mom = exc.agg(
        F.count(F.lit(1)).cast("long").alias("n_exc"),
        (F.sum("e") / F.count(F.lit(1))).alias("m"),
        (
            F.sum(F.col("e") * F.col("e")) / F.count(F.lit(1))
            - (F.sum("e") / F.count(F.lit(1)))
            * (F.sum("e") / F.count(F.lit(1)))
        ).alias("s2"),
        F.first("u").alias("threshold"),
    )
    return mom.select(
        "threshold",
        "n_exc",
        F.col("m").alias("mean_excess"),
        (
            0.5 * (F.lit(1.0) - F.col("m") * F.col("m") / F.col("s2"))
        ).alias("xi_hat"),
        (
            0.5
            * F.col("m")
            * (F.col("m") * F.col("m") / F.col("s2") + F.lit(1.0))
        ).alias("beta_hat"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout algebra vs Z-order — locality measured in-query
# ---------------------------------------------------------------------------

_HILB_BITS = 8  # 256 x 256 grid


def _hilbert_sql() -> str:
    # unrolled xy2d (classic rot-and-accumulate), one CTE per bit —
    # pure CASE/arithmetic, identical in both engines
    ctes = []
    prev = "grid"
    for i, s in enumerate([2 ** b for b in range(_HILB_BITS - 1, -1, -1)]):
        k = f"h{i + 1}"
        ctes.append(f"""
    {k} AS (
      SELECT gx, gy,
             d + {s * s} * (CASE WHEN rx = 1 AND ry = 0 THEN 3
                                 WHEN rx = 1 AND ry = 1 THEN 2
                                 WHEN rx = 0 AND ry = 1 THEN 1
                                 ELSE 0 END) AS d,
             CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - ym
                  WHEN ry = 0 THEN ym ELSE xm END AS x,
             CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - xm
                  WHEN ry = 0 THEN xm ELSE ym END AS y
      FROM (
        SELECT gx, gy, d,
               CASE WHEN (x // {s}) % 2 = 1 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y // {s}) % 2 = 1 THEN 1 ELSE 0 END AS ry,
               x % {s} AS xm, y % {s} AS ym
        FROM {prev}
      )
    )""")
        prev = k
    return ",".join(ctes), prev


_HILB_CTES, _HILB_LAST = _hilbert_sql()
_ZORDER_SQL = " + ".join(
    f"((gx // {2 ** b}) % 2) * {2 * 4 ** b} + ((gy // {2 ** b}) % 2) * {4 ** b}"
    for b in range(_HILB_BITS)
)


@query(
    "lake_hilbert_vs_zorder_locality",
    oracle=f"""
    WITH grid AS (
      SELECT ux.x AS gx, uy.y AS gy,
             CAST(0 AS BIGINT) AS d, ux.x AS x, uy.y AS y
      FROM (SELECT unnest(range({2 ** _HILB_BITS})) AS x) ux,
           (SELECT unnest(range({2 ** _HILB_BITS})) AS y) uy
    ),
    {_HILB_CTES},
    idx AS (
      SELECT 'hilbert' AS curve, gx, gy, d AS ix FROM {_HILB_LAST}
      UNION ALL
      SELECT 'zorder', gx, gy, CAST({_ZORDER_SQL} AS BIGINT) FROM grid
      UNION ALL
      SELECT 'row_major', gx, gy,
             CAST(gy * {2 ** _HILB_BITS} + gx AS BIGINT) FROM grid
    ),
    stepped AS (
      SELECT curve,
             ABS(gx - LAG(gx) OVER (PARTITION BY curve ORDER BY ix))
             + ABS(gy - LAG(gy) OVER (PARTITION BY curve ORDER BY ix))
               AS step
      FROM idx
    )
    SELECT i.curve,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT i.ix) AS BIGINT) AS n_distinct_index,
           (SELECT SUM(CAST(step AS DOUBLE)) / COUNT(step)
            FROM stepped s WHERE s.curve = i.curve) AS avg_step,
           (SELECT CAST(MAX(step) AS BIGINT)
            FROM stepped s WHERE s.curve = i.curve) AS max_step
    FROM idx i GROUP BY i.curve ORDER BY i.curve
    """,
)
def lake_hilbert_vs_zorder_locality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hilbert-curve linearization implemented in portable column
    arithmetic (the classic unrolled xy2d rot-and-accumulate, one
    stage per bit) and measured against Z-order and row-major on the
    full {2 ** _HILB_BITS}×{2 ** _HILB_BITS} grid: every curve's
    bijectivity (n_distinct_index == n_cells pins the bit algebra —
    one wrong rotation collapses indices) and its LOCALITY — the
    average Manhattan distance between consecutive cells. Hilbert's
    avg_step is exactly 1.0 (every consecutive pair is adjacent, the
    curve's defining property); Z-order pays its discontinuity seams.
    This is the measured justification for upgrading
    operators/layout.py's Z-order clustering to Hilbert at 100 TB —
    tighter file bounding boxes ⇒ better min/max data skipping —
    with the index math proven cross-engine before anyone ships it.

    The grid is data-volume-independent; at scale the same index
    expression rides repartitionByRange exactly like zval in
    operators/layout.py."""
    size = 2 ** _HILB_BITS
    xs = spark.range(size).select(F.col("id").cast("int").alias("gx"))
    ys = spark.range(size).select(F.col("id").cast("int").alias("gy"))
    grid = xs.crossJoin(ys).select(
        "gx",
        "gy",
        F.lit(0).cast("long").alias("d"),
        F.col("gx").alias("x"),
        F.col("gy").alias("y"),
    )
    cur = grid
    for s in [2 ** b for b in range(_HILB_BITS - 1, -1, -1)]:
        rx = (F.floor(F.col("x") / s).cast("int") % 2 == 1).cast("int")
        ry = (F.floor(F.col("y") / s).cast("int") % 2 == 1).cast("int")
        cur = cur.select(
            "gx",
            "gy",
            "d",
            rx.alias("rx"),
            ry.alias("ry"),
            (F.col("x") % s).alias("xm"),
            (F.col("y") % s).alias("ym"),
        ).select(
            "gx",
            "gy",
            (
                F.col("d")
                + F.lit(s * s)
                * F.when(
                    (F.col("rx") == 1) & (F.col("ry") == 0), 3
                )
                .when((F.col("rx") == 1) & (F.col("ry") == 1), 2)
                .when((F.col("rx") == 0) & (F.col("ry") == 1), 1)
                .otherwise(0)
            ).alias("d"),
            F.when(
                (F.col("ry") == 0) & (F.col("rx") == 1),
                F.lit(s - 1) - F.col("ym"),
            )
            .when(F.col("ry") == 0, F.col("ym"))
            .otherwise(F.col("xm"))
            .alias("x"),
            F.when(
                (F.col("ry") == 0) & (F.col("rx") == 1),
                F.lit(s - 1) - F.col("xm"),
            )
            .when(F.col("ry") == 0, F.col("xm"))
            .otherwise(F.col("ym"))
            .alias("y"),
        )
    hilbert = cur.select(
        F.lit("hilbert").alias("curve"), "gx", "gy", F.col("d").alias("ix")
    )
    zexpr = None
    for b in range(_HILB_BITS):
        term = ((F.col("gx") / (2 ** b)).cast("long") % 2) * (
            2 * 4 ** b
        ) + ((F.col("gy") / (2 ** b)).cast("long") % 2) * (4 ** b)
        zexpr = term if zexpr is None else zexpr + term
    zorder = grid.select(
        F.lit("zorder").alias("curve"),
        "gx",
        "gy",
        zexpr.cast("long").alias("ix"),
    )
    rowm = grid.select(
        F.lit("row_major").alias("curve"),
        "gx",
        "gy",
        (F.col("gy") * size + F.col("gx")).cast("long").alias("ix"),
    )
    idx = hilbert.unionByName(zorder).unionByName(rowm)
    w = Window.partitionBy("curve").orderBy("ix")
    stepped = idx.select(
        "curve",
        (
            F.abs(F.col("gx") - F.lag("gx").over(w))
            + F.abs(F.col("gy") - F.lag("gy").over(w))
        ).alias("step"),
    )
    steps = stepped.groupBy("curve").agg(
        (
            F.sum(F.col("step").cast("double")) / F.count("step")
        ).alias("avg_step"),
        F.max("step").cast("long").alias("max_step"),
    )
    base = idx.groupBy("curve").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.countDistinct("ix").cast("long").alias("n_distinct_index"),
    )
    return (
        base.join(steps, "curve")
        .select(
            "curve", "n_cells", "n_distinct_index", "avg_step",
            "max_step",
        )
        .orderBy("curve")
    )


# ---------------------------------------------------------------------------
# Seasonal-strength decomposition diagnostics
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / 1000000.0 AS r
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT d, r,
             AVG(r) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) AS trend,
             CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS wn
      FROM daily
    ),
    det AS (
      SELECT d, r, trend, r - trend AS detr, d % 7 AS dow
      FROM tr WHERE wn = 7
    ),
    seas AS (
      SELECT dow, AVG(detr) AS s FROM det GROUP BY dow
    ),
    resid AS (
      SELECT det.d, det.detr, det.detr - seas.s AS e
      FROM det JOIN seas ON det.dow = seas.dow
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           var_pop(detr) AS var_detrended,
           var_pop(e) AS var_residual,
           GREATEST(0.0, 1.0 - var_pop(e) / var_pop(detr))
             AS seasonal_strength
    FROM resid
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal-strength diagnostic F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) on daily revenue: trend = centered
    7-day moving average (full windows only), seasonal = day-of-week
    means of the detrended series, remainder = what's left. F_s near
    1 ⇒ the weekly cycle dominates (schedule forecasting around it);
    near 0 ⇒ don't bother with seasonal models — the triage that
    decides between ts_ema_smoothing and ts_holt_winters_fit.
    Everything after the daily collapse rides the tiny series.
    Revenue is expressed in $M so the variances are O(1e-2): the
    raw-dollar form summed squares to ~4e11 where partition-order
    float noise exceeded 6-decimal rounding (round-4 verdict);
    seasonal_strength itself is scale-invariant, and var_pop on
    both engines uses the stable centered recurrence."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("long")
        .alias("d")
    ).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            / F.lit(1000000.0)
        ).alias("r")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "r",
        F.avg("r").over(w7).alias("trend"),
        F.count(F.lit(1)).over(w7).cast("long").alias("wn"),
    )
    det = tr.filter(F.col("wn") == 7).select(
        "d",
        (F.col("r") - F.col("trend")).alias("detr"),
        (F.col("d") % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(F.avg("detr").alias("s"))
    resid = det.join(F.broadcast(seas), "dow").select(
        "detr", (F.col("detr") - F.col("s")).alias("e")
    )
    var_d = F.var_pop("detr")
    var_e = F.var_pop("e")
    return resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        var_d.alias("var_detrended"),
        var_e.alias("var_residual"),
        F.greatest(F.lit(0.0), F.lit(1.0) - var_e / var_d).alias(
            "seasonal_strength"
        ),
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometry between sources
# ---------------------------------------------------------------------------

_DELTA_TOPK = 20


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS word
      FROM documents
    ),
    wf AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w WHERE word <> '' GROUP BY source, word
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM wf GROUP BY source
    ),
    topw AS (
      SELECT word FROM (
        SELECT word, SUM(c) AS tc FROM wf GROUP BY word
        ORDER BY tc DESC, word LIMIT {_DELTA_TOPK}
      )
    ),
    freq AS (
      SELECT t.source, tw.word,
             COALESCE(wf.c, 0) * 1000.0 / t.n AS f
      FROM tot t CROSS JOIN topw tw
      LEFT JOIN wf ON wf.source = t.source AND wf.word = tw.word
    ),
    stats AS (
      SELECT word, AVG(f) AS mu,
             SQRT(SUM(f * f) / COUNT(*)
                  - (SUM(f) / COUNT(*)) * (SUM(f) / COUNT(*))) AS sd
      FROM freq GROUP BY word
    ),
    z AS (
      SELECT f.source, f.word, (f.f - s.mu) / s.sd AS z
      FROM freq f JOIN stats s ON f.word = s.word WHERE s.sd > 0
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(ABS(a.z - b.z)) / COUNT(*) AS delta
      FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, delta FROM pairs
    ORDER BY delta, src_a, src_b LIMIT 25
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta — the classic stylometric distance (Burrows
    2002): per-source relative frequencies (per mille) of the
    corpus-wide top-{_DELTA_TOPK} words, z-scored per word across
    sources, Delta(a,b) = mean |z_a − z_b|. The attribution workhorse
    of computational philology, and operationally the "same pipeline,
    different voice?" screen for crawl sources. The 25 closest source
    pairs returned (low Delta = stylistically alike).

    Scale posture: the corpus collapses at the (source, word) count;
    the frequency matrix is sources × {_DELTA_TOPK} cells and every
    later stage rides it. Zero-count cells are materialized by the
    dimension cross join so missing words count as z-deviation, as
    the method requires."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    wf = (
        docs.select("source", F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = wf.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    topw = (
        wf.groupBy("word")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), "word")
        .limit(_DELTA_TOPK)
        .select("word")
    )
    freq = (
        tot.crossJoin(F.broadcast(topw))
        .join(wf, ["source", "word"], "left")
        .select(
            "source",
            "word",
            (
                F.coalesce(F.col("c"), F.lit(0)) * 1000.0 / F.col("n")
            ).alias("f"),
        )
    )
    cnt = F.count(F.lit(1))
    stats = freq.groupBy("word").agg(
        F.avg("f").alias("mu"),
        F.sqrt(
            F.sum(F.col("f") * F.col("f")) / cnt
            - (F.sum("f") / cnt) * (F.sum("f") / cnt)
        ).alias("sd"),
    )
    z = (
        freq.join(F.broadcast(stats), "word")
        .filter(F.col("sd") > 0)
        .select(
            "source", "word", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    a = z.select(
        F.col("source").alias("src_a"), "word", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("word").alias("wb"),
        F.col("z").alias("zb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("word") == F.col("wb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            (F.sum(F.abs(F.col("za") - F.col("zb"))) / F.count(F.lit(1))).alias(
                "delta"
            )
        )
    )
    return pairs.orderBy("delta", "src_a", "src_b").limit(25)


# ---------------------------------------------------------------------------
# Learning curve over nested md5 subsamples
# ---------------------------------------------------------------------------

_LC_FRACS = [0.1, 0.2, 0.4, 0.8]


@query(
    "ml_learning_curve",
    oracle=f"""
    WITH src AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_extendedprice AS DOUBLE) AS y,
             CAST({_md5_sql(
                 "'lc1|' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)"
             )} AS DOUBLE) / {_MD5_SCALE!r} AS u,
             {_md5_sql(
                 "'lc2|' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)"
             )} % 5 AS fold
      FROM lineitem
    ),
    fr AS (SELECT CAST(UNNEST([{", ".join(repr(f) for f in _LC_FRACS)}])
                       AS DOUBLE) AS frac),
    model AS (
      SELECT fr.frac, l_returnflag, l_linestatus,
             SUM(CASE WHEN fold <> 0 AND u < fr.frac THEN y END)
               / COUNT(CASE WHEN fold <> 0 AND u < fr.frac THEN 1 END)
               AS pred,
             CAST(COUNT(CASE WHEN fold <> 0 AND u < fr.frac THEN 1 END)
                  AS BIGINT) AS n_train
      FROM src CROSS JOIN fr
      GROUP BY fr.frac, l_returnflag, l_linestatus
    ),
    tr AS (
      SELECT frac, CAST(SUM(n_train) AS BIGINT) AS n_train
      FROM model GROUP BY frac
    ),
    eval_ AS (
      SELECT m.frac,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             SQRT(SUM((s.y - m.pred) * (s.y - m.pred)) / COUNT(*))
               AS rmse
      FROM src s JOIN model m
        ON s.l_returnflag = m.l_returnflag
       AND s.l_linestatus = m.l_linestatus
      WHERE s.fold = 0
      GROUP BY m.frac
    )
    SELECT e.frac, t.n_train, e.n_test, e.rmse
    FROM eval_ e JOIN tr t ON e.frac = t.frac ORDER BY e.frac
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve over NESTED md5 subsamples: the per-group mean
    model trained on 10/20/40/80% of the training split (u < frac
    nests each sample inside the next — the statistically right way
    to draw a curve, one hash pass, no reshuffling per point) and
    evaluated on the fixed held-out fold. The flattening of RMSE with
    size answers "will more data help?" before anyone pays for more
    data — here all four training runs ride ONE conditional-aggregate
    scan (frac is an exploded literal dimension), the
    multiplexed-training trick that makes curve-drawing cheap at
    100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").cast("double").alias("y"),
        (
            kmv_value(
                F.concat(
                    F.lit("lc1|"),
                    (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
                        "string"
                    ),
                )
            ).cast("double")
            / F.lit(_MD5_SCALE)
        ).alias("u"),
        (
            kmv_value(
                F.concat(
                    F.lit("lc2|"),
                    (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
                        "string"
                    ),
                )
            )
            % 5
        ).alias("fold"),
    )
    fr = None
    for f0 in _LC_FRACS:
        row = li.sparkSession.range(1).select(
            F.lit(float(f0)).alias("frac")
        )
        fr = row if fr is None else fr.unionByName(row)
    keys = ["l_returnflag", "l_linestatus"]
    train_cond = (F.col("fold") != 0) & (F.col("u") < F.col("frac"))
    model = (
        li.crossJoin(F.broadcast(fr))
        .groupBy("frac", *keys)
        .agg(
            (
                F.sum(F.when(train_cond, F.col("y")))
                / F.count(F.when(train_cond, 1))
            ).alias("pred"),
            F.count(F.when(train_cond, 1))
            .cast("long")
            .alias("n_train"),
        )
    )
    tr = model.groupBy("frac").agg(
        F.sum("n_train").cast("long").alias("n_train")
    )
    ev = (
        li.filter(F.col("fold") == 0)
        .join(F.broadcast(model), keys)
        .groupBy("frac")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sqrt(
                F.sum(
                    (F.col("y") - F.col("pred"))
                    * (F.col("y") - F.col("pred"))
                )
                / F.count(F.lit(1))
            ).alias("rmse"),
        )
    )
    return (
        ev.join(F.broadcast(tr), "frac")
        .select("frac", "n_train", "n_test", "rmse")
        .orderBy("frac")
    )
