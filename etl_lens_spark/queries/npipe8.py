"""Round-6 tranche: hybrid-retrieval fusion (reciprocal-rank fusion
of BM25 text rank and embedding cosine rank — the VERDICT r5 item 5),
plus follow-on retrieval/curation operators added this round.

Same contract as every npipe tranche: PySpark plan + hand-written
DuckDB oracle on identical parquet where the math is SQL-expressible;
rows-only + pinned invariant tests where it is not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_lens_spark.queries import query
from etl_lens_spark.similarity.knn import dot as _dot
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import stage

# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of BM25 and embedding retrieval
# ---------------------------------------------------------------------------

_RRF_TERMS = ["spark", "join", "filter"]  # same probe as text_bm25_search
_RRF_K = 60  # the published RRF constant
_RRF_TOPN = 50  # per-list depth
_RRF_OUT = 20


def _rrf_oracle() -> str:
    vals = ", ".join(f"('{t}')" for t in _RRF_TERMS)
    return f"""
    WITH q(term) AS (VALUES {vals}),
    toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    g AS (SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM dl),
    tf AS (
        SELECT t.doc_id, t.w AS term, COUNT(*) AS tf
        FROM toks t JOIN q ON t.w = q.term
        GROUP BY t.doc_id, t.w
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               SUM(
                 ln((g.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * (1.2 + 1.0)
                 / (tf.tf + 1.2 * (1.0 - 0.75
                                   + 0.75 * dl.dlen / g.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN g
        GROUP BY tf.doc_id
    ),
    tr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS text_rank
        FROM scored
        QUALIFY text_rank <= {_RRF_TOPN}
    ),
    qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id = 0
    ),
    es AS (
        SELECT e.vec_id AS doc_id,
               list_dot_product(qe, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(qe, qe))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))))
                 AS cs
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ),
    er AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id)
                 AS emb_rank
        FROM es
        QUALIFY emb_rank <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(tr.doc_id, er.doc_id) AS doc_id,
               CAST(tr.text_rank AS BIGINT) AS text_rank,
               CAST(er.emb_rank AS BIGINT) AS emb_rank,
               COALESCE(1.0 / ({_RRF_K} + tr.text_rank), 0)
               + COALESCE(1.0 / ({_RRF_K} + er.emb_rank), 0) AS rrf
        FROM tr FULL OUTER JOIN er ON tr.doc_id = er.doc_id
    )
    SELECT doc_id, text_rank, emb_rank, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
    """


@query("rank_rrf_fusion", oracle=_rrf_oracle(), headline=True)
def rank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009; similarity/fusion.py): the BM25 keyword ranking (identical
    formula to text_bm25_search) and the embedding cosine ranking
    (query = vec 0, the knn sequential-fold dot product) are each
    truncated to their top-{_RRF_TOPN} and fused by
    Σ 1/({_RRF_K}+rank) — the standard no-calibration baseline every
    hybrid search deployment starts from, pure relational end to end.

    100 TB posture: all corpus-sized work happens inside the two
    retrievers with their own scale plans (inverted-index postings
    filter for BM25; broadcast-query dot product, at scale the
    IVF/LSH candidate path); fusion itself touches two ≤{_RRF_TOPN}-
    row lists — broadcast full-outer join, no shuffle. The tiny
    global row_number windows run over already-truncated lists.
    Determinism: integer ranks make the two-term reciprocal sum
    bit-identical cross-engine; planted-relevance uplift (fusion
    beats both constituents) is pinned in tests/test_fusion.py."""
    from etl_lens_spark.similarity.fusion import rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    # The probe vocabulary is a 3-term literal list, so the whole
    # BM25 side is ROW-LOCAL: dlen = size(words) and per-term tf =
    # size(filter(words, = term)) — the token stream never explodes
    # and never shuffles (round 11 staged the exploded dl rollup,
    # which the round-12 interleaved A/B measured 1.33× SLOWER than
    # the unstaged original: the checkpoint serialized two corpus
    # passes that previously overlapped inside one job; this
    # formulation needs only this one O(docs)-wide pass, no barrier).
    # Identical algebra: a NULL-text doc contributed no toks rows,
    # hence no dl row — the text IS NOT NULL filter reproduces that
    # (not dlen IS NOT NULL: size(NULL) is -1, not NULL, with
    # spark.sql.ansi.enabled=false, which would count those docs with
    # dlen -1 in n_docs/avgdl); explode
    # counted every split element including empty strings, as size
    # does; per-(doc, term) groups existed only where tf >= 1, hence
    # the tf > 0 filter after the stack unpivot.
    words = F.split(F.lower("text"), " ")

    def _tf_count(term: str) -> Column:
        # closure factory, NOT a two-arg lambda: pyspark treats a
        # 2-parameter lambda in F.filter as (element, index)
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    per_doc = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(words).alias("dlen"),
        *[
            _tf_count(t).alias(f"__tf{i}")
            for i, t in enumerate(_RRF_TERMS)
        ],
    )
    # O(docs) narrow rollup consumed by the corpus stats, the df
    # counts and the score join — stage it once (guide §5)
    per_doc = stage(per_doc, "rrf_per_doc")
    g = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    stack_expr = ", ".join(
        f"'{t}', __tf{i}" for i, t in enumerate(_RRF_TERMS)
    )
    tf = per_doc.select(
        "doc_id",
        "dlen",
        F.expr(
            f"stack({len(_RRF_TERMS)}, {stack_expr}) AS (term, tf)"
        ),
    ).filter(F.col("tf") > 0)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (1.2 + 1.0)
                / (
                    F.col("tf")
                    + 1.2
                    * (1.0 - 0.75 + 0.75 * F.col("dlen") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    # truncate FIRST (TakeOrdered — no global sort materializes),
    # then rank the driver-sized list with a tiny window
    tr = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_TOPN)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rank")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    qv = emb.filter(F.col("doc_id") == 0).select(
        F.col("e").alias("qe")
    )
    es = (
        emb.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            (
                _dot(F.col("qe"), F.col("e"))
                / (
                    F.sqrt(_dot(F.col("qe"), F.col("qe")))
                    * F.sqrt(_dot(F.col("e"), F.col("e")))
                )
            ).alias("cs"),
        )
    )
    er = (
        es.orderBy(F.col("cs").desc(), "doc_id")
        .limit(_RRF_TOPN)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cs").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rank")
    )
    fused = rrf_fuse({"text": tr, "emb": er}, k=_RRF_K)
    return (
        fused.select("doc_id", "text_rank", "emb_rank", "rrf")
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_OUT)
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance with COUNT DISTINCT
# ---------------------------------------------------------------------------

_VM_K = 64  # KMV sketch size for the approximate distinct path

# DuckDB replica of operators/kmv.kmv_value over o_custkey
_VM_V_SQL = """
    list_reduce(list_transform(range(1, 14),
      i -> CAST(strpos('0123456789abcdef',
             substr(md5(CAST(o_custkey AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b)
"""


@query(
    "view_maintain_distinct_agg",
    headline=True,
    oracle=f"""
    WITH base AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             o_orderkey % 2 AS batch_id,
             o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    part AS (
      SELECT ym, batch_id,
             CAST(COUNT(*) AS BIGINT) AS p_cnt,
             CAST(SUM(cents) AS BIGINT) AS p_cents
      FROM base GROUP BY 1, 2
    ),
    alg AS (
      SELECT ym,
             CAST(SUM(p_cnt) AS BIGINT) AS n_orders,
             CAST(SUM(p_cents) AS BIGINT) AS cents_sum,
             CAST(COUNT(*) AS BIGINT) AS n_partials
      FROM part GROUP BY ym
    ),
    hv AS (SELECT DISTINCT ym, {_VM_V_SQL} AS v FROM base),
    ranked AS (
      SELECT ym, v,
             row_number() OVER (PARTITION BY ym ORDER BY v) AS r
      FROM hv
    ),
    sk AS (
      SELECT ym, CAST(COUNT(*) AS BIGINT) AS n_sk,
             MAX(CASE WHEN r = {_VM_K} THEN v END) AS kth
      FROM ranked WHERE r <= {_VM_K} GROUP BY ym
    ),
    ex AS (
      SELECT ym, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
               AS exact_dist_cust
      FROM base GROUP BY ym
    )
    SELECT a.ym, a.n_orders, a.cents_sum, e.exact_dist_cust,
           CASE WHEN s.n_sk < {_VM_K} THEN CAST(s.n_sk AS DOUBLE)
                ELSE {float(_VM_K - 1)} /
                     (CAST(s.kth AS DOUBLE) / 4503599627370496.0)
           END AS kmv_est_cust,
           a.n_partials
    FROM alg a JOIN ex e USING (ym) JOIN sk s USING (ym)
    ORDER BY ym
    """,
)
def view_maintain_distinct_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a per-month aggregate VIEW whose
    columns include COUNT DISTINCT — the materialized-view shape
    incremental_agg_merge stops short of, because distinct counts are
    NOT algebraic over scalar partials. Two independent batches
    (o_orderkey parity — 'yesterday's rollup' and 'today's delta')
    each reduce to three mergeable states per (ym, batch):
    (1) algebraic count/sum-of-cents scalars, (2) the distinct
    (ym, custkey) pair set — the exact mergeable distinct state,
    union+dedup at merge (the low-cardinality path a roaring bitmap
    compresses; exact twin: sketch_bitmap_exact_distinct), and
    (3) a bottom-{_VM_K} KMV sketch — O(k) state at any cardinality,
    merged by re-taking the k minima of the union (operators/kmv.py).

    The oracle is the self-auditing equality the verdict asked for:
    it computes every column by DIRECT one-shot recompute (straight
    COUNT(DISTINCT), the whole-group bottom-k) — the hash match
    proves view-after-merge == full recompute, i.e. the maintenance
    algebra is lossless for the exact path and the merge-law-exact
    KMV path alike. Cents stay BIGINT end-to-end (permutation-stable
    by construction; the sf0.1 probe covers it).

    100 TB posture: each batch's partials reduce map-side before one
    (ym, batch)-keyed shuffle; the merge touches only partial states
    (rows ≤ months x batches x k), never the raw corpus again — the
    entire point of view maintenance; COUNT(DISTINCT) never runs on
    the merged corpus on the Spark side."""
    from etl_lens_spark.operators import kmv

    base = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        (F.col("o_orderkey") % 2).alias("batch_id"),
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    part = base.groupBy("ym", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("p_cnt"),
        F.sum("cents").cast("long").alias("p_cents"),
    )
    alg = part.groupBy("ym").agg(
        F.sum("p_cnt").cast("long").alias("n_orders"),
        F.sum("p_cents").cast("long").alias("cents_sum"),
        F.count(F.lit(1)).cast("long").alias("n_partials"),
    )
    # exact distinct state: per-batch distinct pairs, merged by dedup
    pairs = base.select("ym", "batch_id", "o_custkey").dropDuplicates(
        ["ym", "batch_id", "o_custkey"]
    )
    exact = (
        pairs.dropDuplicates(["ym", "o_custkey"])
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_dist_cust"))
    )
    # KMV state: per-batch bottom-k, merged by bottom-k of the union
    hv = base.select(
        "ym", "batch_id", kmv.kmv_value(F.col("o_custkey")).alias("v")
    )
    batch_sk = kmv.kmv_topk(hv, ["ym", "batch_id"], _VM_K)
    merged_sk = kmv.kmv_topk(batch_sk, ["ym"], _VM_K)
    est = kmv.kmv_estimate(merged_sk, ["ym"], _VM_K).select(
        "ym", F.col("est").alias("kmv_est_cust")
    )
    return (
        alg.join(exact, "ym")
        .join(est, "ym")
        .select(
            "ym",
            "n_orders",
            "cents_sum",
            "exact_dist_cust",
            "kmv_est_cust",
            "n_partials",
        )
        .orderBy("ym")
    )


# ---------------------------------------------------------------------------
# DoReMi-lite: deterministic domain-mixture reweighting
# ---------------------------------------------------------------------------

_DM_ETA = 0.5  # EG step size
_DM_EPS = 0.1  # uniform smoothing mass
_DM_ITERS = 3

_DM_TOKS_SQL = "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"


def _doremi_oracle() -> str:
    loss_ctes = f"""
    WITH toks AS (SELECT doc_id, source, {_DM_TOKS_SQL} AS t FROM documents),
    bi AS (
      SELECT doc_id, source,
             unnest([array_to_string(t[i:i+1], ' ')
                     for i in range(1, len(t))]) AS g
      FROM toks
    ),
    cb AS (
      SELECT g, string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS cbi
      FROM bi GROUP BY g
    ),
    cu AS (SELECT w1, CAST(SUM(cbi) AS BIGINT) AS cw1,
                  CAST(COUNT(*) AS BIGINT) AS n1f
           FROM cb GROUP BY w1),
    pc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM cb GROUP BY w2),
    ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cb),
    sc AS (
      SELECT b.source,
             ln((CAST(cb.cbi AS DOUBLE) - 0.75) / CAST(cu.cw1 AS DOUBLE)
                + 0.75 * CAST(cu.n1f AS DOUBLE) / CAST(cu.cw1 AS DOUBLE)
                  * (CAST(pc.n1r AS DOUBLE) / CAST(ty.t AS DOUBLE))) AS lp
      FROM bi b
      JOIN cb ON b.g = cb.g
      JOIN cu ON cb.w1 = cu.w1
      JOIN pc ON cb.w2 = pc.w2
      CROSS JOIN ty
    ),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_bi,
             -CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS BIGINT) AS loss
      FROM sc GROUP BY source
    ),
    u AS (
      SELECT source, n_bi, loss,
             MIN(loss) OVER () AS lmin,
             CAST(COUNT(*) OVER () AS BIGINT) AS nd,
             1.0 / COUNT(*) OVER () AS w
      FROM per
    )"""
    prev = "u"
    steps = []
    for t in range(1, _DM_ITERS + 1):
        steps.append(f"""
    e{t} AS (
      SELECT source, n_bi, loss, lmin, nd,
             w * exp({_DM_ETA} * (loss - lmin)) AS uw
      FROM {prev}
    ),
    w{t} AS (
      SELECT source, n_bi, loss, lmin, nd,
             {1.0 - _DM_EPS} * uw / SUM(uw) OVER ()
               + {_DM_EPS} / nd AS w
      FROM e{t}
    )""")
        prev = f"w{t}"
    unions = "\n    UNION ALL ".join(
        f"SELECT {t} AS iter, source, n_bi, loss, w AS weight FROM w{t}"
        for t in range(1, _DM_ITERS + 1)
    )
    return (
        loss_ctes
        + ","
        + ",".join(steps)
        + f"\n    {unions}\n    ORDER BY iter, source"
    )


@query("mix_doremi_reweight", oracle=_doremi_oracle())
def mix_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite domain-mixture reweighting (Xie et al. 2023,
    deterministic skeleton): per-source excess loss drives an
    exponentiated-gradient update of the mixture weights,
    w ← (1−ε)·softmax-step(w·e^{η·excess}) + ε/D, for 3 pinned
    iterations. The loss proxy is the interpolated Kneser–Ney bigram
    surprisal per source (the same audited chain as
    text_lm_kneser_ney_score, aggregated by source instead of doc) —
    exactly the 'small proxy model scores each domain' role the
    paper's reference/proxy pair plays, minus the gradient training
    this container can't do. High-surprisal (hard) domains gain
    weight round over round; smoothing keeps every domain sampled —
    the full weight trajectory is the output, oracle-pinned at both
    scales.

    Determinism: per-bigram lp accumulates in DECIMAL(18,9)
    (order-independent; the functions/numeric.py discipline), the EG
    chain is scalar arithmetic over ≤|sources| rows, and every
    window runs over that same O(D) frame — no corpus-sized state
    anywhere past the one (gram, count) shuffle shared with the KN
    scorer. 100 TB: loss is one map-side-combined aggregate per
    source; iterations touch D rows."""
    from etl_lens_spark.text import pipeline as tp

    docs = load_table(spark, sf_dir, "documents")
    toks = tp.ws_tokens(F.col("text"))
    bi = docs.select(
        "source", F.explode(tp.word_ngrams(toks, 2)).alias("g")
    )
    cb = (
        bi.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("cbi"))
        .select(
            "g",
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
            "cbi",
        )
    )
    cu = cb.groupBy("w1").agg(
        F.sum("cbi").cast("long").alias("cw1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    pc = cb.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1r")
    )
    ty = cb.agg(F.count(F.lit(1)).cast("long").alias("t"))
    lp = F.log(
        (F.col("cbi").cast("double") - F.lit(0.75))
        / F.col("cw1").cast("double")
        + F.lit(0.75)
        * F.col("n1f").cast("double")
        / F.col("cw1").cast("double")
        * (F.col("n1r").cast("double") / F.col("t").cast("double"))
    )
    sc = (
        bi.join(cb, "g")
        .join(cu, "w1")
        .join(pc, "w2")
        .crossJoin(F.broadcast(ty))
        .select("source", lp.alias("lp"))
    )
    per = sc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bi"),
        (
            -F.sum(F.col("lp").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)).cast("long")
        ).alias("loss"),
    )
    stats = per.agg(
        F.min("loss").alias("lmin"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    cur = (
        per.crossJoin(F.broadcast(stats))
        .withColumn("w", F.lit(1.0) / F.col("nd"))
    )
    outs = []
    for t in range(1, _DM_ITERS + 1):
        stepped = cur.withColumn(
            "uw",
            F.col("w")
            * F.exp(F.lit(_DM_ETA) * (F.col("loss") - F.col("lmin"))),
        )
        z = stepped.agg(F.sum("uw").alias("z"))
        cur = (
            stepped.crossJoin(F.broadcast(z))
            .withColumn(
                "w",
                F.lit(1.0 - _DM_EPS) * F.col("uw") / F.col("z")
                + F.lit(_DM_EPS) / F.col("nd"),
            )
            .drop("uw", "z")
        )
        outs.append(
            cur.select(
                F.lit(t).alias("iter"),
                "source",
                "n_bi",
                "loss",
                F.col("w").alias("weight"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("iter", "source")


# ---------------------------------------------------------------------------
# LSH parameter auto-tuning curve
# ---------------------------------------------------------------------------

_TUNE_BUDGET = 64
_TUNE_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)


def _lsh_tune_oracle() -> str:
    from etl_lens_spark.dedup.tuning import tune_lsh_params

    rows = []
    for t in _TUNE_THRESHOLDS:
        b, r = tune_lsh_params(t, _TUNE_BUDGET)
        rows.append(f"({t}, {b}, {r})")
    vals = ", ".join(rows)
    return f"""
    WITH tuned(threshold, bands, rows_per_band) AS (VALUES {vals}),
    pts AS (
      SELECT threshold, bands, rows_per_band,
             CAST(unnest([threshold - 0.15, threshold,
                          threshold + 0.15]) AS DOUBLE) AS s
      FROM tuned
    )
    SELECT CAST(threshold AS DOUBLE) AS threshold,
           CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           s,
           1.0 - POWER(1.0 - POWER(s, rows_per_band), bands)
             AS p_candidate
    FROM pts
    ORDER BY threshold, s
    """


@query("dedup_lsh_tuning_curve", oracle=_lsh_tune_oracle())
def dedup_lsh_tuning_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH banding auto-tuner audit (dedup/tuning.py): for each
    target Jaccard threshold at a {_TUNE_BUDGET}-hash budget, the
    tuner's chosen (bands, rows) and the resulting S-curve
    P(candidate) = 1−(1−s^r)^b evaluated just below / at / just
    above the threshold — the artifact that replaces hand-picked
    ``spark.etl_lens.minhash.*`` knobs with math and makes the
    choice reviewable in data. The t=0.5 row derives exactly the
    repo's declared 16x4 default. The oracle recomputes the curve
    with POWER on the same tuned constants, pinning the arithmetic
    cross-engine; the recall behavior of a tuned banding on planted
    pairs is pinned in tests/test_dedup.py. Pure O(1) arithmetic —
    no corpus scan; at 100 TB the tune is free and decides the size
    of the banded self-join."""
    from etl_lens_spark.dedup.tuning import tune_lsh_params

    base = []
    for t in _TUNE_THRESHOLDS:
        b, r = tune_lsh_params(t, _TUNE_BUDGET)
        base.append((float(t), b, r))
    tuned = spark.createDataFrame(
        base, "threshold double, bands long, rows_per_band long"
    )
    pts = tuned.select(
        "threshold",
        "bands",
        "rows_per_band",
        F.explode(
            F.array(
                F.col("threshold") - 0.15,
                F.col("threshold"),
                F.col("threshold") + 0.15,
            )
        ).alias("s"),
    )
    return pts.select(
        "threshold",
        "bands",
        "rows_per_band",
        "s",
        (
            F.lit(1.0)
            - F.pow(
                F.lit(1.0) - F.pow(F.col("s"), F.col("rows_per_band")),
                F.col("bands"),
            )
        ).alias("p_candidate"),
    ).orderBy("threshold", "s")


# ---------------------------------------------------------------------------
# KMV (theta-sketch-style) set operations: intersection / difference
# ---------------------------------------------------------------------------

_SO_K = 256  # larger k than the union-merge demo: intersections
# compound the error, so production sizes up

_SO_V_SQL = """
    list_reduce(list_transform(range(1, 14),
      i -> CAST(strpos('0123456789abcdef',
             substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b)
"""


@query(
    "sketch_kmv_set_operations",
    headline=True,
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT event_type, {_SO_V_SQL} AS v, user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    sk AS (
      SELECT event_type, v FROM (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v)
                 AS r
        FROM (SELECT DISTINCT event_type, v FROM hv)
      ) WHERE r <= {_SO_K}
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM hv) a
      JOIN (SELECT DISTINCT event_type FROM hv) b
        ON a.event_type < b.event_type
    ),
    uni AS (
      SELECT p.ta, p.tb, s.v,
             row_number() OVER (PARTITION BY p.ta, p.tb ORDER BY s.v)
               AS r
      FROM pairs p
      JOIN (SELECT DISTINCT event_type, v FROM sk) s
        ON s.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, s.v
    ),
    usk AS (
      SELECT ta, tb,
             CAST(COUNT(*) AS BIGINT) AS n_u,
             MAX(CASE WHEN r = {_SO_K} THEN v END) AS kth,
             CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both
      FROM (
        SELECT u.ta, u.tb, u.v, u.r,
               EXISTS (SELECT 1 FROM sk WHERE sk.event_type = u.ta
                       AND sk.v = u.v) AS in_a,
               EXISTS (SELECT 1 FROM sk WHERE sk.event_type = u.tb
                       AND sk.v = u.v) AS in_b
        FROM uni u WHERE u.r <= {_SO_K}
      ) GROUP BY ta, tb
    ),
    est AS (
      SELECT ta, tb, n_u, n_both,
             CASE WHEN n_u < {_SO_K} THEN CAST(n_u AS DOUBLE)
                  ELSE {float(_SO_K - 1)} /
                       (CAST(kth AS DOUBLE) / 4503599627370496.0)
             END AS est_union
      FROM usk
    ),
    ex AS (
      SELECT p.ta, p.tb,
             CAST(COUNT(DISTINCT CASE WHEN ha.user_id IS NOT NULL
                        AND hb.user_id IS NOT NULL
                        THEN ha.user_id END) AS BIGINT) AS exact_inter
      FROM pairs p
      LEFT JOIN (SELECT DISTINCT event_type, user_id FROM hv) ha
             ON ha.event_type = p.ta
      LEFT JOIN (SELECT DISTINCT event_type, user_id FROM hv) hb
             ON hb.event_type = p.tb AND hb.user_id = ha.user_id
      GROUP BY p.ta, p.tb
    ),
    exu AS (
      SELECT p.ta, p.tb,
             CAST(COUNT(DISTINCT h.user_id) AS BIGINT) AS exact_union
      FROM pairs p
      JOIN hv h ON h.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb
    )
    SELECT e.ta, e.tb, e.n_both,
           e.est_union,
           CAST(e.n_both AS DOUBLE) / e.n_u * e.est_union
             AS est_inter,
           e.est_union
             - CAST(e.n_both AS DOUBLE) / e.n_u * e.est_union
             AS est_sym_rest,
           x.exact_inter, u.exact_union
    FROM est e
    JOIN ex x ON e.ta = x.ta AND e.tb = x.tb
    JOIN exu u ON e.ta = u.ta AND e.tb = u.tb
    ORDER BY e.ta, e.tb
    """,
)
def sketch_kmv_set_operations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS on KMV sketches (Beyer et
    al. 2007 / the Apache DataSketches intersection rule): for every
    pair of event types, estimate |A ∩ B| and the symmetric rest of
    the union FROM THE k-MINIMUM-VALUE SKETCHES ALONE — the audience
    -overlap question ('users who did A AND B') that at 100 TB must
    never re-scan the corpus per pair. Estimator: build the pair's
    union sketch (k smallest of the two sketch unions — lossless, the
    merge law), let ρ = |union-sketch values present in BOTH input
    sketches| / k, then est_inter = ρ · est_union. Exact
    COUNT(DISTINCT) anchors ride along; tests bound the relative
    error and pin the inclusion-exclusion consistency.

    Determinism: md5-based 52-bit hash values (operators/kmv), ranks
    and memberships are integer relational ops, and the estimator is
    two-operand double arithmetic — hash-exact cross-engine. Scale:
    per-type sketches are built once from ONE corpus dedup
    ((type, v) pairs — map-side combined); every pairwise estimate
    then touches only O(k) rows per pair: 10 pairs here, 10⁴ pairs
    of O(k) state at production, no corpus pass either way."""
    from etl_lens_spark.operators import kmv

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    # ONE corpus pass: the exact-anchor distinct (type, user) frame is
    # staged first; the KMV value is a pure function of user_id, so
    # distinct (type, v) over it == over raw events, and the md5
    # hashing and second dedup run on O(distinct pairs) rows
    du = stage(
        ev.dropDuplicates(["event_type", "user_id"]), "kmv_distinct_pairs"
    )
    hv = du.select(
        "event_type", kmv.kmv_value(F.col("user_id")).alias("v")
    ).dropDuplicates(["event_type", "v"])
    # the per-type sketch is referenced THREE times (union build +
    # both membership marks) and the distinct pairs twice more
    sk = stage(kmv.kmv_topk(hv, ["event_type"], _SO_K), "kmv_type_sketch")
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(
            types.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
    )
    # union sketch per pair: k smallest of the two sketches' union
    uni = (
        F.broadcast(pairs)
        .join(
            sk.select("event_type", "v"),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .select("ta", "tb", "v")
        .dropDuplicates(["ta", "tb", "v"])
    )
    wu = Window.partitionBy("ta", "tb").orderBy("v")
    ur = uni.withColumn("r", F.row_number().over(wu)).filter(
        F.col("r") <= _SO_K
    )
    ska = sk.select(
        F.col("event_type").alias("ta"), F.col("v").alias("v"),
        F.lit(1).alias("in_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("tb"), F.col("v").alias("v"),
        F.lit(1).alias("in_b"),
    )
    marked = (
        ur.join(ska, ["ta", "v"], "left")
        .join(skb, ["tb", "v"], "left")
    )
    usk = marked.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.max(F.when(F.col("r") == _SO_K, F.col("v"))).alias("kth"),
        F.sum(
            F.when(
                F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
    )
    est_union = F.when(
        F.col("n_u") < _SO_K, F.col("n_u").cast("double")
    ).otherwise(
        F.lit(float(_SO_K - 1))
        / (F.col("kth").cast("double") / F.lit(float(1 << 52)))
    )
    est = usk.select(
        "ta", "tb", "n_u", "n_both", est_union.alias("est_union")
    )
    # exact anchors
    # exact anchors ride the SAME staged distinct frame the
    # sketches were built from (one corpus dedup, not two)
    da = du.select(F.col("event_type").alias("ta"), "user_id")
    db = du.select(F.col("event_type").alias("tb"), "user_id")
    # left joins + conditional count so ZERO-overlap pairs survive
    # with exact_inter = 0 (a left_semi would drop the pair row and
    # desync from the oracle's LEFT JOIN shape on sparse fixtures)
    db_m = db.withColumn("__hit", F.lit(1))
    exact_i = (
        F.broadcast(pairs)
        .join(da, "ta", "left")
        .join(db_m, ["tb", "user_id"], "left")
        .groupBy("ta", "tb")
        .agg(
            F.countDistinct(
                F.when(F.col("__hit").isNotNull(), F.col("user_id"))
            )
            .cast("long")
            .alias("exact_inter")
        )
    )
    exact_u = (
        F.broadcast(pairs)
        .join(
            du,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_union"))
    )
    return (
        est.join(exact_i, ["ta", "tb"])
        .join(exact_u, ["ta", "tb"])
        .select(
            "ta",
            "tb",
            "n_both",
            "est_union",
            (
                F.col("n_both").cast("double")
                / F.col("n_u")
                * F.col("est_union")
            ).alias("est_inter"),
            (
                F.col("est_union")
                - F.col("n_both").cast("double")
                / F.col("n_u")
                * F.col("est_union")
            ).alias("est_sym_rest"),
            "exact_inter",
            "exact_union",
        )
        .orderBy("ta", "tb")
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitors: PSI over exact deciles, two-sample KS
# ---------------------------------------------------------------------------

from etl_lens_spark.operators.drift import (
    psi_oracle_tail as _psi_oracle_tail,
)

_psi_tail = _psi_oracle_tail(10)
_PSI_SPLIT = "1998-05-01"  # ref = orders before, cur = after
# (fixture orders span 1995-01-01 .. 2001-08-01 at every sf; the
# split is the approximate midpoint so both eras are populated)


@query(
    "feature_psi_drift",
    oracle=f"""
    WITH t AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c,
             o_orderkey,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_SPLIT}'
                  THEN 'ref' ELSE 'cur' END AS batch
      FROM orders
    ),
    refb AS (SELECT price_c, o_orderkey FROM t WHERE batch = 'ref'),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM refb),
    ranked AS (
      SELECT price_c,
             ROW_NUMBER() OVER (ORDER BY price_c, o_orderkey) AS rnk
      FROM refb
    ),
    cuts AS (
      SELECT list(r.price_c ORDER BY r.price_c) AS cs
      FROM (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) ds
      JOIN n ON TRUE
      JOIN ranked r ON r.rnk = CAST(ceil(d * n.n / 10.0) AS BIGINT)
    ),
    binned AS (
      SELECT batch,
             len(list_filter(cs, c -> price_c > c)) AS bin
      FROM t CROSS JOIN cuts
    ),
    cnt AS (
      SELECT bin,
             CAST(SUM(CASE WHEN batch = 'ref' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN batch = 'cur' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ),
    {_psi_tail}
    """,
)
def feature_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor — the standard
    'did this feature's distribution move between training and
    serving' check every feature store runs: order prices split into
    a reference era (pre-{_PSI_SPLIT}) and a current era, binned by
    the REFERENCE era's exact deciles (the ceil-rank rule on integer
    cents via operators/prefix.ordered_global_rank — no sketch, no
    single reducer), PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur) with
    +0.5 Laplace smoothing so an emptied bin reports a large finite
    contribution instead of ∞. Per-bin contributions are the output
    (the actionable part — WHICH decile moved), psi_total rides a
    10-row window.

    Determinism: boundaries are exact integer order statistics,
    bin assignment and counts are integer relational ops, and the
    PSI arithmetic is two-operand double — hash-exact cross-engine.
    100 TB: one global-rank pass over the reference batch (range
    exchange), one broadcast of 9 cutpoints, one binned count per
    batch; nothing corpus-sized crosses the wire twice."""
    from etl_lens_spark.operators.prefix import ordered_global_rank

    t = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        "o_orderkey",
        F.when(
            F.to_date("o_orderdate") < F.lit(_PSI_SPLIT), "ref"
        )
        .otherwise("cur")
        .alias("batch"),
    )
    refb = t.filter(F.col("batch") == "ref")
    n = refb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = ordered_global_rank(
        refb.select("price_c", "o_orderkey"),
        [F.asc("price_c"), F.asc("o_orderkey")],
        "rnk",
    )
    targets = (
        spark.range(1, 10)
        .select(F.col("id").alias("d"))
        .crossJoin(F.broadcast(n))
        .select(
            F.ceil(F.col("d") * F.col("n") / 10.0)
            .cast("long")
            .alias("rnk")
        )
    )
    cuts = (
        ranked.join(F.broadcast(targets), "rnk")
        .agg(F.sort_array(F.collect_list("price_c")).alias("cs"))
    )
    binned = t.crossJoin(F.broadcast(cuts)).select(
        "batch",
        F.size(
            F.filter(F.col("cs"), lambda c: F.col("price_c") > c)
        ).alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("batch") == "ref", 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("batch") == "cur", 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    from etl_lens_spark.operators.drift import smoothed_psi_frame

    return smoothed_psi_frame(cnt, n_bins=10)


@query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH t AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_SPLIT}'
                  THEN 1 ELSE 0 END AS is_ref
      FROM orders
    ),
    g AS (
      SELECT price_c,
             CAST(SUM(is_ref) AS BIGINT) AS c_ref,
             CAST(SUM(1 - is_ref) AS BIGINT) AS c_cur
      FROM t GROUP BY price_c
    ),
    tot AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS nr,
                   CAST(SUM(c_cur) AS BIGINT) AS nc FROM g),
    ecdf AS (
      SELECT price_c,
             SUM(c_ref) OVER (ORDER BY price_c) AS cum_ref,
             SUM(c_cur) OVER (ORDER BY price_c) AS cum_cur
      FROM g
    ),
    d AS (
      SELECT price_c,
             ABS(CAST(cum_ref AS DOUBLE) / nr
                 - CAST(cum_cur AS DOUBLE) / nc) AS gap
      FROM ecdf CROSS JOIN tot
    ),
    best AS (
      SELECT price_c AS price_at_ks, gap AS ks_stat
      FROM d ORDER BY gap DESC, price_c LIMIT 1
    )
    SELECT b.price_at_ks, b.ks_stat, tot.nr AS n_ref, tot.nc AS n_cur,
           1.3581 * sqrt((CAST(tot.nr AS DOUBLE) + tot.nc)
                         / (CAST(tot.nr AS DOUBLE) * tot.nc))
             AS ks_crit_05,
           CAST(b.ks_stat > 1.3581 * sqrt(
                 (CAST(tot.nr AS DOUBLE) + tot.nc)
                 / (CAST(tot.nr AS DOUBLE) * tot.nc)) AS BIGINT)
             AS drift_flag
    FROM best b CROSS JOIN tot
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the
    reference-era and current-era price distributions — the
    nonparametric companion to feature_psi_drift (PSI needs binning
    choices; KS is the sup-norm ECDF gap, no bins at all). Both
    empirical CDFs ride ONE distributed prefix-sum pass
    (operators/prefix.ordered_prefix_sums — the two running totals
    share a single range exchange, no single-reducer window), the
    sup gap is one max-reduce, and the α=0.05 two-sample critical
    value c(α)·√((n+m)/(n·m)) with c = 1.3581 turns it into a
    drift flag.

    Determinism: cumulative counts are exact integers, the gap is a
    two-operand double of exact ints, ties on the gap break by the
    lowest price — hash-exact cross-engine. 100 TB: the grouped
    (value, counts) table is the only corpus-sized shuffle; the
    prefix-sum operator's offsets join is O(P²) over partition
    counts, measured in the round-5 conf-tuning sweep (PLANS.md)."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sums

    t = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        F.when(F.to_date("o_orderdate") < F.lit(_PSI_SPLIT), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    g = t.groupBy("price_c").agg(
        F.sum("is_ref").cast("long").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("c_cur"),
    )
    tot = g.agg(
        F.sum("c_ref").cast("long").alias("nr"),
        F.sum("c_cur").cast("long").alias("nc"),
    )
    ecdf = ordered_prefix_sums(
        g,
        [F.asc("price_c")],
        {"cum_ref": "c_ref", "cum_cur": "c_cur"},
    )
    d = ecdf.crossJoin(F.broadcast(tot)).select(
        "price_c",
        F.abs(
            F.col("cum_ref").cast("double") / F.col("nr")
            - F.col("cum_cur").cast("double") / F.col("nc")
        ).alias("gap"),
    )
    best = (
        d.orderBy(F.col("gap").desc(), "price_c")
        .limit(1)
        .select(
            F.col("price_c").alias("price_at_ks"),
            F.col("gap").alias("ks_stat"),
        )
    )
    crit = F.lit(1.3581) * F.sqrt(
        (F.col("nr").cast("double") + F.col("nc"))
        / (F.col("nr").cast("double") * F.col("nc"))
    )
    return best.crossJoin(F.broadcast(tot)).select(
        "price_at_ks",
        "ks_stat",
        F.col("nr").alias("n_ref"),
        F.col("nc").alias("n_cur"),
        crit.alias("ks_crit_05"),
        (F.col("ks_stat") > crit).cast("long").alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap windows), TWAP, and friends
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@query(
    "events_sessionize_gap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_type
      FROM events WHERE user_id IS NOT NULL AND user_id < 200
    ),
    flagged AS (
      SELECT user_id, us, event_type,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_type)
                       > {_SESS_GAP_US}
                  OR LAG(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_type) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ),
    sess AS (
      SELECT user_id, us, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY us, event_type
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap — the
    canonical clickstream primitive (the batch twin of
    streaming_sessions_live's stateful session windows): a new
    session starts where the gap to the previous event exceeds the
    threshold; session ids are the running count of session starts.
    Output is per-session length/duration/type-diversity — the
    table funnel and retention analyses join against.

    One (user_id)-partitioned window chain: lag → flag → running
    sum all share the single user shuffle, then the per-session
    aggregate rides the same partitioning — at 100 TB exactly one
    corpus exchange keyed by the entity, the minimum possible.
    Tie-break (us, event_type) makes simultaneous events
    deterministic cross-engine; bounded to user_id < 200 for the
    oracle fixture."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") < 200))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_type",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_type")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > _SESS_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    seg AS (
      SELECT event_type, v, us,
             LEAD(us) OVER (PARTITION BY event_type
                            ORDER BY us, v) - us AS dt
      FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(CASE WHEN dt IS NULL THEN 0 ELSE dt END)
                AS BIGINT) AS span_us,
           CAST(SUM(v * dt) AS DOUBLE)
             / CAST(SUM(CASE WHEN dt IS NULL THEN 0 ELSE dt END)
                    AS DOUBLE) AS twap,
           CAST(AVG(CAST(v AS DOUBLE)) AS DOUBLE) AS naive_avg
    FROM seg
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) for irregularly-sampled series —
    the correct 'average value over time' when observations arrive
    at uneven intervals (a plain AVG over-weights bursts; the
    naive_avg column rides along to show the bias): each observation
    is weighted by its holding time until the next one (LEAD), the
    last observation of each series contributes no duration — the
    step-function integral divided by the span.

    Exactness discipline: v is DECIMAL(18,6) and dt exact integer
    µs, so Σ v·dt accumulates as exact DECIMAL (order-independent —
    the functions/numeric.py rule) and only the final division is
    floating point. One event_type-keyed window + aggregate — a
    single corpus shuffle. Deterministic tie-break (us, v) for
    simultaneous observations."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("us", "v")
    seg = e.withColumn("dt", F.lead("us").over(w) - F.col("us"))
    dt0 = F.coalesce(F.col("dt"), F.lit(0)).cast("long")
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(dt0).cast("long").alias("span_us"),
            (
                F.sum(F.col("v") * F.col("dt")).cast("double")
                / F.sum(dt0).cast("double")
            ).alias("twap"),
            F.avg(F.col("v").cast("double")).alias("naive_avg"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build + lakehouse change data feed
# ---------------------------------------------------------------------------


@query(
    "warehouse_scd2_build",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_type AS state
      FROM events WHERE user_id IS NOT NULL AND user_id < 100
    ),
    dedup AS (
      -- one row per (user, instant): deterministic state pick so
      -- simultaneous events can't make the change-point set ambiguous
      SELECT user_id, us, MIN(state) AS state
      FROM e GROUP BY user_id, us
    ),
    chg AS (
      SELECT user_id, us, state,
             LAG(state) OVER (PARTITION BY user_id ORDER BY us)
               AS prev_state
      FROM dedup
    ),
    pts AS (
      SELECT user_id, us AS valid_from_us, state
      FROM chg
      WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY valid_from_us) AS BIGINT)
             AS version_seq,
           state,
           valid_from_us,
           LEAD(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us)
             AS valid_to_us,
           CAST(LEAD(valid_from_us) OVER (PARTITION BY user_id
                                          ORDER BY valid_from_us)
                IS NULL AS BIGINT) AS is_current
    FROM pts
    ORDER BY user_id, version_seq
    """,
)
def warehouse_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change history —
    the warehouse staple that turns an event stream into validity
    intervals: per user, consecutive runs of the same state collapse
    to one row with [valid_from, valid_to) bounds (valid_to = next
    change, NULL = current) and a per-entity version sequence. This
    is the BATCH builder whose output streaming_scd2_enrich_live
    consumes as the enrich dimension, and the shape every as-of join
    (asof_join_*) probes against.

    One user-keyed shuffle carries the whole chain: instant-dedup →
    lag change detection → change-point filter → lead/row_number on
    the (much smaller) change-point set — the same partitioning
    throughout, no second corpus exchange. Simultaneous events
    resolve by MIN(state) so the interval set is deterministic
    cross-engine; bounded to user_id < 100 for the oracle fixture."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") < 100))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.col("event_type").alias("state"),
        )
    )
    dedup = e.groupBy("user_id", "us").agg(F.min("state").alias("state"))
    w = Window.partitionBy("user_id").orderBy("us")
    pts = (
        dedup.withColumn("prev_state", F.lag("state").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", F.col("us").alias("valid_from_us"), "state")
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from_us")
    return (
        pts.select(
            "user_id",
            F.row_number().over(wv).cast("long").alias("version_seq"),
            "state",
            "valid_from_us",
            F.lead("valid_from_us").over(wv).alias("valid_to_us"),
        )
        .withColumn(
            "is_current",
            F.col("valid_to_us").isNull().cast("long"),
        )
        .orderBy("user_id", "version_seq")
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: MRR@k / recall@k with label relevance
# ---------------------------------------------------------------------------

_MRR_QUERIES = 20
_MRR_K = 10


@query(
    "rank_mrr_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {_MRR_QUERIES}
    ),
    scored AS (
      SELECT q.qid, q.qlabel, e.label AS nlabel,
             list_dot_product(qe, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(qe, qe))
                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))))
               AS cs,
             e.vec_id AS nid
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, qlabel, nlabel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cs DESC, nid) AS r
      FROM scored
    ),
    rel_tot AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM ranked WHERE nlabel = qlabel GROUP BY qid
    ),
    top AS (SELECT * FROM ranked WHERE r <= {_MRR_K}),
    m AS (
      SELECT qid,
             MIN(CASE WHEN nlabel = qlabel THEN r END) AS first_rel,
             CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel_topk
      FROM top GROUP BY qid
    )
    SELECT m.qid,
           CAST(m.first_rel AS BIGINT) AS first_rel_rank,
           CASE WHEN m.first_rel IS NULL THEN 0.0
                ELSE 1.0 / m.first_rel END AS mrr_at_k,
           CAST(m.n_rel_topk AS DOUBLE)
             / LEAST({_MRR_K}, rel_tot.n_rel) AS recall_at_k
    FROM m JOIN rel_tot ON m.qid = rel_tot.qid
    ORDER BY m.qid
    """,
)
def rank_mrr_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — MRR@{_MRR_K} and
    recall@{_MRR_K} for the cosine ranker with SAME-LABEL relevance
    (the embeddings fixture's label column as ground truth): the
    offline-eval loop every ANN deployment runs to compare index
    configurations, here against the exact ranking so the metric
    measures the EMBEDDING quality, not index loss (the ANN variants'
    loss vs this exact baseline is separately pinned by the recall
    tests in tests/test_knn.py). first_rel_rank is the raw signal,
    1/rank the MRR contribution, recall normalized by
    min(k, #relevant) so fully-retrievable queries score 1.0.

    Same scale plan as sim_bruteforce_topk: broadcast the
    {_MRR_QUERIES} queries, one corpus pass scores all of them, the
    per-query window ranks partition by qid — at production size the
    candidate stream comes from IVF/LSH instead of the cross
    product, the eval aggregate is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    q = emb.filter(F.col("vec_id") < _MRR_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("label").alias("nlabel"),
            F.col("vec_id").alias("nid"),
            (
                _dot(F.col("qe"), F.col("e"))
                / (
                    F.sqrt(_dot(F.col("qe"), F.col("qe")))
                    * F.sqrt(_dot(F.col("e"), F.col("e")))
                )
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), "nid")
    ranked = scored.withColumn("r", F.row_number().over(w))
    rel_tot = (
        ranked.filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    m = (
        ranked.filter(F.col("r") <= _MRR_K)
        .groupBy("qid")
        .agg(
            F.min(
                F.when(F.col("nlabel") == F.col("qlabel"), F.col("r"))
            ).alias("first_rel"),
            F.sum(
                F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rel_topk"),
        )
    )
    return (
        m.join(rel_tot, "qid")
        .select(
            "qid",
            F.col("first_rel").cast("long").alias("first_rel_rank"),
            F.when(F.col("first_rel").isNull(), 0.0)
            .otherwise(F.lit(1.0) / F.col("first_rel"))
            .alias("mrr_at_k"),
            (
                F.col("n_rel_topk").cast("double")
                / F.least(F.lit(_MRR_K), F.col("n_rel"))
            ).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


_EV_SPLIT = "2024-01-16"  # events span 2024-01-01..2024-01-30 at
# every sf; mid-month split so both eras are populated


@query(
    "stats_chi2_drift",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < epoch_us(TIMESTAMP '{_EV_SPLIT} 00:00:00')
                  THEN 'ref' ELSE 'cur' END AS era
      FROM events
    ),
    cells AS (
      SELECT event_type, era, CAST(COUNT(*) AS BIGINT) AS o
      FROM t GROUP BY event_type, era
    ),
    rows_ AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
              FROM cells GROUP BY event_type),
    cols_ AS (SELECT era, CAST(SUM(o) AS BIGINT) AS ct
              FROM cells GROUP BY era),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    x AS (
      SELECT c.event_type, c.era, c.o,
             CAST(r.rt AS DOUBLE) * ct.ct / n.n AS e
      FROM cells c
      JOIN rows_ r ON c.event_type = r.event_type
      JOIN cols_ ct ON c.era = ct.era
      CROSS JOIN n
    )
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_categories,
           CAST(COUNT(DISTINCT event_type) - 1 AS BIGINT) AS dof,
           SUM((o - e) * (o - e) / e) AS chi2_stat,
           CAST(SUM((o - e) * (o - e) / e) > 9.487729036781154
                AS BIGINT) AS drift_flag_05
    FROM x
    """,
)
def stats_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity drift test for CATEGORICAL features —
    completing the drift-monitor trio (PSI for binned numerics, KS
    for continuous, χ² for categories): did the event-type mix shift
    between the reference and current eras? Observed counts per
    (category, era) cell vs the homogeneity expectation
    row·col/N, χ² = Σ(O−E)²/E against the 0.05 critical value for
    dof = k−1 = 4 (9.4877). The 2×k contingency table is ONE
    map-side-combined aggregate over the corpus; everything after is
    O(k) arithmetic over exact integer counts — deterministic
    cross-engine, no corpus re-scan.

    At 100 TB this runs per feature per day from the same grouped
    pass a monitoring dashboard already takes; only the k-row cell
    table moves."""
    t = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.to_date("ts") < F.lit(_EV_SPLIT), "ref")
        .otherwise("cur")
        .alias("era"),
    )
    cells = t.groupBy("event_type", "era").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_ = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("era").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    x = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "era")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "o",
            (F.col("rt").cast("double") * F.col("ct") / F.col("n")).alias(
                "e"
            ),
        )
    )
    chi2 = F.sum(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    )
    return x.agg(
        F.countDistinct("event_type").cast("long").alias("n_categories"),
        (F.countDistinct("event_type") - 1).cast("long").alias("dof"),
        chi2.alias("chi2_stat"),
        (chi2 > F.lit(9.487729036781154)).cast("long").alias("drift_flag_05"),
    )


@query(
    "warehouse_scd2_pit_join",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_type AS state,
             CAST(value AS DECIMAL(18,6)) AS value
      FROM events WHERE user_id IS NOT NULL AND user_id < 100
    ),
    dedup AS (
      SELECT user_id, us, MIN(state) AS state
      FROM e GROUP BY user_id, us
    ),
    chg AS (
      SELECT user_id, us, state,
             LAG(state) OVER (PARTITION BY user_id ORDER BY us)
               AS prev_state
      FROM dedup
    ),
    dim AS (
      SELECT user_id, us AS valid_from_us,
             LEAD(us) OVER (PARTITION BY user_id ORDER BY us)
               AS valid_to_us,
             state
      FROM chg
      WHERE prev_state IS NULL OR state <> prev_state
    ),
    facts AS (
      SELECT user_id, us, value FROM e
      WHERE value IS NOT NULL
    ),
    joined AS (
      SELECT d.state, f.value
      FROM facts f JOIN dim d
        ON f.user_id = d.user_id
       AND f.us >= d.valid_from_us
       AND (d.valid_to_us IS NULL OR f.us < d.valid_to_us)
    )
    SELECT state,
           CAST(COUNT(*) AS BIGINT) AS n_facts,
           CAST(SUM(value) AS DOUBLE) AS value_sum
    FROM joined
    GROUP BY state ORDER BY state
    """,
)
def warehouse_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts against the SCD2 dimension —
    the USE side of warehouse_scd2_build: every fact row joins the
    dimension version whose [valid_from, valid_to) interval contains
    its timestamp, the query shape behind 'revenue by the customer
    segment they were in AT PURCHASE TIME' (joining today's segment
    would be temporal leakage — the exact bug the SCD2 pattern
    exists to prevent). Implemented as the interval form of the
    as-of join: equi-key on the entity plus the range predicate,
    which Spark executes as a key-partitioned join with the interval
    filter applied inside the matched group.

    Every fact matches EXACTLY ONE version (intervals partition the
    timeline per entity, the build's change-point filter guarantees
    disjointness), so the aggregate is conservation-checked: total
    joined facts == total facts (asserted in tests). One user-keyed
    shuffle shared by build and join; value sums accumulate in
    DECIMAL."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") < 100))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.col("event_type").alias("state"),
            F.col("value").cast("decimal(18,6)").alias("value"),
        )
    )
    dedup = (
        e.groupBy("user_id", "us").agg(F.min("state").alias("state"))
    )
    w = Window.partitionBy("user_id").orderBy("us")
    dim = (
        dedup.withColumn("prev_state", F.lag("state").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select(
            "user_id",
            F.col("us").alias("valid_from_us"),
            "state",
        )
    )
    # valid_to over the change-point set (post-filter, matching the
    # SQL window-after-WHERE semantics)
    wp = Window.partitionBy("user_id").orderBy("valid_from_us")
    dim = dim.withColumn(
        "valid_to_us", F.lead("valid_from_us").over(wp)
    )
    facts = e.filter(F.col("value").isNotNull()).select(
        "user_id", "us", "value"
    )
    joined = facts.join(dim, "user_id").filter(
        (F.col("us") >= F.col("valid_from_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("us") < F.col("valid_to_us"))
        )
    )
    return (
        joined.groupBy("state")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.sum("value").cast("double").alias("value_sum"),
        )
        .orderBy("state")
    )


@query(
    "dq_freshness_sla",
    oracle=f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(epoch_us(ts)) AS last_us
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           CAST(mx.now_us - per.last_us AS BIGINT) AS staleness_us,
           CAST(mx.now_us - per.last_us
                > CAST(21600000000 AS BIGINT) AS BIGINT) AS sla_breach_6h
    FROM per CROSS JOIN mx
    ORDER BY event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA monitor — the first page of every pipeline
    dashboard: per source (event type), how stale is the newest
    record relative to the corpus watermark (max ts standing in for
    'now' so the fixture stays deterministic), and does it breach a
    6-hour freshness SLA. ONE map-side-combined aggregate produces
    both the per-source watermarks and the global one; the flag is
    O(sources) arithmetic. At 100 TB this is a footer-only question
    when the table is the lake log (max-ts rides add-action stats —
    see lake_stats_only_agg); here it is the single-pass corpus
    form."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    mx = ev.agg(F.max("us").alias("now_us"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("us").alias("last_us"),
    )
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            "n_events",
            (F.col("now_us") - F.col("last_us"))
            .cast("long")
            .alias("staleness_us"),
            (
                (F.col("now_us") - F.col("last_us"))
                > 6 * 3600 * 1_000_000
            )
            .cast("long")
            .alias("sla_breach_6h"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Conversion-latency quantiles + exact average precision
# ---------------------------------------------------------------------------


@query(
    "events_conversion_latency",
    oracle="""
    WITH per AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_buy
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, first_buy - first_view AS lat_us
      FROM per
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM conv),
    ranked AS (
      SELECT lat_us,
             ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rnk
      FROM conv
    ),
    viewers AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers FROM per
      WHERE first_view IS NOT NULL
    )
    SELECT n.n AS n_converted,
           v.n_viewers,
           CAST(n.n AS DOUBLE) / v.n_viewers AS conversion_rate,
           (SELECT lat_us FROM ranked
            WHERE rnk = CAST(ceil(0.50 * n.n) AS BIGINT)) AS p50_lat_us,
           (SELECT lat_us FROM ranked
            WHERE rnk = CAST(ceil(0.90 * n.n) AS BIGINT)) AS p90_lat_us
    FROM n CROSS JOIN viewers v
    """,
)
def events_conversion_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution — the funnel question
    funnel_conversion's counts don't answer: among users whose first
    purchase follows their first view, how LONG did conversion take
    (exact p50/p90 of the latency) and what share of viewers ever
    converted. One user-keyed aggregate builds both first-touch
    timestamps (conditional MIN — no self-join), the latency set is
    then tiny relative to the corpus, and the exact percentiles ride
    the ceil-rank rule on the distributed global rank
    (operators/prefix) — integer microseconds end to end, no float
    anywhere, deterministic (lat, user) tie-break."""
    from etl_lens_spark.operators.prefix import ordered_global_rank

    per = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "view", F.unix_micros("ts")
                )
            ).alias("first_view"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros("ts"),
                )
            ).alias("first_buy"),
        )
    )
    conv = per.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        "user_id",
        (F.col("first_buy") - F.col("first_view")).alias("lat_us"),
    )
    n = conv.agg(F.count(F.lit(1)).cast("long").alias("n"))
    viewers = per.filter(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_viewers")
    )
    ranked = ordered_global_rank(
        conv, [F.asc("lat_us"), F.asc("user_id")], "rnk"
    )
    targets = (
        spark.range(1)
        .select(
            F.explode(
                F.array(F.lit(0.50), F.lit(0.90))
            ).alias("p")
        )
        .crossJoin(F.broadcast(n))
        .select(
            "p",
            F.ceil(F.col("p") * F.col("n")).cast("long").alias("rnk"),
        )
    )
    # global conditional agg, NOT groupBy().pivot(): a pivot over an
    # empty frame yields 0 rows (making the final crossJoin empty)
    # while the oracle still emits 1 row with NULL quantiles — the
    # agg form always returns exactly one row, NULLs when no user
    # converted
    qs = ranked.join(F.broadcast(targets), "rnk").agg(
        F.max(F.when(F.col("p") == 0.50, F.col("lat_us"))).alias(
            "p50_lat_us"
        ),
        F.max(F.when(F.col("p") == 0.90, F.col("lat_us"))).alias(
            "p90_lat_us"
        ),
    )
    return (
        n.crossJoin(F.broadcast(viewers))
        .crossJoin(F.broadcast(qs))
        .select(
            F.col("n").alias("n_converted"),
            "n_viewers",
            (F.col("n").cast("double") / F.col("n_viewers")).alias(
                "conversion_rate"
            ),
            "p50_lat_us",
            "p90_lat_us",
        )
    )


@query(
    "ml_eval_average_precision",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS k,
             SUM(label) OVER (ORDER BY score DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM scored
    ),
    tot AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos,
                   CAST(COUNT(*) AS BIGINT) AS n_docs FROM ranked)
    SELECT t.n_pos, t.n_docs,
           CAST(SUM(CASE WHEN label = 1 THEN
                 CAST(CAST(cum_pos AS DOUBLE) / k AS DECIMAL(18,9))
               END) AS DOUBLE) / t.n_pos AS avg_precision,
           CAST(t.n_pos AS DOUBLE) / t.n_docs AS prevalence
    FROM ranked CROSS JOIN tot t
    GROUP BY t.n_pos, t.n_docs
    """,
)
def ml_eval_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact AVERAGE PRECISION (area under the precision-recall
    curve by the standard step definition) — the imbalance-robust
    companion to ml_eval_auc_rank's ROC AUC, on the same integer
    scoring task (n_chars predicting lang='en'): AP = mean over
    positive ranks k of precision@k. ROC AUC is blind to prevalence;
    AP degrades toward the prevalence baseline (emitted alongside)
    exactly when the ranker stops front-loading positives — the
    metric retrieval and filtering pipelines actually tune.

    Distributed form: the global ranking and the cumulative positive
    count ride ONE range exchange (operators/prefix — rank and
    prefix sum share the partitioning, no single-reducer window);
    each positive's precision p/k is an IEEE-identical two-operand
    division rounded into DECIMAL(18,9) so the sum is
    order-independent (the functions/numeric.py discipline); one
    final division by n_pos. Deterministic (score DESC, doc_id)
    tie-break keeps both engines' rankings identical."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sums

    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    # rank = prefix sum of ones — BOTH running columns ride the one
    # range exchange ordered_prefix_sums performs
    ranked = ordered_prefix_sums(
        scored.withColumn("__one", F.lit(1)),
        [F.desc("score"), F.asc("doc_id")],
        {"cum_pos": "label", "k": "__one"},
    )
    tot = scored.agg(
        F.sum("label").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    contrib = F.when(
        F.col("label") == 1,
        (F.col("cum_pos").cast("double") / F.col("k")).cast(
            "decimal(18,9)"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_pos", "n_docs")
        .agg(
            (F.sum(contrib).cast("double") / F.first("n_pos")).alias(
                "avg_precision"
            ),
            (
                F.first("n_pos").cast("double") / F.first("n_docs")
            ).alias("prevalence"),
        )
        .select("n_pos", "n_docs", "avg_precision", "prevalence")
    )


# ---------------------------------------------------------------------------
# Lexical diversity: Yule's K + hapax ratio per source
# ---------------------------------------------------------------------------


@query(
    "text_yule_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(string_split(regexp_replace(trim(lower(text)),
                                                '\\s+', ' ', 'g'),
                    ' ')) AS w
      FROM documents
    ),
    tf AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS m
      FROM toks GROUP BY source, w
    ),
    spectrum AS (
      SELECT source, m, CAST(COUNT(*) AS BIGINT) AS v_m
      FROM tf GROUP BY source, m
    )
    SELECT source,
           CAST(SUM(m * v_m) AS BIGINT) AS n_tokens,
           CAST(SUM(v_m) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN m = 1 THEN v_m ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN m = 1 THEN v_m ELSE 0 END) AS DOUBLE)
             / SUM(v_m) AS hapax_ratio,
           10000.0 * (SUM(m * m * v_m) - SUM(m * v_m))
             / (CAST(SUM(m * v_m) AS DOUBLE) * SUM(m * v_m))
             AS yule_k
    FROM spectrum
    GROUP BY source ORDER BY source
    """,
)
def text_yule_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Yule's K and the hapax-legomena ratio per source — the
    length-robust lexical-diversity pair (plain TTR shrinks with
    corpus size; K = 10⁴·(Σm²V_m − N)/N² over the frequency
    spectrum V_m is asymptotically length-free, and the hapax share
    is the classic low-quality/boilerplate signal: templated spam
    has few hapaxes, rich prose many). Complements text_zipf_fit
    (rank-frequency slope) and text_token_entropy with the
    repeated-draw view of the same distribution.

    One (source, word) count, one spectrum fold, then O(distinct m)
    arithmetic — every aggregate map-side combined, all integers
    until the final two divisions (order-independent by
    construction). The tokenizer is the shared normalized-whitespace
    split used across the text family."""
    from etl_lens_spark.text import pipeline as tp

    toks = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(tp.ws_tokens(F.lower(F.col("text")))).alias("w"),
    )
    tf = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    spectrum = tf.groupBy("source", "m").agg(
        F.count(F.lit(1)).cast("long").alias("v_m")
    )
    n = F.sum(F.col("m") * F.col("v_m"))
    m2 = F.sum(F.col("m") * F.col("m") * F.col("v_m"))
    hapax = F.sum(F.when(F.col("m") == 1, F.col("v_m")).otherwise(0))
    return (
        spectrum.groupBy("source")
        .agg(
            n.cast("long").alias("n_tokens"),
            F.sum("v_m").cast("long").alias("n_types"),
            hapax.cast("long").alias("n_hapax"),
            (hapax.cast("double") / F.sum("v_m")).alias("hapax_ratio"),
            (
                F.lit(10000.0)
                * (m2 - n)
                / (n.cast("double") * n)
            ).alias("yule_k"),
        )
        .orderBy("source")
    )
