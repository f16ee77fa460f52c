"""Third tranche of [N] training-data-pipeline queries: C4-style
segment-level corpus dedup with document reassembly, directional
n-gram containment (subset-duplication detection), a self-trained
bigram language-model quality score, and incremental partial-aggregate
merging (the algebraic core of materialized-view / streaming-state
maintenance).

Oracle strategy: all four are fully SQL-expressible; DuckDB mirrors
the exact arithmetic (same tokenization expression text as the other
text tranches, same add-one smoothing, same merge algebra).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.dedup import minhash as mh
from etl_lens_spark.operators.partitioning import parallelize_compute
from etl_lens_spark.operators.staging import stage
from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.text import pipeline as tp

_TOKS_SQL = "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"
# add_shingles normalizes (lower) first — mirror its expression:
_NORM_TOKS_SQL = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)


@query(
    "dedup_segment_corpus",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    segs AS (
      SELECT doc_id,
             [array_to_string(t[i:i+19], ' ')
              for i in range(1, greatest(len(t), 1) + 1, 20)] AS s
      FROM toks
    ),
    ex AS (
      SELECT doc_id, unnest(s) AS seg,
             unnest(range(0, len(s))) AS seg_idx
      FROM segs
    ),
    kept AS (
      SELECT doc_id, seg_idx, seg
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                                         ORDER BY doc_id, seg_idx) AS rn
            FROM ex)
      WHERE rn = 1
    ),
    reb AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS rebuilt
      FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(len(s.s) AS BIGINT) AS n_segs,
           COALESCE(r.n_kept, 0) AS n_kept,
           md5(COALESCE(r.rebuilt, '')) AS text_fp
    FROM segs s LEFT JOIN reb r ON s.doc_id = r.doc_id
    ORDER BY s.doc_id
    """,
    headline=True,
)
def dedup_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup across the whole corpus: 20-token
    segments, first-seen occurrence wins, documents reassembled from
    their surviving segments (text.pipeline.segment_dedup). Output
    fingerprints the rebuilt text so the oracle hash pins every byte
    of the reassembly."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    out = tp.segment_dedup(docs, seg_tokens=20)
    return out.select(
        "doc_id",
        "n_segs",
        "n_kept",
        F.md5("rebuilt_text").alias("text_fp"),
    ).orderBy("doc_id")


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, greatest(len(t), 2))]) AS sh
        FROM (SELECT doc_id, {_NORM_TOKS_SQL} AS t
              FROM documents WHERE doc_id < 150)
    ),
    tok AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM docs),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS n_inter
        FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    dirs AS (
        SELECT doc_a AS doc_sub, doc_b AS doc_sup,
               CAST(n_inter AS DOUBLE) / sz_a AS containment
        FROM inter
        UNION ALL
        SELECT doc_b AS doc_sub, doc_a AS doc_sup,
               CAST(n_inter AS DOUBLE) / sz_b AS containment
        FROM inter
    )
    SELECT doc_sub, doc_sup, containment
    FROM dirs WHERE containment >= 0.5
    ORDER BY doc_sub, doc_sup
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment |sh(A) ∩ sh(B)| / |sh(A)| over distinct
    word 2-grams (dedup.minhash.ngram_containment_pairs): flags docs
    mostly contained in a larger one — the case symmetric Jaccard
    misses. Bounded to doc_id < 150 for the oracle fixture (at scale
    this is the verify stage over LSH candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    return mh.ngram_containment_pairs(
        docs, n=2, min_containment=0.5, candidate_filter=F.col("doc_id") < 150
    ).orderBy("doc_sub", "doc_sup")


@query(
    "text_lm_bigram_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bi AS (
      SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
                             for i in range(1, len(t))]) AS g
      FROM toks
    ),
    cb AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cbi FROM bi GROUP BY g),
    cu AS (SELECT string_split(g, ' ')[1] AS w1,
                  CAST(SUM(cbi) AS BIGINT) AS cw1
           FROM cb GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz
          FROM (SELECT unnest(t) AS tok FROM toks)),
    sc AS (
      SELECT b.doc_id,
             ln((cb.cbi + 1.0) / (cu.cw1 + v.vsz)) AS lp
      FROM bi b
      JOIN cb ON b.g = cb.g
      JOIN cu ON string_split(b.g, ' ')[1] = cu.w1
      CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             AVG(lp) AS avg_logp
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           a.avg_logp AS avg_logp
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id
    """,
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram language-model score per document (the
    CCNet/perplexity-filter primitive): train add-one-smoothed bigram
    probabilities on the corpus itself, score each document by its
    mean log-probability. Low scores flag gibberish / outlier docs.

    Distributed form: bigram counts via one groupBy with map-side
    combine; the first-token marginal is derived from the already
    reduced count table (not a second pass over the corpus); the
    vocabulary size joins in as a broadcast scalar; scoring joins the
    exploded bigrams to the count tables on well-distributed string
    keys. The corpus text itself never shuffles — only (gram, count)
    pairs do."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    toks = tp.ws_tokens(F.col("text"))
    bi = docs.select(
        "doc_id", F.explode(tp.word_ngrams(toks, 2)).alias("g")
    )
    cb = bi.groupBy("g").agg(F.count(F.lit(1)).alias("cbi"))
    cu = (
        cb.select(F.split("g", " ").getItem(0).alias("w1"), "cbi")
        .groupBy("w1")
        .agg(F.sum("cbi").alias("cw1"))
    )
    v = docs.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").alias("vsz")
    )
    sc = (
        bi.join(cb, "g")
        .join(
            cu, F.split(bi["g"], " ").getItem(0) == cu["w1"]
        )
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("cbi") + F.lit(1.0))
                / (F.col("cw1") + F.col("vsz"))
            ).alias("lp"),
        )
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("lp").alias("avg_logp"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            "avg_logp",
        )
        .orderBy("doc_id")
    )


@query(
    "incremental_agg_merge",
    oracle="""
    WITH part AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             o_orderkey % 2 AS batch_id,
             CAST(COUNT(*) AS BIGINT) AS p_cnt,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS p_sum,
             MIN(o_totalprice) AS p_min,
             MAX(o_totalprice) AS p_max
      FROM orders GROUP BY 1, 2
    )
    SELECT ym,
           CAST(SUM(p_cnt) AS BIGINT) AS n_orders,
           CAST(SUM(p_sum) AS DOUBLE) AS total_price,
           MIN(p_min) AS min_price,
           MAX(p_max) AS max_price,
           CAST(SUM(p_sum) AS DOUBLE) / CAST(SUM(p_cnt) AS BIGINT)
             AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS n_partials
    FROM part GROUP BY ym
    ORDER BY ym
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: two independent micro-batches
    (orders split by key parity — stand-ins for 'yesterday's rollup'
    and 'today's delta') are each reduced to algebraic partial states
    (count/sum/min/max), then the partials are MERGED without touching
    the raw rows again — the exact state algebra a streaming sink or
    materialized view runs on every refresh. avg is derived at merge
    time (sum/count), never averaged-of-averages.

    The oracle computes the same two-level reduction; because the
    aggregates are algebraic the result equals a direct one-shot
    aggregate — the merge identity this operator exists to provide.
    """
    orders = load_table(spark, sf_dir, "orders")
    partial = (
        orders.withColumn("batch_id", F.col("o_orderkey") % 2)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"), "batch_id"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("p_cnt"),
            # DECIMAL partial state: the sum stays exact (and thus
            # order/partition-independent) through the merge — the
            # sf0.1 permutation probe caught the double form flaking
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "p_sum"
            ),
            F.min("o_totalprice").alias("p_min"),
            F.max("o_totalprice").alias("p_max"),
        )
    )
    return (
        partial.groupBy("ym")
        .agg(
            F.sum("p_cnt").cast("long").alias("n_orders"),
            F.sum("p_sum").cast("double").alias("total_price"),
            F.min("p_min").alias("min_price"),
            F.max("p_max").alias("max_price"),
            (
                F.sum("p_sum").cast("double")
                / F.sum("p_cnt").cast("long")
            ).alias("avg_price"),
            F.count(F.lit(1)).cast("long").alias("n_partials"),
        )
        .orderBy("ym")
    )


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    tot_u AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM uni),
    bi AS (
      SELECT unnest([array_to_string(t[i:i+1], ' ')
                     for i in range(1, len(t))]) AS g
      FROM toks
    ),
    cb AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY g
           HAVING COUNT(*) >= 5),
    tot_b AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM bi)
    SELECT w1, w2, c,
           ln((CAST(c AS DOUBLE) / nbi) /
              ((CAST(u1.cu AS DOUBLE) / nu) * (CAST(u2.cu AS DOUBLE) / nu)))
             AS pmi
    FROM (SELECT string_split(g, ' ')[1] AS w1,
                 string_split(g, ' ')[2] AS w2, c FROM cb)
    JOIN uni u1 ON w1 = u1.tok
    JOIN uni u2 ON w2 = u2.tok
    CROSS JOIN tot_u CROSS JOIN tot_b
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information phrase detection: corpus-wide
    bigram PMI = ln(P(w1,w2) / (P(w1)·P(w2))), min count 5, top 50
    (the word2vec-phrases / collocation-mining primitive for building
    tokenizer merge candidates).

    Count tables reduce map-side before their shuffles; the totals
    join in as broadcast scalars; the PMI join keys are single tokens
    (the unigram table is small relative to the corpus and broadcasts
    under AQE at fixture scale, shuffles cleanly at 100 TB)."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    toks = tp.ws_tokens(F.col("text"))
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    nu = uni.agg(F.sum("cu").cast("long").alias("nu"))
    bi = docs.select(F.explode(tp.word_ngrams(toks, 2)).alias("g"))
    # ONE tokenize+explode pass feeds the bigram count table; the
    # corpus-wide total then aggregates that (small) table instead of
    # re-tokenizing the corpus a third time (staged: the nbi total
    # and the PMI join both read it)
    cb_all = (
        bi.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(stage, "pmi_bigram_counts")
    )
    nbi = cb_all.agg(F.sum("c").cast("long").alias("nbi"))
    cb = (
        cb_all.filter(F.col("c") >= 5)
        .select(
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
            "c",
        )
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    return (
        cb.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nbi))
        .select(
            "w1",
            "w2",
            "c",
            F.log(
                (F.col("c").cast("double") / F.col("nbi"))
                / (
                    (F.col("cu1").cast("double") / F.col("nu"))
                    * (F.col("cu2").cast("double") / F.col("nu"))
                )
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


@query(
    "text_tfidf_cosine_pairs",
    oracle="""
    WITH tf AS (
        SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 150) t
        GROUP BY doc_id, t.term
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents WHERE doc_id < 150),
    w AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS wt
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    norms AS (
        SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(a.wt * b.wt) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           dot / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted cosine similarity between documents sharing
    terms (the sparse-vector complement of embedding cosine: rare
    shared terms dominate, boilerplate terms are damped by idf).
    Inverted-index join on term — identical shape to the Jaccard
    verify stage, with idf broadcast (vocabulary-sized) and the only
    big shuffle being the (doc, term) count. Bounded to doc_id < 150
    for the oracle fixture; at scale this runs on LSH candidates."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    )
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        (
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
        ).alias("wt"),
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("wt").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("wt").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "text_lm_kneser_ney_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bi AS (
      SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
                             for i in range(1, len(t))]) AS g
      FROM toks
    ),
    cb AS (
      SELECT g, string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS cbi
      FROM bi GROUP BY g
    ),
    cu AS (SELECT w1, CAST(SUM(cbi) AS BIGINT) AS cw1,
                  CAST(COUNT(*) AS BIGINT) AS n1f
           FROM cb GROUP BY w1),
    pc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM cb GROUP BY w2),
    ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cb),
    sc AS (
      SELECT b.doc_id,
             ln((CAST(cb.cbi AS DOUBLE) - 0.75) / CAST(cu.cw1 AS DOUBLE)
                + 0.75 * CAST(cu.n1f AS DOUBLE) / CAST(cu.cw1 AS DOUBLE)
                  * (CAST(pc.n1r AS DOUBLE) / CAST(ty.t AS DOUBLE))) AS lp
      FROM bi b
      JOIN cb ON b.g = cb.g
      JOIN cu ON cb.w1 = cu.w1
      JOIN pc ON cb.w2 = pc.w2
      CROSS JOIN ty
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             AVG(lp) AS avg_logp_kn
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           a.avg_logp_kn AS avg_logp_kn
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id
    """,
)
def text_lm_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document — the
    production successor to `text_lm_bigram_score`'s add-one
    smoothing (KN is what KenLM-style perplexity filters actually
    use): P(w2|w1) = max(c(w1w2)-d, 0)/c(w1·) + d·N1+(w1·)/c(w1·) ·
    N1+(·w2)/|bigram types|, with the standard d = 0.75. Scoring the
    training corpus itself means every bigram has c ≥ 1, so the
    max(·,0) never clips and the score is strictly positive.

    Distributed form mirrors the add-one query: ONE groupBy builds
    the bigram type table with map-side combine; the forward
    (c(w1·), N1+(w1·)) and backward continuation (N1+(·w2)) marginals
    both derive from that already-reduced table, never from a second
    corpus pass; the type total joins in as a broadcast scalar.
    Text never shuffles — only (gram, count) pairs and the exploded
    gram keys do."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    toks = tp.ws_tokens(F.col("text"))
    bi = docs.select(
        "doc_id", F.explode(tp.word_ngrams(toks, 2)).alias("g")
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
    # arithmetic shape mirrors the oracle token-for-token so the
    # IEEE double result is bit-identical cross-engine
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
        .select("doc_id", lp.alias("lp"))
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("lp").alias("avg_logp_kn"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            "avg_logp_kn",
        )
        .orderBy("doc_id")
    )


# md5-folded 52-bit hash of a seeded gram — the DuckDB replica of the
# Spark expression in dedup_minhash_lsh_oracle (same fold as
# operators/kmv.py, seeded by prefixing the gram)
_MH_SQL = (
    "list_reduce(list_transform(range(1, 14), i -> CAST(strpos("
    "'0123456789abcdef', substr(md5(CAST(s AS VARCHAR) || ':' || g), "
    "i, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
)


@query(
    "dedup_minhash_lsh_oracle",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest([array_to_string(t[i:i+1], ' ')
                       for i in range(1, len(t))]) AS g
        FROM toks
    ),
    hv AS (
        SELECT doc_id, r.s, MIN({_MH_SQL}) AS m
        FROM sh CROSS JOIN (SELECT unnest(range(8)) AS s) r
        GROUP BY doc_id, r.s
    ),
    sigs AS (
        SELECT doc_id,
               MAX(CASE WHEN s = 0 THEN m END) AS s0,
               MAX(CASE WHEN s = 1 THEN m END) AS s1,
               MAX(CASE WHEN s = 2 THEN m END) AS s2,
               MAX(CASE WHEN s = 3 THEN m END) AS s3,
               MAX(CASE WHEN s = 4 THEN m END) AS s4,
               MAX(CASE WHEN s = 5 THEN m END) AS s5,
               MAX(CASE WHEN s = 6 THEN m END) AS s6,
               MAX(CASE WHEN s = 7 THEN m END) AS s7
        FROM hv GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS b, s0 || '_' || s1 AS key FROM sigs
        UNION ALL SELECT doc_id, 1, s2 || '_' || s3 FROM sigs
        UNION ALL SELECT doc_id, 2, s4 || '_' || s5 FROM sigs
        UNION ALL SELECT doc_id, 3, s6 || '_' || s7 FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
           GROUP BY doc_id),
    jac AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter,
               sa.n AS na, sb.n AS nb
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.g = a.g
        JOIN sz sa ON sa.doc_id = c.doc_a
        JOIN sz sb ON sb.doc_id = c.doc_b
        GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
               AS jaccard
    FROM jac
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection with a FULLY ORACLE-CHECKED
    pipeline — the companion to dedup_minhash_lsh (which keeps the
    faster xxhash64 signatures and is rows-only because DuckDB lacks
    that hash): seeded md5-folded minima give 8-hash signatures both
    engines compute bit-identically, so the banding (4 bands × 2
    rows), the bucket self-join, the candidate set, AND the exact
    Jaccard verify stage all hash-match end to end. This closes the
    one auditability gap of the LSH family: the oracle now re-derives
    the probabilistic index itself, not just its error bounds.

    Same scale shape as the production twin: one shingle explode
    feeds ONE map-side-combining groupBy computing all 8 minima
    (signatures never materialize per-shingle), bands shuffle as
    scalar keys, candidates are bucket-bounded — never all-pairs —
    and the verify join touches only candidate docs' shingles."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    toks = tp.ws_tokens(F.col("text"))
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tp.word_ngrams(toks, 2))).alias("g"),
    )

    def h(s: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"{s}:"), F.col("g")).cast("binary")
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
        )

    sigs = sh.groupBy("doc_id").agg(
        *[F.min(h(s)).alias(f"s{s}") for s in range(8)]
    )
    bands = None
    for b in range(4):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("b"),
            F.concat_ws(
                "_",
                F.col(f"s{2 * b}").cast("string"),
                F.col(f"s{2 * b + 1}").cast("string"),
            ).alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    bb = bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "g")
    shb = sh.select(F.col("doc_id").alias("b_doc"), F.col("g").alias("gb"))
    jac = (
        cand.join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("b_doc")) & (F.col("g") == F.col("gb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        jac.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


_SH_BITS = 32
_SH_CHUNKS = 4  # 4 chunks x 8 bits: pigeonhole-complete through hamming <= 3
_SH_HAM = 1

# unseeded md5 fold of a token (same 52-bit fold as _MH_SQL)
_SH_H_SQL = (
    "list_reduce(list_transform(range(1, 14), i -> CAST(strpos("
    "'0123456789abcdef', substr(md5(g), i, 1)) - 1 AS BIGINT)), "
    "(a, b) -> a * 16 + b)"
)


def _simhash_oracle() -> str:
    bit_sums = ",\n               ".join(
        f"SUM(tf * (2 * ((h >> {b}) & 1) - 1)) AS b{b}"
        for b in range(_SH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    chunk_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS c, (sig >> {8 * c}) & 255 AS v "
        f"FROM sigs"
        for c in range(_SH_CHUNKS)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    w AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS g FROM toks)
          GROUP BY doc_id, g),
    hv AS (SELECT doc_id, tf, {_SH_H_SQL} & 4294967295 AS h FROM w),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM hv GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig_expr} AS sig FROM bits),
    chunks AS (
        {chunk_rows}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM chunks a JOIN chunks b
          ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming
    FROM pairs WHERE hamming <= {_SH_HAM}
    ORDER BY doc_a, doc_b
    """


@query("dedup_simhash_oracle", oracle=_simhash_oracle())
def dedup_simhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection with a FULLY ORACLE-CHECKED
    pipeline — companion to dedup_simhash (xxhash64, rows-only) the
    same way dedup_minhash_lsh_oracle companions the LSH query:
    tf-WEIGHTED bit votes (the Charikar/Manku form — unit weights
    cannot separate this corpus's shared vocabulary) over md5-folded
    token hashes make the 32-bit signature, the 4×8-bit
    chunk blocking (pigeonhole-complete through Hamming ≤ 3, declared
    radius 1: any pair within the radius must agree on ≥ 1 chunk), the bucket join,
    and the Hamming verify all bit-identical across engines.

    One token-count reduce feeds ONE groupBy computing all 32
    weighted bit-vote sums map-side; signatures are scalar ints; chunks
    shuffle as (chunk, nibble) keys — the candidate set is bucket-
    bounded, never all-pairs."""
    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    toks = tp.ws_tokens(F.col("text"))
    w = (
        docs.select("doc_id", F.explode(toks).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    h = (
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 13), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(4294967295))
    )
    hv = w.select("doc_id", "tf", h.alias("h"))
    bits = hv.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"b{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = None
    for b in range(_SH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    sigs = bits.select("doc_id", sig.cast("long").alias("sig"))
    chunks = None
    for c in range(_SH_CHUNKS):
        part = sigs.select(
            "doc_id",
            "sig",
            F.lit(c).alias("c"),
            F.shiftright("sig", 8 * c).bitwiseAND(F.lit(255)).alias("v"),
        )
        chunks = part if chunks is None else chunks.unionByName(part)
    a = chunks.alias("a")
    b2 = chunks.alias("b")
    pairs = (
        a.join(
            b2,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return (
        pairs.filter(F.col("hamming") <= _SH_HAM)
        .orderBy("doc_a", "doc_b")
    )
