"""Round-5 continuation tranche: contrastive-batch construction
(uniform-k negative sampling with positive exclusion — the cheap
sibling of emb_hard_negative_mining), label-noise detection via k-NN
disagreement (confident-learning-lite), and tokenizer fertility
comparison across the BPE / unigram-LM / WordPiece trio on one corpus
(the SURVEY round-6 candidate list, pulled forward).

Same contract as every npipe tranche: PySpark plan + hand-written
DuckDB oracle on identical parquet where the math is SQL-expressible;
rows-only + pinned invariant tests where it is not (the BPE merge
loop and the Viterbi DP are sequential-by-definition — their parity
is already pinned vs pure-Python references in tests/test_bpe.py and
tests/test_unigram.py; fertility composes those audited encoders).
Randomness is LCG-style modular arithmetic over row ids — identical
BIGINT math in both engines, never engine RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_lens_spark.queries import query
from etl_lens_spark.similarity.knn import dot as _dot
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import freeze, stage

# ---------------------------------------------------------------------------
# Uniform-k negative sampling with positive exclusion
# ---------------------------------------------------------------------------

_NS_ANCHORS = 16  # anchors: vec_id < 16
_NS_K = 4  # negatives per anchor
# Knuth's multiplicative-hash constant + odd mixers; all products stay
# far inside int64 (2654435761 * (anchors+1) ≈ 4.5e10).
_NS_A = 2654435761
_NS_B = 40503
_NS_C = 69621
_NS_M = 1000000007


@query(
    "emb_negative_sampling",
    oracle=f"""
    WITH v AS (SELECT vec_id, label FROM embeddings),
    q AS (
      SELECT vec_id AS qid, label AS q_label
      FROM v WHERE vec_id < {_NS_ANCHORS}
    ),
    pairs AS (
      SELECT q.qid, q.q_label, c.vec_id AS cid, c.label AS c_label,
             (CAST({_NS_A} AS BIGINT) * (q.qid + 1)
              + CAST({_NS_B} AS BIGINT) * (c.vec_id + 1)
              + {_NS_C}) % {_NS_M} AS r
      FROM q JOIN v c ON c.label <> q.q_label
    ),
    rk AS (
      SELECT *, row_number() OVER (
               PARTITION BY qid ORDER BY r, cid) AS neg_rank
      FROM pairs
    )
    SELECT qid, q_label, CAST(neg_rank AS BIGINT) AS neg_rank,
           cid AS neg_id, c_label AS neg_label,
           CAST(r AS BIGINT) AS sample_key
    FROM rk WHERE neg_rank <= {_NS_K}
    ORDER BY qid, neg_rank
    """,
)
def emb_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Contrastive-batch negative sampling: for each anchor, k
    negatives drawn UNIFORMLY from the corpus with positive exclusion
    (label ≠ anchor label) — the standard easy-negative complement to
    emb_hard_negative_mining's similarity-ranked hard negatives.
    "Uniform" is a deterministic multiplicative-hash rank
    r(qid, cid) = (A·(qid+1) + B·(cid+1) + C) mod M over pure BIGINT
    arithmetic, so both engines draw the SAME sample and the draw is
    replayable (re-running the pipeline on the same corpus snapshot
    reproduces the training batches bit-for-bit — the property that
    matters for data lineage).

    100 TB posture: anchors broadcast against the corpus; the window
    is per-anchor so the rank filter compiles to WindowGroupLimit —
    each map task forwards at most k rows per anchor and the shuffle
    is O(anchors × k), not O(anchors × corpus). The production swap
    for billions of candidates is per-label-bucket pre-sampling (the
    hash rank is order-free, so each bucket can pre-prune to its own
    top-k before the union) — same operator shape, no new semantics.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    q = emb.filter(F.col("vec_id") < _NS_ANCHORS).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("q_label")
    )
    pairs = emb.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("c_label")
    ).join(F.broadcast(q), F.col("c_label") != F.col("q_label")).select(
        "qid",
        "q_label",
        "cid",
        "c_label",
        (
            (
                F.lit(_NS_A).cast("long") * (F.col("qid") + 1)
                + F.lit(_NS_B).cast("long") * (F.col("cid") + 1)
                + F.lit(_NS_C)
            )
            % F.lit(_NS_M)
        ).alias("r"),
    )
    w = Window.partitionBy("qid").orderBy("r", "cid")
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _NS_K)
        .select(
            "qid",
            "q_label",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("cid").alias("neg_id"),
            F.col("c_label").alias("neg_label"),
            F.col("r").cast("long").alias("sample_key"),
        )
        .orderBy("qid", "neg_rank")
    )


# ---------------------------------------------------------------------------
# Label-noise detection via k-NN disagreement
# ---------------------------------------------------------------------------

_LN_K = 10  # neighbors per vector
_LN_FLAG = 0.5  # disagreement fraction above which a label is flagged
_LN_MAX = 20_000  # fail-fast guard on the O(n²) exact scan


@query(
    "ml_label_noise_knn",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, __x -> CAST(__x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm
      FROM v
    ),
    scored AS (
      SELECT a.vec_id, a.label, b.vec_id AS nid, b.label AS n_label,
             list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    rk AS (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, nid) AS rnk
      FROM scored
    )
    SELECT vec_id, label,
           CAST(SUM(CASE WHEN n_label <> label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_disagree,
           CAST(SUM(CASE WHEN n_label <> label THEN 1 ELSE 0 END)
                AS DOUBLE) / {_LN_K} AS disagreement,
           (SUM(CASE WHEN n_label <> label THEN 1 ELSE 0 END)
            > {_LN_K} * {_LN_FLAG!r}) AS flagged
    FROM rk WHERE rnk <= {_LN_K}
    GROUP BY vec_id, label
    ORDER BY vec_id
    """,
)
def ml_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Label-noise detection (confident-learning-lite): a label is
    suspect when most of its k nearest neighbors carry a DIFFERENT
    label. Per vector: the count and fraction of its {_LN_K} cosine
    neighbors that disagree, and a flag at > {_LN_FLAG}. This is the
    dataset-QA op a training pipeline runs before fitting anything —
    mislabeled points are exactly the ones k-NN can't explain.

    Exactness: brute-force all-pairs kNN through similarity.knn.
    brute_force_topk (sequential-fold dot ≡ list_dot_product, so
    ranks are bit-identical cross-engine; ties by neighbor id). The
    corpus-as-queries scan is O(n²) — fail-fast guarded at
    {_LN_MAX} rows, matching sim_bruteforce_topk's contract. The
    production swap is the IVF/LSH candidate generator feeding the
    SAME disagreement aggregate (ANN recall dials apply unchanged);
    the exact form stays as the oracle anchor."""
    from etl_lens_spark.similarity.knn import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    knn = brute_force_topk(
        emb,
        emb,
        k=_LN_K,
        query_id_col="qid",
        max_queries=_LN_MAX,
    )
    n_labels = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    dis = (
        knn.join(F.broadcast(labels), knn["qid"] == labels["vec_id"])
        .join(F.broadcast(n_labels), "neighbor_id")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.when(F.col("n_label") != F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_disagree")
        )
    )
    return dis.select(
        "vec_id",
        "label",
        "n_disagree",
        (F.col("n_disagree").cast("double") / F.lit(_LN_K)).alias(
            "disagreement"
        ),
        (F.col("n_disagree") > F.lit(_LN_K * _LN_FLAG)).alias("flagged"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Tokenizer fertility comparison: BPE vs unigram-LM vs WordPiece
# ---------------------------------------------------------------------------


@query("text_tokenizer_fertility")
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Tokenizer fertility (tokens emitted per word) compared
    across the three audited tokenizer families on the SAME corpus
    vocabulary — the number a training pipeline uses to pick its
    tokenizer (fertility × corpus words = context-window budget) and
    to sanity-check a trained vocab (fertility near chars-per-word
    means the vocab learned nothing).

    Rows: whitespace (the identity anchor — fertility exactly 1.0),
    chars (the upper anchor — fertility = mean word length), BPE with
    the standard 8-merge vocab, unigram-LM Viterbi, WordPiece greedy
    longest-match. All restricted to words ≤ 16 chars (WordPiece's
    documented bound) so the comparison is apples-to-apples.
    Fertility = Σ freq·pieces(word) / Σ freq over the (word, freq)
    vocab — corpus-weighted, but computed at VOCAB scale: each
    distinct word is encoded once per tokenizer (the same 100 TB
    argument as the underlying encoders), and the final comparison is
    a 5-row union of 1-row aggregates.

    Rows-only by design: the BPE merge loop and the Viterbi DP are
    sequential-by-definition (their exact parity is pinned vs
    pure-Python references in tests/test_bpe.py / test_unigram.py;
    WordPiece's full segmentation IS oracle-checked in
    text_wordpiece_tokenize); invariants for this query —
    whitespace ≡ 1, chars ≡ mean word length, 1 ≤ fertility ≤ chars
    for every learned tokenizer — are pinned in tests/test_npipe7.py.
    """
    from etl_lens_spark.queries.bpe_q import (
        _WP_MAXW,
        N_MERGES,
        wordpiece_segment_words,
    )
    from etl_lens_spark.text import bpe, unigram

    docs = load_table(spark, sf_dir, "documents")
    wf = stage(
        bpe.word_freqs(docs).filter(F.length("word") <= _WP_MAXW),
        "wordpiece_word_freqs",
    )

    def summarize(per_word: DataFrame, name: str) -> DataFrame:
        """(word, freq, n_tokens) → 1-row fertility summary."""
        return per_word.agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tokens"))
            .cast("long")
            .alias("n_tokens"),
            (
                F.sum(F.col("freq") * F.col("n_tokens")).cast("double")
                / F.sum("freq")
            ).alias("fertility"),
            (
                F.sum(F.col("freq") * F.length("word")).cast("double")
                / F.sum(F.col("freq") * F.col("n_tokens"))
            ).alias("chars_per_token"),
        ).select(
            F.lit(name).alias("tokenizer"),
            "n_words",
            "n_tokens",
            "fertility",
            "chars_per_token",
        )

    ws = wf.select("word", "freq", F.lit(1).alias("n_tokens"))
    chars = wf.select(
        "word", "freq", F.length("word").alias("n_tokens")
    )
    merges = bpe.train_merges(wf, N_MERGES)
    bpe_pw = bpe.encode_words(wf, merges).select(
        "word", "freq", F.col("n_tokens").alias("n_tokens")
    )
    vocab_rows = [
        (r["piece"], r["freq"])
        for r in unigram.select_vocab(
            unigram.piece_candidates(wf)
        ).collect()
    ]
    uni_pw = unigram.viterbi_encode(wf, vocab_rows).select(
        "word", "freq", F.col("n_pieces").alias("n_tokens")
    )
    wp_pw = wordpiece_segment_words(spark, sf_dir, wf=wf).select(
        "word", "freq", F.col("n").alias("n_tokens")
    )
    out = (
        summarize(ws, "whitespace")
        .unionByName(summarize(chars, "chars"))
        .unionByName(summarize(bpe_pw, f"bpe_{N_MERGES}m"))
        .unionByName(summarize(uni_pw, "unigram_lm"))
        .unionByName(summarize(wp_pw, "wordpiece"))
    )
    return out.orderBy("tokenizer")


# ---------------------------------------------------------------------------
# Matryoshka-truncation audit (MRL-style prefix-dim quality)
# ---------------------------------------------------------------------------

_MT_SUBSET = 25  # audit anchors: vec_id < 25 (300 unordered pairs)
_MT_DIMS = (32, 16, 8)  # prefix truncations of the 64-dim embedding


def _mt_cos_sql(d: int) -> str:
    return (
        f"list_dot_product(a.e[1:{d}], b.e[1:{d}])"
        f" / (sqrt(list_dot_product(a.e[1:{d}], a.e[1:{d}]))"
        f" * sqrt(list_dot_product(b.e[1:{d}], b.e[1:{d}])))"
    )


def _mt_dim_sql(d: int) -> str:
    return f"""
    SELECT {d} AS dim,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM scored WHERE aid < bid)
             AS n_pairs,
           (SELECT AVG(ABS(cos{d} - cos64)) FROM scored WHERE aid < bid)
             AS mean_abs_err,
           (SELECT MAX(ABS(cos{d} - cos64)) FROM scored WHERE aid < bid)
             AS max_abs_err,
           (SELECT AVG(CASE WHEN nn{d} = nn64 THEN 1.0 ELSE 0.0 END)
            FROM nn) AS nn_agreement
    """


@query(
    "emb_matryoshka_truncation_audit",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, __x -> CAST(__x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < {_MT_SUBSET}
    ),
    scored AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             {_mt_cos_sql(64)} AS cos64,
             {_mt_cos_sql(32)} AS cos32,
             {_mt_cos_sql(16)} AS cos16,
             {_mt_cos_sql(8)} AS cos8
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    rk AS (
      SELECT aid, bid,
             row_number() OVER (PARTITION BY aid
                 ORDER BY cos64 DESC, bid) AS r64,
             row_number() OVER (PARTITION BY aid
                 ORDER BY cos32 DESC, bid) AS r32,
             row_number() OVER (PARTITION BY aid
                 ORDER BY cos16 DESC, bid) AS r16,
             row_number() OVER (PARTITION BY aid
                 ORDER BY cos8 DESC, bid) AS r8
      FROM scored
    ),
    nn AS (
      SELECT aid,
             MAX(CASE WHEN r64 = 1 THEN bid END) AS nn64,
             MAX(CASE WHEN r32 = 1 THEN bid END) AS nn32,
             MAX(CASE WHEN r16 = 1 THEN bid END) AS nn16,
             MAX(CASE WHEN r8 = 1 THEN bid END) AS nn8
      FROM rk GROUP BY aid
    )
    {_mt_dim_sql(32)} UNION ALL {_mt_dim_sql(16)}
    UNION ALL {_mt_dim_sql(8)}
    ORDER BY dim DESC
    """,
)
def emb_matryoshka_truncation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[N] Matryoshka-truncation audit: how much retrieval quality
    survives when the 64-dim embedding is truncated to its 32/16/8-dim
    PREFIX — the measurement behind Matryoshka-representation-learning
    deployments (serve short prefixes, re-rank with the full vector).
    Per truncation: mean/max |cos_d − cos_64| over all 300 anchor
    pairs, plus nearest-neighbor agreement (does the 1-NN under the
    truncated metric match the full-dim 1-NN — the number that decides
    whether the short prefix can serve first-stage retrieval).

    One O(subset²) scored frame feeds every statistic (all four
    cosines from a single pair visit — the histogram-pass shape);
    sequential-fold dot ≡ list_dot_product keeps ranks bit-identical
    cross-engine, ties by candidate id (arg_max on (cos, -bid)).
    100 TB posture: the audit is a FIXED-size probe (guarded subset),
    exactly like sim_bruteforce_topk's anchor — production truncation
    decisions ride this probe's numbers, not a corpus scan."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _MT_SUBSET)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )

    def cos(d: int) -> F.Column:
        sa, sb = F.slice("ea", 1, d), F.slice("eb", 1, d)
        return (
            _dot(sa, sb)
            / (F.sqrt(_dot(sa, sa)) * F.sqrt(_dot(sb, sb)))
        ).alias(f"cos{d}")

    a = emb.select(F.col("vec_id").alias("aid"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("bid"), F.col("e").alias("eb"))
    scored = stage(
        a.join(F.broadcast(b), F.col("aid") != F.col("bid"))
        .select("aid", "bid", cos(64), cos(32), cos(16), cos(8)),
        "mrl_scored_pairs",
    )
    nn = scored.groupBy("aid").agg(
        *[
            F.max_by("bid", F.struct(F.col(f"cos{d}"), (-F.col("bid"))))
            .alias(f"nn{d}")
            for d in (64, *_MT_DIMS)
        ]
    )
    pairs = scored.filter(F.col("aid") < F.col("bid"))
    out = None
    for d in _MT_DIMS:
        err = F.abs(F.col(f"cos{d}") - F.col("cos64"))
        stats = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.avg(err).alias("mean_abs_err"),
            F.max(err).alias("max_abs_err"),
        )
        agree = nn.agg(
            F.avg(
                F.when(F.col(f"nn{d}") == F.col("nn64"), 1.0).otherwise(0.0)
            ).alias("nn_agreement")
        )
        row = (
            stats.crossJoin(F.broadcast(agree))
            .select(
                F.lit(d).alias("dim"),
                "n_pairs",
                "mean_abs_err",
                "max_abs_err",
                "nn_agreement",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.desc("dim"))


# ---------------------------------------------------------------------------
# Curriculum phases (difficulty-ordered training schedule)
# ---------------------------------------------------------------------------

_CURR_PHASES = 4


@query(
    "dataset_curriculum_phases",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS word
      FROM documents
    ),
    d AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(len(word)) AS BIGINT) AS n_word_chars,
             CAST(SUM(len(word)) AS DOUBLE) / COUNT(*) AS difficulty
      FROM w WHERE word <> '' GROUP BY doc_id
    ),
    ph AS (
      SELECT *, NTILE({_CURR_PHASES}) OVER (
               ORDER BY difficulty, doc_id) AS phase
      FROM d
    ),
    agg AS (
      SELECT CAST(phase AS BIGINT) AS phase,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             MIN(difficulty) AS difficulty_min,
             MAX(difficulty) AS difficulty_max
      FROM ph GROUP BY phase
    )
    SELECT phase, n_docs, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY phase) AS BIGINT)
             AS cum_tokens,
           difficulty_min, difficulty_max
    FROM agg ORDER BY phase
    """,
)
def dataset_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Curriculum-learning schedule: order the corpus easy→hard
    (difficulty = mean word length, the classic lexical-complexity
    proxy; deterministic doc_id tie-break) and cut it into
    {_CURR_PHASES} NTILE phases with per-phase and cumulative token
    budgets — the table a curriculum trainer consumes directly
    ("train on phases 1..k for the first epoch"). Difficulty is an
    exact integer ratio (Σ word chars / Σ words), so the global order
    is reproducible cross-engine.

    100 TB posture: per-doc stats are one map-side-combined aggregate
    off the word explode; the phase assignment does NOT use a global
    NTILE window (that moves every doc through one reducer — the
    WindowExec warning Spark itself raises) — instead the global rank
    comes from operators/prefix.ordered_global_rank (range partition
    + per-partition row_number + broadcast triangular offsets, zero
    single-reducer stages) and NTILE's exact bucket arithmetic
    (first n%P buckets get ⌈n/P⌉) is applied as a closed-form
    expression on the rank. The oracle keeps DuckDB's native NTILE —
    proving the distributed rewrite IS NTILE. Output is
    {_CURR_PHASES} rows; the final cumulative window rides that
    4-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    words = docs.select("doc_id", F.explode(toks).alias("word")).filter(
        F.col("word") != ""
    )
    d = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.length("word")).cast("long").alias("n_word_chars"),
    ).withColumn(
        "difficulty",
        F.col("n_word_chars").cast("double") / F.col("n_tokens"),
    )  # branched into rank + count below
    d = stage(d, "difficulty_per_doc")
    from etl_lens_spark.operators.prefix import ordered_global_rank

    ranked = ordered_global_rank(
        d, [F.col("difficulty"), F.col("doc_id")], "rnk"
    )
    n_tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    ph = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "phase",
        F.when(
            F.col("rnk")
            <= (F.col("n_all") % _CURR_PHASES)
            * ((F.col("n_all") / _CURR_PHASES).cast("long") + 1),
            (F.col("rnk") - 1)
            / ((F.col("n_all") / _CURR_PHASES).cast("long") + 1),
        )
        .otherwise(
            (F.col("n_all") % _CURR_PHASES)
            + (
                F.col("rnk")
                - (F.col("n_all") % _CURR_PHASES)
                * ((F.col("n_all") / _CURR_PHASES).cast("long") + 1)
                - 1
            )
            / (F.col("n_all") / _CURR_PHASES).cast("long"),
        )
        .cast("long")
        + 1,
    )
    agg = ph.groupBy(F.col("phase").cast("long").alias("phase")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("difficulty").alias("difficulty_min"),
        F.max("difficulty").alias("difficulty_max"),
    )
    return agg.select(
        "phase",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens")
        .over(Window.orderBy("phase"))
        .cast("long")
        .alias("cum_tokens"),
        "difficulty_min",
        "difficulty_max",
    ).orderBy("phase")


# ---------------------------------------------------------------------------
# GBDT histogram split finding (one boosting round, all features)
# ---------------------------------------------------------------------------

_GB_LAMBDA = 1.0  # L2 regularization on leaf weights


@query(
    "ml_gbdt_split_histogram",
    headline=True,
    oracle=f"""
    WITH pts AS (
      SELECT CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
               AS y_cents,
             CAST(l_quantity AS BIGINT) AS qty_bin,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_bin,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_bin
      FROM lineitem
    ),
    melted AS (
      SELECT 'quantity' AS feature, qty_bin AS bin, y_cents FROM pts
      UNION ALL
      SELECT 'discount', disc_bin, y_cents FROM pts
      UNION ALL
      SELECT 'tax', tax_bin, y_cents FROM pts
    ),
    hist AS (
      SELECT feature, bin,
             CAST(SUM(y_cents) AS BIGINT) AS gc,
             CAST(COUNT(*) AS BIGINT) AS h
      FROM melted GROUP BY feature, bin
    ),
    pre AS (
      SELECT feature, bin,
             CAST(SUM(gc) OVER (PARTITION BY feature
                 ORDER BY bin) AS BIGINT) AS gcl,
             CAST(SUM(h) OVER (PARTITION BY feature
                 ORDER BY bin) AS BIGINT) AS hl,
             CAST(SUM(gc) OVER (PARTITION BY feature) AS BIGINT) AS gct,
             CAST(SUM(h) OVER (PARTITION BY feature) AS BIGINT) AS ht
      FROM hist
    ),
    gains AS (
      SELECT feature, bin, hl AS n_left, ht - hl AS n_right,
             (gcl / 100000.0) AS g_left,
             ((gct - gcl) / 100000.0) AS g_right,
             POWER(gcl / 100000.0, 2) / (hl + {_GB_LAMBDA!r})
               + POWER((gct - gcl) / 100000.0, 2)
                 / (ht - hl + {_GB_LAMBDA!r})
               - POWER(gct / 100000.0, 2) / (ht + {_GB_LAMBDA!r})
               AS gain
      FROM pre WHERE hl < ht
    ),
    best AS (
      SELECT feature, bin, n_left, n_right, g_left, g_right, gain,
             row_number() OVER (PARTITION BY feature
                 ORDER BY gain DESC, bin) AS rk
      FROM gains
    )
    SELECT feature, CAST(bin AS BIGINT) AS split_bin,
           n_left, n_right, g_left, g_right, gain
    FROM best WHERE rk = 1 ORDER BY feature
    """,
)
def ml_gbdt_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Gradient-boosting split finding, the histogram pass
    (XGBoost/LightGBM's core distributed primitive): one boosting
    round with squared loss from init score 0 on the target
    y = discount dollars per line item (l_extendedprice·l_discount —
    the fixture's quantity/price columns are independent by
    construction, so this is the target with learnable signal), so
    the per-bin gradient sum G is Σy — kept EXACT as integer cents
    until the one final division (no partition-order float drift,
    the lesson of the ts_seasonal_strength fix). All three features (quantity, discount,
    tax — pre-binned integer codes) melt into ONE (feature, bin)
    histogram aggregate — a single scan and a single map-side-combined
    shuffle builds every feature's histogram simultaneously, exactly
    LightGBM's layout. Split gain = G_L²/(H_L+λ) + G_R²/(H_R+λ) −
    G²/(H+λ) over ≤51-bin prefix sums (window over the tiny
    histogram, not the data); argmax per feature with deterministic
    bin tie-break. Gradients are reported in $100k units to keep
    gain magnitudes O(10³) — inside the 6-decimal canonical hash.

    100 TB posture: the heavy stage is the melted histogram groupBy —
    3× the scan in flight but each reduces map-side to |features| ×
    |bins| cells; per-feature totals come from a WINDOW over the
    tiny histogram (not a re-aggregated join branch — the naive
    hist⋈tot form re-scanned lineitem for the totals subtree, a 2×
    scan caught in the plan audit); everything after is
    volume-independent. Deeper
    trees repeat the same pass per node on gradient-filtered rows
    (same operator, different predicate)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("long")
        .alias("y_cents"),
        F.col("l_quantity").cast("long").alias("quantity"),
        F.round(F.col("l_discount") * 100).cast("long").alias("discount"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    melted = li.select(
        "y_cents",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.col(name).alias("bin"),
                    )
                    for name in ("quantity", "discount", "tax")
                ]
            )
        ).alias("fb"),
    ).select("y_cents", "fb.feature", "fb.bin")
    hist = melted.groupBy("feature", "bin").agg(
        F.sum("y_cents").cast("long").alias("gc"),
        F.count(F.lit(1)).cast("long").alias("h"),
    )
    wpre = Window.partitionBy("feature").orderBy("bin")
    wtot = Window.partitionBy("feature")
    pre = hist.select(
        "feature",
        "bin",
        F.sum("gc").over(wpre).cast("long").alias("gcl"),
        F.sum("h").over(wpre).cast("long").alias("hl"),
        F.sum("gc").over(wtot).cast("long").alias("gct"),
        F.sum("h").over(wtot).cast("long").alias("ht"),
    )
    scale = 100000.0
    gl = F.col("gcl") / scale
    gr = (F.col("gct") - F.col("gcl")) / scale
    gt = F.col("gct") / scale
    lam = F.lit(_GB_LAMBDA)
    gains = pre.filter(F.col("hl") < F.col("ht")).select(
        "feature",
        "bin",
        F.col("hl").alias("n_left"),
        (F.col("ht") - F.col("hl")).alias("n_right"),
        gl.alias("g_left"),
        gr.alias("g_right"),
        (
            F.pow(gl, 2) / (F.col("hl") + lam)
            + F.pow(gr, 2) / (F.col("ht") - F.col("hl") + lam)
            - F.pow(gt, 2) / (F.col("ht") + lam)
        ).alias("gain"),
    )
    wbest = Window.partitionBy("feature").orderBy(F.desc("gain"), "bin")
    return (
        gains.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "feature",
            F.col("bin").cast("long").alias("split_bin"),
            "n_left",
            "n_right",
            "g_left",
            "g_right",
            "gain",
        )
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
# Deterministic uniform reservoir sample (bottom-k by hash rank)
# ---------------------------------------------------------------------------

_RS_K = 20


@query(
    "sample_reservoir_uniform",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             list_reduce(list_transform(range(1, 14),
               __hp -> CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), __hp, 1)) - 1
                      AS BIGINT)),
               (__ha, __hb) -> __ha * 16 + __hb) AS hv
      FROM documents
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY hv, doc_id) AS sample_rank
      FROM h
    )
    SELECT CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, source,
           n_chars, hv
    FROM rk WHERE sample_rank <= {_RS_K}
    ORDER BY sample_rank
    """,
)
def sample_reservoir_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Uniform k-sample without replacement, the distributed
    reservoir: bottom-{_RS_K} rows by a uniform md5 hash of the key —
    equivalent in distribution to a classic reservoir sample but
    order-free, mergeable, and REPLAYABLE (same corpus snapshot →
    same sample; growing the corpus only ever swaps members in via
    strictly-smaller hashes — the property that lets a nightly
    eval-set sample stay stable as shards append). This is the KMV
    bottom-k machinery (operators/kmv.py) applied to sampling rather
    than cardinality estimation.

    100 TB posture: per-partition each task keeps its own bottom-k
    (WindowGroupLimit on the global window is the local top-k
    combine), the final exchange carries k rows per task, and the
    driver never materializes more than the k winners. No shuffle of
    the corpus, no RNG state to coordinate."""
    from etl_lens_spark.operators.kmv import kmv_value

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    h = docs.withColumn("hv", kmv_value(F.col("doc_id")))
    w = Window.orderBy("hv", "doc_id")
    return (
        h.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _RS_K)
        .select(
            F.col("sample_rank").cast("long").alias("sample_rank"),
            "doc_id",
            "source",
            "n_chars",
            "hv",
        )
        .orderBy("sample_rank")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point selection)
# ---------------------------------------------------------------------------

_KC_K = 8  # coreset size (selection steps)


@query("dataset_kcenter_coreset")
def dataset_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Greedy k-center coreset (farthest-point / Gonzalez
    selection): pick vec_id 0, then {_KC_K - 1} times the point
    FARTHEST (squared L2, deterministic vec_id tie-break) from the
    selected set — the classic 2-approximation to k-center and the
    standard diverse-subset selector for active learning / coreset
    distillation. Output: selection order plus the covering radius
    at each step (max-min distance — the number that says how well
    the coreset covers the corpus; non-increasing by construction,
    test-pinned with a dense numpy replica in tests/test_npipe7.py).

    Rows-only by design: the selection is sequential-by-definition
    (k dependent argmax steps — same contract as the BPE merge loop);
    each step is ONE broadcast of the single new centroid + a
    running-minimum column update + a max_by argmax, so the corpus
    is never shuffled and driver state is one row per step. At 100 TB
    the same loop runs over a cached mindist column (k linear passes,
    the textbook distributed Gonzalez); the tie-break and the
    sequential-fold dot keep the trajectory reproducible."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .transform(stage, "kcenter_emb")
    )

    def d2(a, b):
        dif = F.zip_with(a, b, lambda x, y: x - y)
        return _dot(dif, dif)

    first = emb.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("ce")
    )
    cur = emb.crossJoin(F.broadcast(first)).select(
        "vec_id", "e", d2(F.col("e"), F.col("ce")).alias("mindist")
    )
    picked = [(1, 0, None)]  # (rank, vec_id, radius_before)
    for step in range(2, _KC_K + 1):
        cur = freeze(cur, "bounded loop lineage")
        far = cur.agg(
            F.max_by(
                F.struct("vec_id", "e"),
                F.struct(F.col("mindist"), (-F.col("vec_id"))),
            ).alias("s"),
            F.max("mindist").alias("radius"),
        ).collect()[0]
        picked.append((step, far["s"]["vec_id"], float(far["radius"])))
        nxt = emb.sparkSession.createDataFrame(
            [(far["s"]["e"],)], "ce array<double>"
        )
        cur = cur.crossJoin(F.broadcast(nxt)).select(
            "vec_id",
            "e",
            F.least("mindist", d2(F.col("e"), F.col("ce"))).alias(
                "mindist"
            ),
        )
    final_radius = float(
        cur.agg(F.max("mindist").alias("r")).collect()[0]["r"]
    )
    rows = [
        (
            rank,
            vid,
            picked[i + 1][2] if i + 1 < len(picked) else final_radius,
        )
        for i, (rank, vid, _) in enumerate(picked)
    ]
    return emb.sparkSession.createDataFrame(
        rows,
        "selection_rank int, vec_id long, covering_radius double",
    ).select(
        F.col("selection_rank").cast("long").alias("selection_rank"),
        "vec_id",
        "covering_radius",
    )


# ---------------------------------------------------------------------------
# Corpus BLEU-2 evaluation (clipped n-gram precision + brevity penalty)
# ---------------------------------------------------------------------------

_BLEU_TOK_SQL = """trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"""


@query(
    "text_bleu_ngram_eval",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_BLEU_TOK_SQL}, ' ') AS wl
      FROM documents WHERE {_BLEU_TOK_SQL} <> ''
    ),
    pairs AS (
      SELECT c.doc_id // 2 AS pair_id, c.wl AS cand_wl, r.wl AS ref_wl
      FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0
    ),
    cand1 AS (
      SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs, LATERAL (SELECT unnest(cand_wl) AS g) u
      GROUP BY pair_id, g
    ),
    ref1 AS (
      SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs, LATERAL (SELECT unnest(ref_wl) AS g) u
      GROUP BY pair_id, g
    ),
    cand2 AS (
      SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs, LATERAL (SELECT unnest(list_transform(
          range(1, len(cand_wl)),
          __i -> cand_wl[__i] || ' ' || cand_wl[__i + 1])) AS g) u
      GROUP BY pair_id, g
    ),
    ref2 AS (
      SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs, LATERAL (SELECT unnest(list_transform(
          range(1, len(ref_wl)),
          __i -> ref_wl[__i] || ' ' || ref_wl[__i + 1])) AS g) u
      GROUP BY pair_id, g
    ),
    p1 AS (
      SELECT CAST(SUM(LEAST(c.c, COALESCE(r.c, 0))) AS BIGINT)
               AS clipped,
             CAST(SUM(c.c) AS BIGINT) AS total
      FROM cand1 c LEFT JOIN ref1 r USING (pair_id, g)
    ),
    p2 AS (
      SELECT CAST(SUM(LEAST(c.c, COALESCE(r.c, 0))) AS BIGINT)
               AS clipped,
             CAST(SUM(c.c) AS BIGINT) AS total
      FROM cand2 c LEFT JOIN ref2 r USING (pair_id, g)
    ),
    lens AS (
      SELECT CAST(SUM(len(cand_wl)) AS BIGINT) AS cand_len,
             CAST(SUM(len(ref_wl)) AS BIGINT) AS ref_len,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs
    )
    SELECT l.n_pairs, l.cand_len, l.ref_len,
           round(CAST(p1.clipped AS DOUBLE) / p1.total, 6) AS prec1,
           round(CAST(p2.clipped AS DOUBLE) / p2.total, 6) AS prec2,
           round(exp(LEAST(0.0,
               1.0 - CAST(l.ref_len AS DOUBLE) / l.cand_len)), 6)
             AS brevity_penalty,
           round(exp(LEAST(0.0,
                     1.0 - CAST(l.ref_len AS DOUBLE) / l.cand_len))
                 * exp(0.5 * ln(CAST(p1.clipped AS DOUBLE) / p1.total)
                     + 0.5 * ln(CAST(p2.clipped AS DOUBLE) / p2.total)),
                 6) AS bleu2
    FROM lens l, p1, p2
    """,
)
def text_bleu_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Corpus-level BLEU-2 (Papineni et al.): clipped n-gram
    precision for n=1,2 plus the brevity penalty, over even→odd
    doc_id (candidate, reference) pairs — the eval-harness metric a
    generation pipeline scores its outputs with, expressed fully
    relationally: per-pair n-gram counts are grouped aggregates, the
    clip is min(cand_count, ref_count) through one LEFT join per
    order, and every precision is a ratio of two EXACT BIGINT sums
    (floats appear only in the final exp/ln — cross-engine safe).

    100 TB posture: n-gram counting is the map-side-combined explode
    the tokenizer family already rides; the clip joins shuffle on
    (pair_id, gram) — both sides pre-reduced to counts, so the join
    input is bounded by vocabulary per pair, not token volume; the
    corpus-level fold is a 1-row aggregate. Smoothed/weighted BLEU
    variants change only the final expression."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    )
    d = docs.filter(norm != "").select(
        "doc_id", F.split(norm, " ").alias("wl")
    )
    cand = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("wl").alias("cand_wl"),
        (F.col("doc_id") + 1).alias("ref_key"),
    )
    ref = d.select(
        F.col("doc_id").alias("ref_key"), F.col("wl").alias("ref_wl")
    )
    pairs = cand.join(ref, "ref_key").select(
        "pair_id", "cand_wl", "ref_wl"
    )

    def grams(col: str, n: int) -> F.Column:
        if n == 1:
            return F.col(col)
        # guard: sequence(1, 0) DESCENDS in Spark, so a one-word doc
        # would index wl[1]/wl[-1] (ANSI error / null grams) — emit
        # the empty array instead, matching DuckDB's empty range(1,1)
        return F.when(
            F.size(col) < 2, F.array().cast("array<string>")
        ).otherwise(
            F.expr(
                f"transform(sequence(1, size({col}) - 1), "
                f"__i -> concat({col}[__i - 1], ' ', {col}[__i]))"
            )
        )

    def counts(col: str, n: int) -> DataFrame:
        return (
            pairs.select(
                "pair_id", F.explode(grams(col, n)).alias("g")
            )
            .groupBy("pair_id", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    def prec(n: int, out: str) -> DataFrame:
        c = counts("cand_wl", n)
        r = counts("ref_wl", n).withColumnRenamed("c", "cr")
        return c.join(r, ["pair_id", "g"], "left").agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("cr"), F.lit(0))))
            .cast("long")
            .alias(f"clipped{n}"),
            F.sum("c").cast("long").alias(f"total{n}"),
        )
    lens = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.size("cand_wl")).cast("long").alias("cand_len"),
        F.sum(F.size("ref_wl")).cast("long").alias("ref_len"),
    )
    p1 = prec(1, "prec1")
    p2 = prec(2, "prec2")
    pr1 = F.col("clipped1").cast("double") / F.col("total1")
    pr2 = F.col("clipped2").cast("double") / F.col("total2")
    bp = F.exp(
        F.least(
            F.lit(0.0),
            F.lit(1.0) - F.col("ref_len").cast("double") / F.col("cand_len"),
        )
    )
    return (
        lens.crossJoin(F.broadcast(p1))
        .crossJoin(F.broadcast(p2))
        .select(
            "n_pairs",
            "cand_len",
            "ref_len",
            F.round(pr1, 6).alias("prec1"),
            F.round(pr2, 6).alias("prec2"),
            F.round(bp, 6).alias("brevity_penalty"),
            F.round(
                bp * F.exp(0.5 * F.log(pr1) + 0.5 * F.log(pr2)), 6
            ).alias("bleu2"),
        )
    )


# ---------------------------------------------------------------------------
# GBDT round 2: residual gradients, depth-2 tree
# ---------------------------------------------------------------------------

_GB2_SCALE = 100000.0  # y reported in $100k units (gain magnitude control)


@query(
    "ml_gbdt_boost_round2",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
               AS y_cents,
             CAST(l_quantity AS BIGINT) AS qty_bin,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_bin,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_bin
      FROM lineitem
    ),
    melted AS (
      SELECT 'quantity' AS feature, qty_bin AS bin, y_cents FROM pts
      UNION ALL
      SELECT 'discount', disc_bin, y_cents FROM pts
      UNION ALL
      SELECT 'tax', tax_bin, y_cents FROM pts
    ),
    hist AS (
      SELECT feature, bin, CAST(SUM(y_cents) AS BIGINT) AS gc,
             CAST(COUNT(*) AS BIGINT) AS h
      FROM melted GROUP BY feature, bin
    ),
    pre AS (
      SELECT feature, bin,
             CAST(SUM(gc) OVER (PARTITION BY feature
                 ORDER BY bin) AS BIGINT) AS gcl,
             CAST(SUM(h) OVER (PARTITION BY feature
                 ORDER BY bin) AS BIGINT) AS hl,
             CAST(SUM(gc) OVER (PARTITION BY feature) AS BIGINT) AS gct,
             CAST(SUM(h) OVER (PARTITION BY feature) AS BIGINT) AS ht
      FROM hist
    ),
    gains AS (
      SELECT feature, bin, hl, ht, gcl, gct,
             POWER(gcl / {_GB2_SCALE!r}, 2) / (hl + {_GB_LAMBDA!r})
               + POWER((gct - gcl) / {_GB2_SCALE!r}, 2)
                 / (ht - hl + {_GB_LAMBDA!r})
               - POWER(gct / {_GB2_SCALE!r}, 2) / (ht + {_GB_LAMBDA!r})
               AS gain
      FROM pre WHERE hl < ht
    ),
    root AS (
      SELECT feature, bin, gain,
             hl AS n_left, ht - hl AS n_right,
             (gcl / {_GB2_SCALE!r}) / (hl + {_GB_LAMBDA!r}) AS w_left,
             ((gct - gcl) / {_GB2_SCALE!r}) / (ht - hl + {_GB_LAMBDA!r})
               AS w_right
      FROM (SELECT *, row_number() OVER (
                ORDER BY gain DESC, feature, bin) AS rk FROM gains)
      WHERE rk = 1
    ),
    assigned AS (
      SELECT p.*,
             CASE WHEN (CASE r.feature
                        WHEN 'quantity' THEN p.qty_bin
                        WHEN 'discount' THEN p.disc_bin
                        ELSE p.tax_bin END) <= r.bin
                  THEN 'L' ELSE 'R' END AS node,
             CASE WHEN (CASE r.feature
                        WHEN 'quantity' THEN p.qty_bin
                        WHEN 'discount' THEN p.disc_bin
                        ELSE p.tax_bin END) <= r.bin
                  THEN r.w_left ELSE r.w_right END AS w_node
      FROM pts p CROSS JOIN root r
    ),
    melted2 AS (
      SELECT node, w_node, 'quantity' AS feature, qty_bin AS bin,
             y_cents FROM assigned
      UNION ALL
      SELECT node, w_node, 'discount', disc_bin, y_cents FROM assigned
      UNION ALL
      SELECT node, w_node, 'tax', tax_bin, y_cents FROM assigned
    ),
    hist2 AS (
      SELECT node, w_node, feature, bin,
             CAST(SUM(y_cents) AS BIGINT) AS gc,
             CAST(COUNT(*) AS BIGINT) AS h
      FROM melted2 GROUP BY node, w_node, feature, bin
    ),
    pre2 AS (
      SELECT node, w_node, feature, bin,
             CAST(SUM(gc) OVER (PARTITION BY node, feature
                 ORDER BY bin) AS BIGINT) AS gcl,
             CAST(SUM(h) OVER (PARTITION BY node, feature
                 ORDER BY bin) AS BIGINT) AS hl,
             CAST(SUM(gc) OVER (PARTITION BY node, feature)
                 AS BIGINT) AS gct,
             CAST(SUM(h) OVER (PARTITION BY node, feature)
                 AS BIGINT) AS ht
      FROM hist2
    ),
    gains2 AS (
      SELECT node, feature, bin, hl AS n_left, ht - hl AS n_right,
             POWER(hl * w_node - gcl / {_GB2_SCALE!r}, 2)
               / (hl + {_GB_LAMBDA!r})
               + POWER((ht - hl) * w_node
                       - (gct - gcl) / {_GB2_SCALE!r}, 2)
                 / (ht - hl + {_GB_LAMBDA!r})
               - POWER(ht * w_node - gct / {_GB2_SCALE!r}, 2)
                 / (ht + {_GB_LAMBDA!r}) AS gain
      FROM pre2 WHERE hl < ht
    ),
    best2 AS (
      SELECT node, feature, bin, n_left, n_right, gain,
             row_number() OVER (PARTITION BY node
                 ORDER BY gain DESC, feature, bin) AS rk
      FROM gains2
    )
    SELECT 'root' AS node, feature, CAST(bin AS BIGINT) AS split_bin,
           n_left, n_right, gain,
           round(w_left, 6) AS w_left, round(w_right, 6) AS w_right
    FROM root
    UNION ALL
    SELECT node, feature, CAST(bin AS BIGINT), n_left, n_right, gain,
           NULL, NULL
    FROM best2 WHERE rk = 1
    ORDER BY node
    """,
)
def ml_gbdt_boost_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] The boosting LOOP: round 2 of the GBDT trainer. Round 1
    finds the best global split (argmax over the melted histogram of
    ml_gbdt_split_histogram) and fits leaf weights w = G/(H+λ); the
    model's predictions update; round 2 recomputes gradients against
    the residuals and finds each child node's best split — the
    depth-2 tree, i.e. one full iteration of the XGBoost/LightGBM
    training loop rather than a single pass.

    The residual gradient sums stay EXACT: per (node, feature, bin)
    the round-2 gradient sum is h·w_node − Σy (one deterministic
    double product over exact BIGINT h and Σy — no per-row float
    accumulation anywhere in either round). Deeper trees repeat the
    identical histogram→prefix→argmax pass per node; the oracle
    replays both rounds as one CTE chain.

    100 TB posture: round 2 adds exactly one more melted histogram
    aggregate, now keyed by (node, feature, bin) — node count grows
    the key space, never the scan count; per-node windows ride the
    tiny histogram. The single root CROSS JOIN broadcasts a 1-row
    frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("long")
        .alias("y_cents"),
        F.col("l_quantity").cast("long").alias("quantity"),
        F.round(F.col("l_discount") * 100).cast("long").alias("discount"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    lam = F.lit(_GB_LAMBDA)
    scale = _GB2_SCALE

    def melt(df: DataFrame, extra: list[str]) -> DataFrame:
        return df.select(
            *extra,
            "y_cents",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("feature"),
                            F.col(n).alias("bin"),
                        )
                        for n in ("quantity", "discount", "tax")
                    ]
                )
            ).alias("fb"),
        ).select(*extra, "y_cents", "fb.feature", "fb.bin")

    def hist_pre(melted: DataFrame, keys: list[str]) -> DataFrame:
        hist = melted.groupBy(*keys, "feature", "bin").agg(
            F.sum("y_cents").cast("long").alias("gc"),
            F.count(F.lit(1)).cast("long").alias("h"),
        )
        wp = Window.partitionBy(*keys, "feature").orderBy("bin")
        wt = Window.partitionBy(*keys, "feature")
        return hist.select(
            *keys,
            "feature",
            "bin",
            F.sum("gc").over(wp).cast("long").alias("gcl"),
            F.sum("h").over(wp).cast("long").alias("hl"),
            F.sum("gc").over(wt).cast("long").alias("gct"),
            F.sum("h").over(wt).cast("long").alias("ht"),
        )

    pre = hist_pre(melt(li, []), [])
    gl = F.col("gcl") / scale
    gr = (F.col("gct") - F.col("gcl")) / scale
    gt = F.col("gct") / scale
    gains = pre.filter(F.col("hl") < F.col("ht")).select(
        "feature",
        "bin",
        F.col("hl").alias("n_left"),
        (F.col("ht") - F.col("hl")).alias("n_right"),
        (
            F.pow(gl, 2) / (F.col("hl") + lam)
            + F.pow(gr, 2) / (F.col("ht") - F.col("hl") + lam)
            - F.pow(gt, 2) / (F.col("ht") + lam)
        ).alias("gain"),
        (gl / (F.col("hl") + lam)).alias("w_left"),
        (gr / (F.col("ht") - F.col("hl") + lam)).alias("w_right"),
    )
    wroot = Window.orderBy(F.desc("gain"), "feature", "bin")
    root = (
        gains.withColumn("rk", F.row_number().over(wroot))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    feat_bin = (
        F.when(F.col("r_feature") == "quantity", F.col("quantity"))
        .when(F.col("r_feature") == "discount", F.col("discount"))
        .otherwise(F.col("tax"))
    )
    assigned = li.crossJoin(
        F.broadcast(
            root.select(
                F.col("feature").alias("r_feature"),
                F.col("bin").alias("r_bin"),
                "w_left",
                "w_right",
            )
        )
    ).select(
        "y_cents",
        "quantity",
        "discount",
        "tax",
        F.when(feat_bin <= F.col("r_bin"), F.lit("L"))
        .otherwise(F.lit("R"))
        .alias("node"),
        F.when(feat_bin <= F.col("r_bin"), F.col("w_left"))
        .otherwise(F.col("w_right"))
        .alias("w_node"),
    )
    pre2 = hist_pre(melt(assigned, ["node", "w_node"]), ["node", "w_node"])
    g2l = F.col("hl") * F.col("w_node") - F.col("gcl") / scale
    g2r = (F.col("ht") - F.col("hl")) * F.col("w_node") - (
        F.col("gct") - F.col("gcl")
    ) / scale
    g2t = F.col("ht") * F.col("w_node") - F.col("gct") / scale
    gains2 = pre2.filter(F.col("hl") < F.col("ht")).select(
        "node",
        "feature",
        "bin",
        F.col("hl").alias("n_left"),
        (F.col("ht") - F.col("hl")).alias("n_right"),
        (
            F.pow(g2l, 2) / (F.col("hl") + lam)
            + F.pow(g2r, 2) / (F.col("ht") - F.col("hl") + lam)
            - F.pow(g2t, 2) / (F.col("ht") + lam)
        ).alias("gain"),
    )
    wnode = Window.partitionBy("node").orderBy(
        F.desc("gain"), "feature", "bin"
    )
    best2 = (
        gains2.withColumn("rk", F.row_number().over(wnode))
        .filter(F.col("rk") == 1)
        .select(
            "node",
            "feature",
            F.col("bin").cast("long").alias("split_bin"),
            "n_left",
            "n_right",
            "gain",
            F.lit(None).cast("double").alias("w_left"),
            F.lit(None).cast("double").alias("w_right"),
        )
    )
    root_row = root.select(
        F.lit("root").alias("node"),
        "feature",
        F.col("bin").cast("long").alias("split_bin"),
        "n_left",
        "n_right",
        "gain",
        F.round("w_left", 6).alias("w_left"),
        F.round("w_right", 6).alias("w_right"),
    )
    return root_row.unionByName(best2).orderBy("node")


# ---------------------------------------------------------------------------
# In-batch-negative packing (label-distinct contrastive batches)
# ---------------------------------------------------------------------------

_IBN_MIN = 8  # minimum batch size worth training on


@query(
    "dataset_inbatch_negative_packing",
    oracle=f"""
    WITH r AS (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY label
                 ORDER BY vec_id) AS batch_id
      FROM embeddings
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS batch_size,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
           (COUNT(*) = COUNT(DISTINCT label)) AS all_distinct,
           (COUNT(*) >= {_IBN_MIN}) AS trainable,
           MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
    FROM r GROUP BY batch_id ORDER BY batch_id
    """,
)
def dataset_inbatch_negative_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[N] In-batch-negative batch construction: contrastive training
    with in-batch negatives requires every example in a batch to
    carry a DIFFERENT label (otherwise a "negative" is secretly a
    positive and the loss is corrupted). The round-robin-by-label
    assignment — item ranked r within its label goes to batch r —
    guarantees label-distinctness BY CONSTRUCTION: a batch holds at
    most one item per label. The audit emits per-batch size, distinct
    labels, the all_distinct proof column, and the trainable flag
    (batches shorter than {_IBN_MIN} waste step compute).

    100 TB posture: ONE window per label (well-spread key, ranks are
    per-label row_numbers — no global sort) + one grouped aggregate
    over batch_id. The tail of small batches is the skew signature
    of imbalanced labels — the same histogram ml_class_balance_weights
    corrects; deterministic vec_id ordering makes batch membership
    replayable across runs (data lineage for training batches)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy("vec_id")
    r = emb.withColumn("batch_id", F.row_number().over(w))
    return (
        r.groupBy(F.col("batch_id").cast("long").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("batch_size"),
            F.countDistinct("label").cast("long").alias("n_labels"),
            (F.count(F.lit(1)) == F.countDistinct("label")).alias(
                "all_distinct"
            ),
            (F.count(F.lit(1)) >= _IBN_MIN).alias("trainable"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste audit
# ---------------------------------------------------------------------------

_LB_BATCH = 32  # sequences per training batch


@query(
    "pack_length_bucket_padding",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\\s+',
                 ' ', 'g')), ' ')) AS n_tokens
      FROM documents
      WHERE trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) <> ''
    ),
    b AS (
      SELECT doc_id, n_tokens,
             CAST(POWER(2, CEIL(ln(n_tokens) / ln(2))) AS BIGINT)
               AS bucket_len
      FROM d
    ),
    naive AS (
      SELECT MAX(n_tokens) AS max_len,
             CAST(SUM(n_tokens) AS BIGINT) AS toks,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM d
    ),
    per_bucket AS (
      SELECT bucket_len,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(CEIL(COUNT(*) / {_LB_BATCH}.0) AS BIGINT) AS n_batches,
             CAST(COUNT(*) * bucket_len - SUM(n_tokens) AS BIGINT)
               AS padding_tokens,
             1.0 - CAST(SUM(n_tokens) AS DOUBLE)
                 / (COUNT(*) * bucket_len) AS padding_frac,
             1.0 - (CAST((SELECT toks FROM naive) AS DOUBLE)
                    / ((SELECT n FROM naive)
                       * (SELECT max_len FROM naive)))
               AS naive_padding_frac
      FROM b GROUP BY bucket_len
    )
    SELECT bucket_len, n_docs, n_tokens, n_batches, padding_tokens,
           round(padding_frac, 6) AS padding_frac,
           round(naive_padding_frac, 6) AS naive_padding_frac
    FROM per_bucket ORDER BY bucket_len
    """,
)
def pack_length_bucket_padding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[N] Length-bucketed batching audit (HF group_by_length /
    bucketed bucketing): sequences go to power-of-two length buckets,
    every batch pads to its bucket length instead of the corpus max —
    the table reports per-bucket doc/token/batch counts, padding
    tokens and padding fraction, with the NAIVE (pad-everything-to-
    global-max) fraction alongside, so the compute saved by bucketing
    is directly readable (padding tokens are wasted FLOPs at training
    time — at 100 TB this is the difference between paying for real
    tokens and paying ~2-5× for padding).

    One map-side-combined aggregate per bucket off the token-count
    projection; the naive baseline is a 1-row aggregate folded in as
    a scalar. Deterministic: bucket = 2^⌈log₂ len⌉ in exact integer
    arithmetic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = docs.filter(norm != "").select(
        "doc_id", F.size(F.split(norm, " ")).alias("n_tokens")
    )
    b = d.withColumn(
        "bucket_len",
        F.pow(
            F.lit(2.0), F.ceil(F.log(F.col("n_tokens")) / F.log(F.lit(2.0)))
        ).cast("long"),
    )
    naive = d.agg(
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("toks"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    per = (
        b.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.ceil(F.count(F.lit(1)) / F.lit(float(_LB_BATCH)))
            .cast("long")
            .alias("n_batches"),
            (F.count(F.lit(1)) * F.first("bucket_len") - F.sum("n_tokens"))
            .cast("long")
            .alias("padding_tokens"),
            (
                F.lit(1.0)
                - F.sum("n_tokens").cast("double")
                / (F.count(F.lit(1)) * F.first("bucket_len"))
            ).alias("padding_frac"),
        )
        .crossJoin(F.broadcast(naive))
        .select(
            "bucket_len",
            "n_docs",
            "n_tokens",
            "n_batches",
            "padding_tokens",
            F.round("padding_frac", 6).alias("padding_frac"),
            F.round(
                F.lit(1.0)
                - F.col("toks").cast("double")
                / (F.col("n") * F.col("max_len")),
                6,
            ).alias("naive_padding_frac"),
        )
    )
    return per.orderBy("bucket_len")


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters (deterministic mergeable summary)
# ---------------------------------------------------------------------------

_MG_K = 16


@query("sketch_mg_heavy_hitters")
def sketch_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Misra–Gries heavy hitters over event types — the
    DETERMINISTIC member of the frequency-sketch family (CMS, its
    probabilistic sibling, is cms_heavy_hitters): k−1 counters per
    partition, then the Agarwal et al. mergeable-summaries combine
    (counter sum, subtract the k-th largest, keep positives). Output:
    the surviving candidates with their MG counts AND their exact
    counts side by side, plus the guarantee columns (n/k bound, the
    undercount, and the in-bound proof flag).

    Rows-only BY DESIGN — summary membership depends on partitioning
    (which ties get decremented), the same honest contract as the GK
    live quantiles; the testable invariants are MG's theorems:
    0 ≤ exact − ĉ ≤ n/k for every survivor, and every item with
    exact > n/k present. Both are pinned in tests/test_mg.py and
    emitted as columns so the driver's rows-check sees them too.

    100 TB posture: one pass, O(k) state per task, raw items never
    shuffle (only ≤ P·(k−1) partial rows move); the exact join-back
    here is the demonstration anchor — at scale the summary IS the
    answer, or pre-filters an exact count of just the candidates."""
    from etl_lens_spark.operators.mg import mg_summarize

    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("item")
    )
    sk = mg_summarize(events, "item", k=_MG_K)
    exact = events.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    n = events.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        sk.join(exact, "item")
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "mg_count",
            "exact",
            "n",
            (F.col("n") / F.lit(_MG_K)).alias("bound"),
            (F.col("exact") - F.col("mg_count")).alias("undercount"),
            (
                (F.col("exact") >= F.col("mg_count"))
                & (
                    (F.col("exact") - F.col("mg_count"))
                    <= F.col("n") / F.lit(_MG_K)
                )
            ).alias("within_bound"),
        )
        .orderBy(F.desc("mg_count"), "item")
    )


# ---------------------------------------------------------------------------
# Classifier threshold sweep (precision/recall/F1 per cutoff)
# ---------------------------------------------------------------------------

_TS_CUTS = [i / 10.0 for i in range(1, 10)]  # 0.1 .. 0.9


def _ts_sweep_oracle() -> str:
    from etl_lens_spark.queries.quality_q import _LR_ITERS, _lr_oracle

    base = _lr_oracle()
    head = base[: base.rindex("SELECT")]
    z = " + ".join(f"w.b{j} * f.x{j}" for j in range(4))
    cuts = ", ".join(repr(t) for t in _TS_CUTS)
    return f"""
    {head}
    , sc AS (
        SELECT round(1.0/(1.0+exp(-({z}))), 6) AS score,
               CAST(f.y AS BIGINT) AS y
        FROM feat f CROSS JOIN w{_LR_ITERS} w
    ),
    sweep AS (
        SELECT s.score, s.y, t.threshold
        FROM sc s, LATERAL (SELECT CAST(unnest([{cuts}]) AS DOUBLE) AS threshold) t
    ),
    agg AS (
        SELECT threshold,
               CAST(SUM(CASE WHEN score >= threshold THEN y
                             ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= threshold THEN 1 - y
                             ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score < threshold THEN y
                             ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN score < threshold THEN 1 - y
                             ELSE 0 END) AS BIGINT) AS tn
        FROM sweep GROUP BY threshold
    )
    SELECT threshold, tp, fp, fn, tn,
           round(tp / GREATEST(tp + fp, 1), 6) AS precision,
           round(tp / GREATEST(tp + fn, 1), 6) AS recall,
           round(2 * (tp / GREATEST(tp + fp, 1))
                   * (tp / GREATEST(tp + fn, 1))
                 / GREATEST(tp / GREATEST(tp + fp, 1)
                            + tp / GREATEST(tp + fn, 1), 1e-12),
                 6) AS f1
    FROM agg ORDER BY threshold
    """


@query("ml_threshold_sweep", oracle=_ts_sweep_oracle())
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Operating-point selection: the confusion matrix and
    precision/recall/F1 of the trained quality filter at every
    decision threshold 0.1..0.9 — the table that picks the deployed
    cutoff (AUC ranks the model, THIS picks the operating point).
    Rides the shared _lr_feat/_lr_train chain, so the scores are the
    exact ones ml_logreg_score_filter ships; one scan computes all 9
    thresholds simultaneously (threshold array explode over the
    scored projection — a 9× map-side fan-out of 1-row-per-doc
    aggregates, no rescans).

    100 TB posture: scoring broadcasts 4 weight literals; the sweep
    is one grouped aggregate keyed by the 9-value threshold column;
    counts are exact BIGINTs, ratios derived once at the end."""
    from etl_lens_spark.queries.quality_q import (
        _lr_feat,
        _lr_train,
        _lr_z,
    )

    feat = _lr_feat(load_table(spark, sf_dir, "documents"))
    w = _lr_train(feat)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_lr_z(w)))
    scored = feat.select(
        F.round(p, 6).alias("score"), F.col("y").cast("long").alias("y")
    )
    sweep = scored.select(
        "score",
        "y",
        F.explode(
            F.array(*[F.lit(t) for t in _TS_CUTS])
        ).alias("threshold"),
    )
    pred = (F.col("score") >= F.col("threshold")).cast("long")
    agg = sweep.groupBy("threshold").agg(
        F.sum(F.when(pred == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(pred == 1, 1 - F.col("y")).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(pred == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(pred == 0, 1 - F.col("y")).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        ).alias("f1"),
    ).orderBy("threshold")




# ---------------------------------------------------------------------------
# Data-repetition budget (epochs per source under a token target)
# ---------------------------------------------------------------------------

_EP_BUDGET_X = 2.0  # train-token target as a multiple of corpus tokens
_EP_ALPHA = 0.5  # temperature on source shares
_EP_MAX_REP = 4.0  # repetition epochs before quality decays (rule of thumb)


@query(
    "mix_epoch_schedule",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(SUM(len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS avail_tokens
      FROM documents
      WHERE trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) <> ''
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS corpus FROM d),
    wts AS (
      SELECT source, avail_tokens,
             POWER(CAST(avail_tokens AS DOUBLE)
                   / (SELECT corpus FROM tot), {_EP_ALPHA!r}) AS raw_w
      FROM d
    ),
    norm AS (SELECT SUM(raw_w) AS z FROM wts)
    SELECT source, avail_tokens,
           round(raw_w / (SELECT z FROM norm), 6) AS mix_weight,
           CAST(round({_EP_BUDGET_X!r} * (SELECT corpus FROM tot)
                 * raw_w / (SELECT z FROM norm)) AS BIGINT)
             AS requested_tokens,
           round({_EP_BUDGET_X!r} * (SELECT corpus FROM tot)
                 * raw_w / (SELECT z FROM norm) / avail_tokens, 6)
             AS epochs,
           ({_EP_BUDGET_X!r} * (SELECT corpus FROM tot)
                 * raw_w / (SELECT z FROM norm) / avail_tokens
            > {_EP_MAX_REP!r}) AS over_repeated
    FROM wts ORDER BY source
    """,
)
def mix_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Data-repetition budget: given a training-token target
    ({_EP_BUDGET_X}× the corpus) and temperature-α={_EP_ALPHA} mixing
    weights over sources, how many EPOCHS each source repeats before
    the budget is met — the planning table behind "how many times can
    we afford to see this data" (temperature up-weights small sources,
    so THEY repeat first; sources past {_EP_MAX_REP} epochs get the
    over_repeated flag the mixing design must resolve by lowering α
    or the budget). Complements mix_temperature_alpha (the weights)
    with the repetition consequence.

    One token-count aggregate per source; everything downstream is
    |sources|-row arithmetic. Exact-integer token counts; the only
    doubles are the α-power and the final ratios."""
    docs = load_table(spark, sf_dir, "documents")
    norm_t = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = (
        docs.filter(norm_t != "")
        .select("source", F.size(F.split(norm_t, " ")).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("avail_tokens"))
    )
    tot = d.agg(F.sum("avail_tokens").cast("long").alias("corpus"))
    wts = d.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        "corpus",
        F.pow(
            F.col("avail_tokens").cast("double") / F.col("corpus"),
            F.lit(_EP_ALPHA),
        ).alias("raw_w"),
    )
    z = wts.agg(F.sum("raw_w").alias("z"))
    req = (
        F.lit(_EP_BUDGET_X)
        * F.col("corpus")
        * F.col("raw_w")
        / F.col("z")
    )
    return (
        wts.crossJoin(F.broadcast(z))
        .select(
            "source",
            "avail_tokens",
            F.round(F.col("raw_w") / F.col("z"), 6).alias("mix_weight"),
            F.round(req).cast("long").alias("requested_tokens"),
            F.round(req / F.col("avail_tokens"), 6).alias("epochs"),
            (req / F.col("avail_tokens") > _EP_MAX_REP).alias(
                "over_repeated"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Embedding-norm QA (degenerate-vector audit)
# ---------------------------------------------------------------------------


@query(
    "emb_norm_outlier_audit",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(
               list_transform(embedding, __x -> CAST(__x AS DOUBLE)),
               list_transform(embedding, __x -> CAST(__x AS DOUBLE))))
               AS nrm
      FROM embeddings
    ),
    cuts AS (
      SELECT quantile_cont(nrm, 0.01) AS lo,
             quantile_cont(nrm, 0.99) AS hi
      FROM v
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(nrm), 6) AS min_norm,
           round(MAX(nrm), 6) AS max_norm,
           round(AVG(nrm), 6) AS mean_norm,
           CAST(SUM(CASE WHEN nrm < (SELECT lo FROM cuts)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN nrm > (SELECT hi FROM cuts)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM v GROUP BY label ORDER BY label
    """,
)
def emb_norm_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Embedding-norm QA: per label, the L2-norm distribution of
    the vectors plus counts outside the corpus-wide exact p01/p99
    cutoffs — the degenerate-vector audit an embedding pipeline runs
    before indexing (near-zero norms = failed encodes that poison
    cosine math; exploded norms = numeric blowups; a label whose
    norms cluster in a tail = an encoder/version skew signal).

    Norms via the sequential-fold dot (bit-identical cross-engine);
    cutpoints are one exact-percentile aggregate broadcast back over
    the scan (the feature_winsorize shape — group-free here, and the
    approx_percentile swap is the documented 100 TB path). Per-label
    mean is an O(per-label-count) sum of O(1)-magnitude doubles —
    orders below the 6-decimal horizon."""
    from etl_lens_spark.similarity.knn import norm as _norm

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        _norm(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("nrm"),
    )
    cuts = v.agg(
        F.percentile("nrm", F.lit(0.01)).alias("lo"),
        F.percentile("nrm", F.lit(0.99)).alias("hi"),
    )
    return (
        v.crossJoin(F.broadcast(cuts))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.sum(F.when(F.col("nrm") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_low"),
            F.sum(F.when(F.col("nrm") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_high"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Bot-traffic detection (behavioral-log QA before training)
# ---------------------------------------------------------------------------

_BOT_MIN_EVENTS = 12  # below this, rate/regularity stats are noise
_BOT_RATE_S = 3600.0  # flag: sustained < 1 event per this many seconds
_BOT_CV = 0.35  # flag: inter-arrival coefficient of variation below


@query(
    "events_bot_detection_heuristics",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL
    ),
    gaps AS (
      SELECT user_id, us,
             us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
               AS gap_us
      FROM e
    ),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             (MAX(us) - MIN(us)) / 1000000.0 AS span_s,
             AVG(gap_us) / 1000000.0 AS mean_gap_s,
             CASE WHEN AVG(gap_us) > 0
                  THEN sqrt(GREATEST(var_pop(gap_us), 0.0)) / AVG(gap_us)
                  ELSE 0.0 END AS gap_cv
      FROM gaps GROUP BY user_id
      HAVING COUNT(*) >= {_BOT_MIN_EVENTS}
    )
    SELECT user_id, n_events,
           round(span_s, 6) AS span_s,
           round(mean_gap_s, 6) AS mean_gap_s,
           round(gap_cv, 6) AS gap_cv,
           (mean_gap_s < {_BOT_RATE_S!r}) AS fast,
           (gap_cv < {_BOT_CV!r}) AS regular,
           (mean_gap_s < {_BOT_RATE_S!r} AND gap_cv < {_BOT_CV!r})
             AS bot_flag
    FROM per_user
    ORDER BY gap_cv, user_id
    LIMIT 50
    """,
)
def events_bot_detection_heuristics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[N] Bot-traffic heuristics over the event log — the behavioral
    data-curation gate (bot sessions poison engagement-trained
    models the way boilerplate poisons text corpora): per user with
    ≥ {_BOT_MIN_EVENTS} events, the sustained event rate and the
    inter-arrival coefficient of variation. Humans are bursty
    (CV ≳ 1, Poisson-ish); schedulers are metronomes (CV → 0) —
    the classic signature. Flags: fast (mean gap below
    {_BOT_RATE_S:.0f} s), regular (CV < {_BOT_CV}), bot = both. Top
    50 most-regular users (deterministic ties).

    One shuffle on user_id feeds the lag window AND the per-user
    aggregate; var_pop (stable, both engines) avoids the
    E[x²]−E[x]² cancellation on µs-scale gap values — the
    ts_seasonal_strength lesson. WindowGroupLimit caps the top-50."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = e.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            ((F.max("us") - F.min("us")) / 1e6).alias("span_s"),
            (F.avg("gap_us") / 1e6).alias("mean_gap_s"),
            F.when(
                F.avg("gap_us") > 0,
                F.sqrt(F.greatest(F.var_pop("gap_us"), F.lit(0.0)))
                / F.avg("gap_us"),
            )
            .otherwise(0.0)
            .alias("gap_cv"),
        )
        .filter(F.col("n_events") >= _BOT_MIN_EVENTS)
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            F.round("span_s", 6).alias("span_s"),
            F.round("mean_gap_s", 6).alias("mean_gap_s"),
            F.round("gap_cv", 6).alias("gap_cv"),
            (F.col("mean_gap_s") < _BOT_RATE_S).alias("fast"),
            (F.col("gap_cv") < _BOT_CV).alias("regular"),
            (
                (F.col("mean_gap_s") < _BOT_RATE_S)
                & (F.col("gap_cv") < _BOT_CV)
            ).alias("bot_flag"),
        )
        .orderBy("gap_cv", "user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Popularity-bias audit: Gini over item interaction counts
# ---------------------------------------------------------------------------


@query(
    "reco_gini_popularity",
    oracle="""
    WITH counts AS (
      SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, item) AS rk
      FROM counts
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM ranked
    )
    SELECT t.n AS n_items, t.s AS n_interactions,
           round((2.0 * SUM(CAST(r.rk AS DOUBLE) * r.c) / (t.n * t.s))
                 - (CAST(t.n AS DOUBLE) + 1) / t.n, 6) AS gini,
           CAST(SUM(CASE WHEN r.rk > t.n - CAST(ceil(t.n * 0.1)
                          AS BIGINT) THEN r.c ELSE 0 END) AS BIGINT)
             AS top_decile_interactions,
           round(SUM(CASE WHEN r.rk > t.n - CAST(ceil(t.n * 0.1)
                          AS BIGINT) THEN r.c ELSE 0 END)
                 / CAST(t.s AS DOUBLE), 6) AS top_decile_share
    FROM ranked r, tot t
    GROUP BY t.n, t.s
    """,
)
def reco_gini_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] Popularity-bias audit: the Gini coefficient of item
    interaction counts (lineitem per part) plus the top-decile
    interaction share — the one-row fairness dashboard behind "is the
    recommender/training corpus dominated by its head?" Gini from the
    rank identity G = 2·Σ(rank·c)/(n·Σc) − (n+1)/n over counts sorted
    ascending with deterministic item tie-break.

    The global rank comes from operators/prefix.ordered_global_rank
    (range partition + local row_number + broadcast triangular
    offsets) — NO single-reducer window, same machinery as
    exact_quantiles_distributed, so the Lorenz rank scales to
    billions of items. Σ(rank·c) is a BIGINT-exact sum (rank and
    count both integers) — the only doubles are the final three
    divisions."""
    from etl_lens_spark.operators.prefix import ordered_global_rank

    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = ordered_global_rank(
        counts, [F.col("c"), F.col("item")], "rk"
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    top_cut = F.col("n") - F.ceil(F.col("n") * 0.1).cast("long")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n_items"),
            F.first("s").alias("n_interactions"),
            F.round(
                (
                    2.0
                    * F.sum(F.col("rk") * F.col("c")).cast("double")
                    / (F.first("n") * F.first("s"))
                )
                - (F.first("n").cast("double") + 1) / F.first("n"),
                6,
            ).alias("gini"),
            F.sum(
                F.when(F.col("rk") > top_cut, F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("top_decile_interactions"),
            F.round(
                F.sum(
                    F.when(F.col("rk") > top_cut, F.col("c")).otherwise(
                        0
                    )
                )
                / F.first("s").cast("double"),
                6,
            ).alias("top_decile_share"),
        )
    )
