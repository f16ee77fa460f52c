"""Round-5 training-pipeline tranche: preference-data fitting
(Bradley–Terry), labeling QA (Cohen's kappa), embedding dimensionality
reduction (Johnson–Lindenstrauss projection with a distance-
preservation audit), graph triangle counting, sliding-window token
chunking for training-sequence prep, CMS inner-product join-size
estimation, loop-free isotonic calibration (minimax PAVA identity),
and rank-biased overlap between rankers.

These extend the §2.3 north-star families (SURVEY.md) the same way
the earlier npipe tranches do: every query is a PySpark plan plus a
hand-written DuckDB oracle over the identical parquet, with explicit
100 TB posture notes. Randomness is md5-derived (cross-engine
deterministic) or precomputed shared literals — never engine RNG.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.operators.kmv import SCALE as _MD5_SCALE
from etl_lens_spark.operators.kmv import kmv_value
from etl_lens_spark.operators.staging import freeze, stage
from etl_lens_spark.queries import query
from etl_lens_spark.queries.mlprep_q import _md5_sql
from etl_lens_spark.similarity.knn import dot as _dot
from etl_lens_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Bradley–Terry preference-strength fit (MM iterations)
# ---------------------------------------------------------------------------

_BT_ITERS = 5


def _bt_iter_sql(k: int) -> str:
    """One MM update + sum-normalization as two chained CTEs. Both
    MATERIALIZED: r{{k}} is referenced three times (join + two scalar
    subqueries) and inline expansion would re-evaluate the whole
    chain per reference — 3^iters blowup."""
    return f"""r{k} AS MATERIALIZED (
      SELECT n_ij.i,
             CAST(COALESCE(MAX(wins.wn), 0) AS DOUBLE)
               / SUM(CAST(n_ij.n AS DOUBLE) / (pi.v + pj.v)) AS v
      FROM n_ij
      JOIN p{k - 1} pi ON pi.i = n_ij.i
      JOIN p{k - 1} pj ON pj.i = n_ij.j
      LEFT JOIN wins ON wins.i = n_ij.i
      GROUP BY n_ij.i
    ),
    p{k} AS MATERIALIZED (
      SELECT i, v * (SELECT CAST(COUNT(*) AS DOUBLE) FROM r{k})
                  / (SELECT SUM(v) FROM r{k}) AS v
      FROM r{k}
    )"""


@query(
    "pref_bradley_terry_fit",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, source, n_chars FROM documents
    ),
    matches AS MATERIALIZED (
      SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
                  ELSE b.source END AS w,
             CASE WHEN a.n_chars >= b.n_chars THEN b.source
                  ELSE a.source END AS l
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0
    ),
    n_ij AS MATERIALIZED (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT w AS i, l AS j FROM matches
        UNION ALL
        SELECT l AS i, w AS j FROM matches
      ) GROUP BY i, j
    ),
    wins AS MATERIALIZED (
      SELECT w AS i, CAST(COUNT(*) AS BIGINT) AS wn
      FROM matches GROUP BY w
    ),
    p0 AS (SELECT DISTINCT i, 1.0 AS v FROM n_ij),
    {", ".join(_bt_iter_sql(k) for k in range(1, _BT_ITERS + 1))}
    SELECT p.i AS source,
           p.v AS rating,
           CAST(COALESCE(MAX(wins.wn), 0) AS BIGINT) AS wins,
           CAST(SUM(n_ij.n) AS BIGINT) AS n_matches
    FROM p{_BT_ITERS} p
    JOIN n_ij ON n_ij.i = p.i
    LEFT JOIN wins ON wins.i = p.i
    GROUP BY p.i, p.v
    ORDER BY source
    """,
)
def pref_bradley_terry_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference-strength fit — the preference-data
    primitive behind reward-model data curation: rank corpus sources
    from pairwise win/loss comparisons (here: deterministic doc
    pairs, longer text wins, lower doc_id breaks ties) by iterating
    the MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j) with sum
    normalization, {_BT_ITERS} unrolled rounds.

    100 TB posture: the corpus-sized work is ONE pair-building join
    on a co-partitionable key plus one aggregation down to the
    players×players match matrix; every MM round then rides that
    ≤|players|² frame (data-volume-independent, like the Markov
    power iteration at mlprep_q.events_markov_stationary). The
    oracle unrolls the identical schedule as chained CTEs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    a = d.filter(F.col("doc_id") % 2 == 0).alias("a")
    b = d.alias("b")
    pairs = a.join(
        b, F.col("b.doc_id") == F.col("a.doc_id") + 1
    ).select(
        F.when(
            F.col("a.n_chars") >= F.col("b.n_chars"), F.col("a.source")
        )
        .otherwise(F.col("b.source"))
        .alias("w"),
        F.when(
            F.col("a.n_chars") >= F.col("b.n_chars"), F.col("b.source")
        )
        .otherwise(F.col("a.source"))
        .alias("l"),
    )
    sym = pairs.select(
        F.col("w").alias("i"), F.col("l").alias("j")
    ).unionAll(pairs.select(F.col("l").alias("i"), F.col("w").alias("j")))
    n_ij = (
        sym.groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(stage, "n_ij")
    )
    wins = (
        pairs.groupBy(F.col("w").alias("i"))
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
        .transform(stage, "wins")
    )
    p = n_ij.select("i").distinct().select("i", F.lit(1.0).alias("v"))
    for _ in range(_BT_ITERS):
        raw = (
            n_ij.join(p.withColumnRenamed("v", "vi"), "i")
            .join(
                p.select(
                    F.col("i").alias("j"), F.col("v").alias("vj")
                ),
                "j",
            )
            .join(wins, "i", "left")
            .groupBy("i")
            .agg(
                (
                    F.coalesce(F.max("wn"), F.lit(0)).cast("double")
                    / F.sum(
                        F.col("n").cast("double")
                        / (F.col("vi") + F.col("vj"))
                    )
                ).alias("v")
            )
        )
        norm = raw.agg(
            F.count(F.lit(1)).cast("double").alias("np"),
            F.sum("v").alias("sv"),
        )
        # freeze the |players|-row rating frame per round: it is
        # referenced three times next round (two join sides + the
        # normalizer) and unbroken lineage re-executes the whole
        # prior chain per reference — the same 3^iters blowup the
        # oracle needed MATERIALIZED for
        p = (
            raw.crossJoin(F.broadcast(norm))
            .select(
                "i", (F.col("v") * F.col("np") / F.col("sv")).alias("v")
            )
            .transform(freeze, "bounded loop lineage")
        )
    return (
        p.join(n_ij, "i")
        .join(wins, "i", "left")
        .groupBy(F.col("i").alias("source"), F.col("v").alias("rating"))
        .agg(
            F.coalesce(F.max("wn"), F.lit(0)).cast("long").alias("wins"),
            F.sum("n").cast("long").alias("n_matches"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cohen's kappa inter-annotator agreement
# ---------------------------------------------------------------------------

_KAPPA_AGREE = 0.7


@query(
    "label_agreement_kappa",
    oracle=f"""
    WITH lab AS (
      SELECT doc_id,
             {_md5_sql("'an1|' || CAST(doc_id AS VARCHAR)")} % 3 AS la,
             CAST({_md5_sql("'an2|' || CAST(doc_id AS VARCHAR)")}
                  AS DOUBLE) / {_MD5_SCALE!r} AS u,
             1 + {_md5_sql("'an3|' || CAST(doc_id AS VARCHAR)")} % 2
               AS shift
      FROM documents
    ),
    ab AS (
      SELECT la,
             CASE WHEN u < {_KAPPA_AGREE!r} THEN la
                  ELSE (la + shift) % 3 END AS lb
      FROM lab
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END) AS po,
             {" + ".join(
                 f'''(SUM(CASE WHEN la = {c} THEN 1.0 ELSE 0.0 END)
                      / COUNT(*))
                   * (SUM(CASE WHEN lb = {c} THEN 1.0 ELSE 0.0 END)
                      / COUNT(*))''' for c in range(3))} AS pe
      FROM ab
    )
    SELECT CAST(n AS BIGINT) AS n_items, po, pe,
           (po - pe) / (1.0 - pe) AS kappa
    FROM m
    """,
)
def label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement — the labeling-QA
    gate for human/model annotation pipelines: chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e) between two md5-deterministic
    synthetic annotators over the corpus (annotator B agrees with A
    with probability {_KAPPA_AGREE}, else shifts the 3-way label by
    a hash-derived offset, so the oracle recomputes both label
    streams bit-for-bit).

    100 TB posture: one scan, one map-side-combined aggregate —
    both marginals and the diagonal ride the SAME moment set, so
    the answer is a single reduce regardless of corpus size."""
    la = kmv_value(
        F.concat(F.lit("an1|"), F.col("doc_id").cast("string"))
    ) % 3
    u = (
        kmv_value(
            F.concat(F.lit("an2|"), F.col("doc_id").cast("string"))
        ).cast("double")
        / F.lit(_MD5_SCALE)
    )
    shift = (
        kmv_value(
            F.concat(F.lit("an3|"), F.col("doc_id").cast("string"))
        )
        % 2
        + 1
    )
    docs = load_table(spark, sf_dir, "documents").select(
        la.alias("la"),
        F.when(u < _KAPPA_AGREE, la)
        .otherwise((la + shift) % 3)
        .alias("lb"),
    )
    pe = None
    pe_terms = []
    for c in range(3):
        pa = F.sum(
            F.when(F.col("la") == c, 1.0).otherwise(0.0)
        ) / F.count(F.lit(1))
        pb = F.sum(
            F.when(F.col("lb") == c, 1.0).otherwise(0.0)
        ) / F.count(F.lit(1))
        pe_terms.append(pa * pb)
    pe = pe_terms[0] + pe_terms[1] + pe_terms[2]
    po = F.avg(
        F.when(F.col("la") == F.col("lb"), 1.0).otherwise(0.0)
    )
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection + distance-preservation audit
# ---------------------------------------------------------------------------

_JL_K = 16
_JL_D = 64
_JL_PAIRS = 20


def _jl_sign(j: int, d: int) -> float:
    """Deterministic ±1 Achlioptas sign, shared by both engines as a
    precomputed literal (no engine RNG anywhere)."""
    return (
        1.0
        if hashlib.md5(f"jl|{j}|{d}".encode()).digest()[0] % 2 == 0
        else -1.0
    )


_JL_SIGNS = [
    [_jl_sign(j, d) for d in range(_JL_D)] for j in range(_JL_K)
]

_JL_SIGNS_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(repr(v) for v in row) + "]" for row in _JL_SIGNS
    )
    + "]"
)


@query(
    "emb_jl_projection_audit",
    oracle=f"""
    WITH s AS (SELECT {_JL_SIGNS_SQL} AS sm),
    v AS (
      SELECT vec_id, list_transform(embedding,
                                    __x -> CAST(__x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < {2 * _JL_PAIRS}
    ),
    pr AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb,
             list_transform(range(1, {_JL_D + 1}),
                            __i -> a.e[__i] - b.e[__i]) AS dif,
             list_transform(range(1, {_JL_K + 1}),
                 __j -> list_dot_product(a.e, s.sm[__j])
                          / {float(_JL_K) ** 0.5!r}
                      - list_dot_product(b.e, s.sm[__j])
                          / {float(_JL_K) ** 0.5!r}) AS pdif
      FROM v a JOIN v b ON b.vec_id = a.vec_id + {_JL_PAIRS}
      CROSS JOIN s
      WHERE a.vec_id < {_JL_PAIRS}
    )
    SELECT qa, qb,
           list_dot_product(dif, dif) AS d2_orig,
           list_dot_product(pdif, pdif) AS d2_proj,
           list_dot_product(pdif, pdif)
             / list_dot_product(dif, dif) AS dist_ratio
    FROM pr ORDER BY qa
    """,
)
def emb_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection ({_JL_D}→{_JL_K} dims,
    Achlioptas ±1 signs) with a distance-preservation audit — the
    cheap dimensionality-reduction stage in front of ANN/clustering:
    project with a SHARED precomputed sign matrix (module literal in
    both engines) and report per-pair squared-distance ratios
    ‖f(a)−f(b)‖²/‖a−b‖² for a deterministic pair sample. The JL bound
    says the ratio concentrates near 1; the audit makes the
    contract measurable (and the test pins the band).

    100 TB posture: projection is a per-row map (k fold-products
    over the vector — no shuffle, no state); the audit joins a
    FIXED-size pair sample, so the expensive part scales linearly
    and the quadratic part is capped by construction. Sequential
    index-order folds on both engines (similarity/knn.dot ≡ DuckDB
    list_dot_product) keep it oracle-exact."""
    inv_sqrt_k = float(_JL_K) ** 0.5
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2 * _JL_PAIRS)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "e"
            ),
        )
    )
    a = emb.filter(F.col("vec_id") < _JL_PAIRS).alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + _JL_PAIRS
    )

    def proj(col):
        comps = [
            _dot(
                col,
                F.array(*[F.lit(v) for v in _JL_SIGNS[j]]),
            )
            / F.lit(inv_sqrt_k)
            for j in range(_JL_K)
        ]
        return F.array(*comps)

    dif = F.zip_with(
        F.col("a.e"), F.col("b.e"), lambda x, y: x - y
    )
    pdif = F.zip_with(
        proj(F.col("a.e")), proj(F.col("b.e")), lambda x, y: x - y
    )
    out = pairs.select(
        F.col("a.vec_id").alias("qa"),
        F.col("b.vec_id").alias("qb"),
        _dot(dif, dif).alias("d2_orig"),
        _dot(pdif, pdif).alias("d2_proj"),
        (_dot(pdif, pdif) / _dot(dif, dif)).alias("dist_ratio"),
    )
    return out.orderBy("qa")


# ---------------------------------------------------------------------------
# Triangle counting on the user co-occurrence graph
# ---------------------------------------------------------------------------

_TRI_USERS = 60
_TRI_BUCKET_US = 600_000_000  # 10-minute co-occurrence window


@query(
    "graph_triangle_count_users",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND epoch_us(a.ts) // {_TRI_BUCKET_US}
           = epoch_us(b.ts) // {_TRI_BUCKET_US}
       AND a.user_id < b.user_id
      WHERE a.user_id < {_TRI_USERS} AND b.user_id < {_TRI_USERS}
    ),
    tri AS (
      SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
      FROM e e1
      JOIN e e2 ON e2.ua = e1.ub
      JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
    )
    SELECT vertex, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS vertex FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY vertex ORDER BY vertex
    """,
)
def graph_triangle_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the user co-occurrence graph
    (users sharing an (event_type, 10-minute bucket)) — the local
    clustering primitive behind community/cohesion features that
    PageRank/label-propagation/Adamic-Adar (graph_q) don't give.

    The classic distributed plan: collapse the corpus to DISTINCT
    ordered edges first (the only corpus-sized shuffle), then count
    triangles as wedge-join ∘ closing-edge semi-join — e(a,b)⋈e(b,c)
    keyed on the shared middle vertex, verified against e(a,c). At
    100 TB the ordered-edge convention (a<b) means each triangle is
    generated exactly once, no candidate is counted from more than
    one rotation, and degree-skew is bounded by the same max-bucket
    discipline as the LSH self-joins. Per-vertex counts come from
    exploding each found triangle's three corners."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < _TRI_USERS)
        .select(
            "user_id",
            "event_type",
            (F.unix_micros("ts") / F.lit(_TRI_BUCKET_US))
            .cast("long")
            .alias("bkt"),
        )
    )
    a = ev.alias("a")
    b = ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("ua"),
            F.col("b.user_id").alias("ub"),
        )
        .distinct()
        .transform(stage, "edges")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.ua") == F.col("e1.ub"))
        .join(
            e3,
            (F.col("e3.ua") == F.col("e1.ua"))
            & (F.col("e3.ub") == F.col("e2.ub")),
        )
        .select(
            F.col("e1.ua").alias("a"),
            F.col("e1.ub").alias("b"),
            F.col("e2.ub").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("vertex"))
        .unionAll(tri.select(F.col("b").alias("vertex")))
        .unionAll(tri.select(F.col("c").alias("vertex")))
    )
    return (
        corners.groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("vertex")
    )


# ---------------------------------------------------------------------------
# Sliding-window token chunking for training-sequence prep
# ---------------------------------------------------------------------------

_CHUNK_C = 128  # chunk length (tokens)
_CHUNK_S = 96  # stride (tokens); overlap = C - S


@query(
    "text_chunk_sliding_windows",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, n_tok,
             1 + CAST(CEIL(CAST(GREATEST(n_tok - {_CHUNK_C}, 0)
                                AS DOUBLE) / {_CHUNK_S}) AS BIGINT)
               AS n_chunks
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok + (n_chunks - 1)
                    * {_CHUNK_C - _CHUNK_S}) AS BIGINT)
             AS emitted_tokens,
           CAST(SUM((n_chunks - 1) * {_CHUNK_C - _CHUNK_S}) AS BIGINT)
             AS dup_tokens,
           CAST(SUM(n_chunks * {_CHUNK_C}
                    - (n_tok + (n_chunks - 1)
                       * {_CHUNK_C - _CHUNK_S})) AS BIGINT)
             AS pad_tokens
    FROM c GROUP BY source ORDER BY source
    """,
)
def text_chunk_sliding_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window chunking audit for training-sequence prep:
    every document is cut into C={_CHUNK_C}-token windows at stride
    S={_CHUNK_S} (the overlap-tokenization contract: n_chunks = 1 +
    ⌈max(0, n−C)/S⌉, middle chunks full, last chunk ragged), and the
    per-source report gives exactly the numbers a packing/mixing
    stage needs — emitted vs unique tokens (duplication cost of the
    overlap) and padding-to-C waste. Complements pack_token_budget
    _shards (which packs whole docs) with the overlap-window regime
    used for long-document pretraining.

    100 TB posture: pure per-row integer arithmetic (token count via
    one split) followed by a map-side-combined per-source aggregate —
    one shuffle of |sources| rows; no explode of the actual windows
    is needed for the audit, so the plan moves counts, not text."""
    c_minus_s = _CHUNK_C - _CHUNK_S
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    c = t.select(
        "source",
        "n_tok",
        (
            F.lit(1)
            + F.ceil(
                F.greatest(
                    F.col("n_tok") - _CHUNK_C, F.lit(0)
                ).cast("double")
                / F.lit(float(_CHUNK_S))
            ).cast("long")
        ).alias("n_chunks"),
    )
    emitted = F.col("n_tok") + (F.col("n_chunks") - 1) * c_minus_s
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum(emitted).cast("long").alias("emitted_tokens"),
            F.sum((F.col("n_chunks") - 1) * c_minus_s)
            .cast("long")
            .alias("dup_tokens"),
            F.sum(F.col("n_chunks") * _CHUNK_C - emitted)
            .cast("long")
            .alias("pad_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Join-size estimation from count-min sketch inner products
# ---------------------------------------------------------------------------

_JS_DEPTH = 5
_JS_WIDTH = 2048
# mid-range of the fixture's 1995..2001 order dates, so BOTH join
# sides are non-empty at every scale (a pre-range split makes the
# whole output NULL==NULL — the unit test guards non-degeneracy)
_JS_SPLIT = "1998-01-01"


def _js_pos_sql(key_expr: str, r: str) -> str:
    from etl_lens_spark.queries.mlprep_q import _md5_sql

    return (
        _md5_sql(f"CAST({key_expr} AS VARCHAR) || '|' || CAST({r} AS VARCHAR)")
        + f" % {_JS_WIDTH}"
    )


@query(
    "cms_join_size_estimate",
    oracle=f"""
    WITH a AS (SELECT o_custkey AS k FROM orders
               WHERE CAST(o_orderdate AS DATE) < DATE '{_JS_SPLIT}'),
    b AS (SELECT o_custkey AS k FROM orders
          WHERE CAST(o_orderdate AS DATE) >= DATE '{_JS_SPLIT}'),
    rr AS (SELECT UNNEST(range({_JS_DEPTH})) AS r),
    sa AS (
      SELECT rr.r, {_js_pos_sql("a.k", "rr.r")} AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM a CROSS JOIN rr GROUP BY rr.r, c
    ),
    sb AS (
      SELECT rr.r, {_js_pos_sql("b.k", "rr.r")} AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b CROSS JOIN rr GROUP BY rr.r, c
    ),
    per_row AS (
      SELECT sa.r, SUM(sa.cnt * sb.cnt) AS ip
      FROM sa JOIN sb ON sa.r = sb.r AND sa.c = sb.c
      GROUP BY sa.r
    ),
    exact AS (
      SELECT SUM(fa.n * fb.n) AS sz FROM
        (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY k) fa
        JOIN
        (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY k) fb
        USING (k)
    )
    SELECT CAST((SELECT sz FROM exact) AS BIGINT) AS exact_join_size,
           CAST((SELECT MIN(ip) FROM per_row) AS BIGINT)
             AS est_join_size,
           CAST((SELECT MIN(ip) FROM per_row) AS DOUBLE)
             / (SELECT sz FROM exact) AS overestimate_ratio
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation from count-min sketch INNER
    PRODUCTS (Cormode & Muthukrishnan 2005 §4.2) — the planner-side
    answer to "how big is A ⋈ B on this key" without touching the
    join: |A ⋈_k B| = Σ_k f_A(k)·f_B(k) is estimated by min over
    sketch rows r of Σ_c A[r][c]·B[r][c], an overestimate with the
    same e/width·N₁N₂ guarantee as point queries. Demonstrated on the
    orders table split at {_JS_SPLIT} (early customers ⋈ late
    customers); the exact inner product rides alongside so the
    output audits its own bound.

    Positions here are md5-derived (cross-engine, unlike the xxhash64
    production sketch in operators/cms.py) so the ORACLE rebuilds the
    identical sketches cell-for-cell and the estimate hash-matches.
    100 TB posture: each side collapses to ≤ depth·width cells with
    map-side combine (one shuffle each); the inner product joins two
    ≤10k-row relations — the whole estimate never materializes the
    join it prices."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = orders.filter(F.col("d") < _JS_SPLIT).select("k")
    b = orders.filter(F.col("d") >= _JS_SPLIT).select("k")

    def sketch(df):
        pos = [
            F.struct(
                F.lit(r).alias("r"),
                (
                    kmv_value(
                        F.concat(
                            F.col("k").cast("string"),
                            F.lit("|"),
                            F.lit(str(r)),
                        )
                    )
                    % _JS_WIDTH
                ).alias("c"),
            )
            for r in range(_JS_DEPTH)
        ]
        return (
            df.select(F.explode(F.array(*pos)).alias("p"))
            .groupBy(F.col("p.r").alias("r"), F.col("p.c").alias("c"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    sa = sketch(a)
    sb = sketch(b).withColumnRenamed("cnt", "cnt_b")
    per_row = (
        sa.join(sb, ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
    )
    est = per_row.agg(F.min("ip").cast("long").alias("est_join_size"))
    fa = a.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("na"))
    fb = b.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    exact = (
        fa.join(fb, "k")
        .agg(
            F.sum(F.col("na") * F.col("nb"))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "est_join_size",
        (
            F.col("est_join_size").cast("double")
            / F.col("exact_join_size")
        ).alias("overestimate_ratio"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via the minimax PAVA identity
# ---------------------------------------------------------------------------

_ISO_BINS = 32


@query(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH src AS (
      SELECT CAST({_md5_sql(
          "'iso|' || CAST(o_orderkey AS VARCHAR)"
      )} AS DOUBLE) / {_MD5_SCALE!r} AS u,
             CAST({_md5_sql(
          "'isol|' || CAST(o_orderkey AS VARCHAR)"
      )} AS DOUBLE) / {_MD5_SCALE!r} AS v
      FROM orders
    ),
    binned AS (
      SELECT CAST(FLOOR(u * {_ISO_BINS}) AS BIGINT) AS bin,
             CASE WHEN v < 0.2 + 0.6 * u THEN 1 ELSE 0 END AS y
      FROM src
    ),
    bins AS MATERIALIZED (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    ),
    pre AS MATERIALIZED (
      SELECT bin,
             n, pos,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(pos) OVER (ORDER BY bin) AS cp,
             SUM(n) OVER (ORDER BY bin) - n AS cn_prev,
             SUM(pos) OVER (ORDER BY bin) - pos AS cp_prev
      FROM bins
    ),
    inner_min AS MATERIALIZED (
      SELECT j.bin AS jb, k.bin AS kb,
             MIN(CAST(l.cp - j.cp_prev AS DOUBLE)
                 / CAST(l.cn - j.cn_prev AS DOUBLE)) AS m
      FROM pre j JOIN pre k ON j.bin <= k.bin
                 JOIN pre l ON l.bin >= k.bin
      GROUP BY j.bin, k.bin
    ),
    iso AS (
      SELECT kb AS bin, MAX(m) AS iso_rate
      FROM inner_min GROUP BY kb
    )
    SELECT bins.bin,
           bins.n,
           bins.pos,
           CAST(bins.pos AS DOUBLE) / bins.n AS emp_rate,
           iso.iso_rate
    FROM bins JOIN iso USING (bin)
    ORDER BY bins.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration (the reward-model /
    classifier-probability calibration primitive) fitted WITHOUT the
    sequential pool-adjacent-violators loop: on binned scores the
    PAVA solution obeys the closed-form minimax identity
    iso_k = max_(j≤k) min_(l≥k) mean(y over bins j..l), which turns
    the fit into prefix sums + a triple self-join over the BIN table
    — {_ISO_BINS}³ combinations of a data-volume-independent frame,
    fully declarative in both engines (no driver loop, no UDF).
    Scores and labels are md5-deterministic with a planted monotone
    truth P(y=1|u) = 0.2 + 0.6u, so the fit has real signal to
    recover; tests pin the minimax result against a pure-Python
    stack PAVA bit-for-bit.

    100 TB posture: the corpus pass is one binning aggregate
    (map-side combined, {_ISO_BINS} groups); everything after rides
    the bin table. The windows ride the same tiny frame — the
    documented volume-independent-window exception."""
    u = (
        kmv_value(
            F.concat(F.lit("iso|"), F.col("o_orderkey").cast("string"))
        ).cast("double")
        / F.lit(_MD5_SCALE)
    )
    v = (
        kmv_value(
            F.concat(F.lit("isol|"), F.col("o_orderkey").cast("string"))
        ).cast("double")
        / F.lit(_MD5_SCALE)
    )
    from pyspark.sql import Window

    binned = load_table(spark, sf_dir, "orders").select(
        F.floor(u * _ISO_BINS).cast("long").alias("bin"),
        F.when(v < F.lit(0.2) + F.lit(0.6) * u, 1)
        .otherwise(0)
        .alias("y"),
    )
    bins = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        .transform(stage, "bins")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
        (F.sum("n").over(w) - F.col("n")).alias("cn_prev"),
        (F.sum("pos").over(w) - F.col("pos")).alias("cp_prev"),
    ).transform(stage, "pre")
    j = pre.select(
        F.col("bin").alias("jb"),
        F.col("cn_prev").alias("j_cn_prev"),
        F.col("cp_prev").alias("j_cp_prev"),
    )
    k = pre.select(F.col("bin").alias("kb"))
    ll = pre.select(
        F.col("bin").alias("lb"),
        F.col("cn").alias("l_cn"),
        F.col("cp").alias("l_cp"),
    )
    inner_min = (
        j.join(k, F.col("jb") <= F.col("kb"))
        .join(ll, F.col("lb") >= F.col("kb"))
        .groupBy("jb", "kb")
        .agg(
            F.min(
                (F.col("l_cp") - F.col("j_cp_prev")).cast("double")
                / (F.col("l_cn") - F.col("j_cn_prev")).cast("double")
            ).alias("m")
        )
    )
    iso = inner_min.groupBy(F.col("kb").alias("bin")).agg(
        F.max("m").alias("iso_rate")
    )
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n")).alias("emp_rate"),
            "iso_rate",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between two rankers
# ---------------------------------------------------------------------------

_RBO_K = 10
_RBO_P = 0.9


@query(
    "rank_rbo_overlap",
    oracle=f"""
    WITH m AS (
      SELECT event_type, user_id,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS tot_cents,
             CAST(COUNT(*) AS BIGINT) AS n_ev
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY tot_cents DESC, user_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n_ev DESC, user_id) AS rb
      FROM m
    ),
    depths AS (SELECT UNNEST(range(1, {_RBO_K + 1})) AS d),
    agree AS (
      SELECT r.event_type, depths.d,
             CAST(COUNT(*) FILTER (r.ra <= depths.d
                                   AND r.rb <= depths.d) AS DOUBLE)
               / depths.d AS a_d
      FROM ranked r CROSS JOIN depths
      GROUP BY r.event_type, depths.d
    )
    SELECT event_type,
           (1.0 - {_RBO_P!r})
             * SUM(POWER({_RBO_P!r}, d - 1) * a_d)
             / (1.0 - POWER({_RBO_P!r}, {_RBO_K}))
             AS rbo,
           MAX(CASE WHEN d = 1 THEN a_d END) AS top1_agreement,
           MAX(CASE WHEN d = {_RBO_K} THEN a_d END)
             AS top{_RBO_K}_agreement
    FROM agree GROUP BY event_type ORDER BY event_type
    """,
)
def rank_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two rankers
    of the same items — the offline-eval primitive for "did the new
    ranker change what users actually see" that nDCG (ml_eval_ndcg_
    rank) can't answer because it needs a relevance oracle and RBO
    doesn't: per event type, users ranked by total value vs by event
    count, truncated RBO at k={_RBO_K} with persistence p={_RBO_P}
    (normalized by 1-p^k so identical rankings score exactly 1).
    Deterministic ties (user_id ascending) keep both engines'
    rankings identical, and the value ranking sums EXACT integer
    cents (round(value*100) cast BIGINT) rather than doubles — a
    float SUM's partial-order nondeterminism could flip adjacent
    ranks for near-equal totals across engines/partitionings.

    100 TB posture: one aggregation collapses the corpus to
    (type, user) rows; both rankings ride ONE type-keyed shuffle
    (two windows over the same partitioning); prefix-agreement at
    all {_RBO_K} depths comes from a broadcast range cross join over
    the top slice, not {_RBO_K} passes. POWER on shared literals
    (exact dyadic base would be ideal, but p^d at d≤{_RBO_K} is
    well inside double exactness for cross-engine agreement)."""
    from pyspark.sql import Window

    m = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "tot_cents"
            ),
            F.count(F.lit(1)).cast("long").alias("n_ev"),
        )
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.col("tot_cents").desc(), F.col("user_id")
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.col("n_ev").desc(), F.col("user_id")
    )
    ranked = m.select(
        "event_type",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    depths = spark.range(1, _RBO_K + 1).select(
        F.col("id").cast("long").alias("d")
    )
    agree = (
        ranked.crossJoin(F.broadcast(depths))
        .groupBy("event_type", "d")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("ra") <= F.col("d"))
                        & (F.col("rb") <= F.col("d")),
                        1.0,
                    ).otherwise(0.0)
                )
                / F.col("d")
            ).alias("a_d")
        )
    )
    return (
        agree.groupBy("event_type")
        .agg(
            (
                F.lit(1.0 - _RBO_P)
                * F.sum(
                    F.pow(F.lit(_RBO_P), F.col("d") - 1) * F.col("a_d")
                )
                / F.lit(1.0 - _RBO_P**_RBO_K)
            ).alias("rbo"),
            F.max(F.when(F.col("d") == 1, F.col("a_d"))).alias(
                "top1_agreement"
            ),
            F.max(F.when(F.col("d") == _RBO_K, F.col("a_d"))).alias(
                f"top{_RBO_K}_agreement"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution (closed form over the
# subset lattice)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ["click", "error", "signup", "view"]  # bit i = 2^i
_SHAP_N = len(_SHAP_CHANNELS)


def _shap_weight(s_size: int) -> float:
    import math

    return (
        math.factorial(s_size)
        * math.factorial(_SHAP_N - s_size - 1)
        / math.factorial(_SHAP_N)
    )


def _shap_mask_sql() -> str:
    # OR of channel bits for pre-first-purchase touches
    bits = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(_SHAP_CHANNELS)
    )
    return bits


@query(
    "events_shapley_attribution",
    headline=True,
    oracle=f"""
    WITH fp AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_purchase_us
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    touch AS (
      SELECT e.user_id, {_shap_mask_sql()} AS mask
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE epoch_us(e.ts) < fp.first_purchase_us
      GROUP BY e.user_id
    ),
    conv_mask AS (
      SELECT COALESCE(t.mask, 0) AS mask,
             CAST(COUNT(*) AS BIGINT) AS n_conv
      FROM fp LEFT JOIN touch t ON fp.user_id = t.user_id
      GROUP BY COALESCE(t.mask, 0)
    ),
    coalitions AS (SELECT UNNEST(range({1 << _SHAP_N})) AS s),
    v AS MATERIALIZED (
      SELECT c.s, CAST(COALESCE(SUM(m.n_conv), 0) AS DOUBLE) AS v
      FROM coalitions c
      LEFT JOIN conv_mask m ON (m.mask & c.s) = m.mask
      GROUP BY c.s
    ),
    phi AS (
      {" UNION ALL ".join(f'''
      SELECT '{ch}' AS channel,
             SUM(CASE WHEN (v.s & {1 << i}) = 0 THEN
                   (CASE bit_count(v.s)
                      {" ".join(
                          f"WHEN {k} THEN {_shap_weight(k)!r}"
                          for k in range(_SHAP_N))}
                    END)
                   * (vv.v - v.v)
                 ELSE 0.0 END) AS phi
      FROM v JOIN v vv ON vv.s = (v.s | {1 << i})
      ''' for i, ch in enumerate(_SHAP_CHANNELS))}
    )
    SELECT channel, phi FROM phi ORDER BY channel
    """,
)
def events_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value attribution of conversions to touch
    channels — the game-theoretic completion of the attribution
    family (events_multitouch_attribution's heuristics, the Markov
    removal effect): the coalition game v(S) = conversions whose
    pre-first-purchase touchset ⊆ S, with φ_c = Σ_S w(|S|)·(v(S∪c)
    − v(S)) computed in closed form over the full 2^{_SHAP_N}
    subset lattice (n={_SHAP_N} channels ⇒ 16 coalitions — exact,
    no sampling). Efficiency (Σφ = v(N) − v(∅)) is test-asserted.

    100 TB posture: the corpus collapses to per-user (mask,
    converted) in one join + aggregate; everything after rides the
    16-row coalition table (subset-sum join on mask-containment,
    factorial weights as shared literals). The 2^n lattice caps the
    method at tens of channels BY CONSTRUCTION — beyond that you
    sample permutations, which is a different (approximate)
    contract."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("fp_us"))
    )
    bits = [
        F.max(
            F.when(F.col("event_type") == ch, F.lit(1 << i)).otherwise(0)
        )
        for i, ch in enumerate(_SHAP_CHANNELS)
    ]
    touch = (
        ev.join(fp, "user_id")
        .filter(F.unix_micros("ts") < F.col("fp_us"))
        .groupBy("user_id")
        .agg(sum(bits[1:], bits[0]).alias("mask"))
    )
    conv_mask = (
        fp.join(touch, "user_id", "left")
        .groupBy(F.coalesce(F.col("mask"), F.lit(0)).alias("mask"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_conv"))
    )
    coalitions = spark.range(1 << _SHAP_N).select(
        F.col("id").cast("long").alias("s")
    )
    v = (
        coalitions.join(
            conv_mask,
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("n_conv"), F.lit(0))
            .cast("double")
            .alias("v")
        )
        .transform(stage, "shapley_values")
    )
    # factorial weight by coalition size, shared literals both engines
    size = F.bit_count(F.col("s"))
    wt = F.when(size == 0, F.lit(_shap_weight(0)))
    for k in range(1, _SHAP_N):
        wt = wt.when(size == k, F.lit(_shap_weight(k)))
    outs = []
    vv = v.select(F.col("s").alias("s2"), F.col("v").alias("v2"))
    for i, ch in enumerate(_SHAP_CHANNELS):
        bit = 1 << i
        phi = (
            v.filter(F.col("s").bitwiseAND(F.lit(bit)) == 0)
            .join(
                vv,
                F.col("s2") == F.col("s").bitwiseOR(F.lit(bit)),
            )
            .agg(
                F.sum(wt * (F.col("v2") - F.col("v"))).alias("phi")
            )
            .select(F.lit(ch).alias("channel"), "phi")
        )
        outs.append(phi)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("channel")

# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal, 3 annotators, missing labels)
# ---------------------------------------------------------------------------

_KRIPP_MISS = 0.2
_KRIPP_ANN = 3


def _kripp_lab_sql(a: int) -> str:
    return _md5_sql(f"'kr{a}|' || CAST(doc_id AS VARCHAR)") + " % 3"


def _kripp_present_sql(a: int) -> str:
    u = _md5_sql(f"'km{a}|' || CAST(doc_id AS VARCHAR)")
    return f"(CAST({u} AS DOUBLE) / {_MD5_SCALE!r} >= {_KRIPP_MISS!r})"


@query(
    "label_agreement_krippendorff",
    oracle=f"""
    WITH wide AS (
      SELECT doc_id,
             {", ".join(
                 f"CASE WHEN {_kripp_present_sql(a)} "
                 f"THEN {_kripp_lab_sql(a)} END AS l{a}"
                 for a in range(1, _KRIPP_ANN + 1))}
      FROM documents
    ),
    usable AS (
      SELECT doc_id, l1, l2, l3,
             ((l1 IS NOT NULL)::INT + (l2 IS NOT NULL)::INT
              + (l3 IS NOT NULL)::INT) AS m
      FROM wide
      WHERE ((l1 IS NOT NULL)::INT + (l2 IS NOT NULL)::INT
             + (l3 IS NOT NULL)::INT) >= 2
    ),
    pairs AS (
      {" UNION ALL ".join(
          f'''SELECT l{g} AS c, l{h} AS k,
              1.0 / (m - 1) AS w
              FROM usable WHERE l{g} IS NOT NULL AND l{h} IS NOT NULL'''
          for g in range(1, _KRIPP_ANN + 1)
          for h in range(1, _KRIPP_ANN + 1) if g != h)}
    ),
    o AS MATERIALIZED (
      SELECT c, k, SUM(w) AS o FROM pairs GROUP BY c, k
    ),
    marg AS MATERIALIZED (
      SELECT c, SUM(o) AS nc FROM o GROUP BY c
    ),
    tots AS (
      SELECT (SELECT SUM(o) FROM o WHERE c <> k) AS d_obs,
             (SELECT SUM(o) FROM o) AS n,
             (SELECT SUM(m1.nc * m2.nc)
              FROM marg m1 JOIN marg m2 ON m1.c <> m2.c) AS cross_sum
    )
    SELECT CAST((SELECT COUNT(*) FROM usable) AS BIGINT) AS n_items,
           CAST(n AS BIGINT) AS n_pairable,
           d_obs,
           cross_sum / (n - 1.0) AS d_exp,
           1.0 - d_obs / (cross_sum / (n - 1.0)) AS alpha
    FROM tots
    """,
)
def label_agreement_krippendorff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — the agreement measure
    Cohen's kappa can't give you once labels are MISSING or there are
    more than two annotators: {_KRIPP_ANN} md5-deterministic
    annotators each skip ~{int(_KRIPP_MISS * 100)}% of items, items
    with ≥2 labels contribute their ordered label pairs to the
    coincidence matrix at weight 1/(m−1), and α = 1 − D_o/D_e over
    that matrix. Weights are dyadic (m ∈ {{2,3}} → 1 or 0.5), so
    every sum is EXACT in doubles — order-insensitive by
    construction, hash-stable across engines and partitionings.

    100 TB posture: one scan builds the wide label row per item;
    the pair explosion is a per-row flat map (≤6 rows per item, no
    shuffle) into a 9-cell coincidence aggregate — the whole
    statistic is one map-side-combined reduce."""
    doc_id = F.col("doc_id").cast("string")
    cols = []
    for a_ in range(1, _KRIPP_ANN + 1):
        lab = kmv_value(F.concat(F.lit(f"kr{a_}|"), doc_id)) % 3
        u = (
            kmv_value(F.concat(F.lit(f"km{a_}|"), doc_id)).cast("double")
            / F.lit(_MD5_SCALE)
        )
        cols.append(
            F.when(u >= _KRIPP_MISS, lab).alias(f"l{a_}")
        )
    wide = load_table(spark, sf_dir, "documents").select("doc_id", *cols)
    m = sum(
        (
            F.col(f"l{a_}").isNotNull().cast("int")
            for a_ in range(2, _KRIPP_ANN + 1)
        ),
        F.col("l1").isNotNull().cast("int"),
    )
    usable = wide.withColumn("m", m).filter(F.col("m") >= 2)
    pair_structs = [
        F.struct(
            F.col(f"l{g}").alias("c"),
            F.col(f"l{h}").alias("k"),
            (F.lit(1.0) / (F.col("m") - 1)).alias("w"),
        )
        for g in range(1, _KRIPP_ANN + 1)
        for h in range(1, _KRIPP_ANN + 1)
        if g != h
    ]
    pairs = (
        usable.select(
            F.explode(F.array(*pair_structs)).alias("p")
        )
        .select("p.c", "p.k", "p.w")
        .filter(F.col("c").isNotNull() & F.col("k").isNotNull())
    )
    o = pairs.groupBy("c", "k").agg(F.sum("w").alias("o"))
    o = stage(o, "kripp_coincidences")
    marg = o.groupBy("c").agg(F.sum("o").alias("nc"))
    m2 = marg.select(F.col("c").alias("c2"), F.col("nc").alias("nc2"))
    cross = (
        marg.join(m2, F.col("c") != F.col("c2"))
        .agg(F.sum(F.col("nc") * F.col("nc2")).alias("cross_sum"))
    )
    tots = o.agg(
        F.sum(F.when(F.col("c") != F.col("k"), F.col("o"))).alias(
            "d_obs"
        ),
        F.sum("o").alias("n"),
    )
    n_items = usable.agg(
        F.count(F.lit(1)).cast("long").alias("n_items")
    )
    return (
        n_items.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(cross))
        .select(
            "n_items",
            F.col("n").cast("long").alias("n_pairable"),
            "d_obs",
            (F.col("cross_sum") / (F.col("n") - 1.0)).alias("d_exp"),
            (
                F.lit(1.0)
                - F.col("d_obs")
                / (F.col("cross_sum") / (F.col("n") - 1.0))
            ).alias("alpha"),
        )
    )

# ---------------------------------------------------------------------------
# Mann–Whitney U two-sample test (distributed average ranks)
# ---------------------------------------------------------------------------

_MWU_A = "1-URGENT"
_MWU_B = "3-MEDIUM"


@query(
    "stats_mann_whitney_u",
    headline=True,
    oracle=f"""
    WITH src AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS x,
             CASE WHEN o_orderpriority = '{_MWU_A}' THEN 1 ELSE 0 END
               AS ga
      FROM orders
      WHERE o_orderpriority IN ('{_MWU_A}', '{_MWU_B}')
    ),
    ranked AS (
      SELECT ga,
             2 * RANK() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS r2
      FROM src
    ),
    ties AS (
      SELECT SUM(c * c * c - c) AS t FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY x
      )
    ),
    agg AS (
      SELECT CAST(SUM(ga) AS BIGINT) AS na,
             CAST(COUNT(*) - SUM(ga) AS BIGINT) AS nb,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ga = 1 THEN r2 END) AS BIGINT) AS r2a
      FROM ranked
    )
    SELECT na, nb,
           CAST((r2a - na * (na + 1)) / 2 AS BIGINT) AS u_a,
           CAST((r2a - na * (na + 1)) AS DOUBLE) / 2
             / (CAST(na AS DOUBLE) * nb) AS auc,
           ((CAST(r2a - na * (na + 1) AS DOUBLE) / 2)
              - CAST(na AS DOUBLE) * nb / 2)
           / SQRT(CAST(na AS DOUBLE) * nb / 12.0
                  * ((n + 1) - CAST((SELECT t FROM ties) AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1)))) AS z
    FROM agg
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U two-sample test ({_MWU_A} vs {_MWU_B} order
    values) — the nonparametric location test completing the rank
    family next to Spearman: tie-averaged ranks WITHOUT a row-scale
    window (distinct-value counts + operators/prefix.ordered_prefix_
    sum, the Spearman pattern), doubled so the rank sum is an exact
    BIGINT, then U = R_A − n_A(n_A+1)/2, the AUC interpretation
    U/(n_A·n_B) (probability a random A beats a random B — the
    classifier-free AUC), and the tie-corrected normal z.

    100 TB posture: one groupBy to distinct cents values, one range
    exchange for the prefix sums, one broadcast-join back — no
    global row sort, no single-reducer window; the moments are exact
    integers so both engines agree bit-for-bit."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(_MWU_A, _MWU_B))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("x"),
            F.when(F.col("o_orderpriority") == _MWU_A, 1)
            .otherwise(0)
            .alias("ga"),
        )
    )
    counts = src.groupBy("x").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("ga").alias("ca"),
    )
    pre = ordered_prefix_sum(counts, [F.col("x")], "c", "cum")
    # 2·avg_rank of every row with value x = 2·cum − c + 1
    per_val = pre.select(
        "x",
        "c",
        "ca",
        (2 * F.col("cum") - F.col("c") + 1).alias("r2"),
    )
    agg = per_val.agg(
        F.sum("ca").cast("long").alias("na"),
        (F.sum("c") - F.sum("ca")).cast("long").alias("nb"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("ca") * F.col("r2")).cast("long").alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        )
        .cast("long")
        .alias("t"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    n = F.col("n").cast("double")
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)  # 2·U_A exact
    sigma = F.sqrt(
        na * nb / 12.0
        * ((n + 1) - F.col("t").cast("double") / (n * (n - 1)))
    )
    return agg.select(
        "na",
        "nb",
        (u2 / 2).cast("long").alias("u_a"),
        (u2.cast("double") / 2 / (na * nb)).alias("auc"),
        ((u2.cast("double") / 2 - na * nb / 2) / sigma).alias("z"),
    )


# ---------------------------------------------------------------------------
# Stratified IPW average treatment effect with a planted effect
# ---------------------------------------------------------------------------

_ATE_EFFECT_C = 1000000  # planted +$10,000.00 in cents


@query(
    "causal_ipw_ate",
    oracle=f"""
    WITH src AS (
      SELECT o_orderpriority AS stratum,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y0c,
             CASE WHEN CAST({_md5_sql(
                 "'tr|' || CAST(o_orderkey AS VARCHAR)"
             )} AS DOUBLE) / {_MD5_SCALE!r}
                  < 0.2 + 0.1 * (CAST(substr(o_orderpriority, 1, 1)
                                      AS BIGINT) - 1)
                  THEN 1 ELSE 0 END AS t
      FROM orders
    ),
    obs AS (
      SELECT stratum, t, y0c + t * {_ATE_EFFECT_C} AS yc FROM src
    ),
    per_stratum AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e_hat,
             CAST(SUM(CASE WHEN t = 1 THEN yc END) AS DOUBLE)
               / SUM(t) / 100 AS y1_mean,
             CAST(SUM(CASE WHEN t = 0 THEN yc END) AS DOUBLE)
               / (COUNT(*) - SUM(t)) / 100 AS y0_mean
      FROM obs GROUP BY stratum
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM per_stratum)
    SELECT stratum, n, n_t, e_hat, y1_mean, y0_mean,
           (y1_mean - y0_mean) AS diff,
           CAST(n AS DOUBLE) / (SELECT nn FROM tot) * (y1_mean - y0_mean)
             AS contribution
    FROM per_stratum ORDER BY stratum
    """,
)
def causal_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified inverse-propensity-weighted treatment-effect
    estimation — the observational-causal member of the experiment
    family (CUPED handles randomized A/B; this handles CONFOUNDED
    assignment): treatment probability varies by order-priority
    stratum (0.2…0.6, md5-deterministic), a +$10k effect is planted
    on the treated, and the estimator recovers it from the data
    alone via within-stratum propensity estimation — with estimated
    ê_s the per-stratum IPW terms collapse to the stratified
    difference-in-means, so each output row carries n, ê_s, both
    arm means, the stratum effect, and its n_s/N contribution
    (tests assert Σ contributions ≈ $10k within 4·SE and ê_s ≈ the planted
    propensities).

    100 TB posture: ONE map-side-combined aggregate per stratum
    carries every moment (counts, treated counts, both arm sums);
    the estimator is a 5-row reduction — no joins, no windows, no
    second pass. Outcome sums stay exact integer cents until the
    final divisions."""
    pr = (
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long") - 1
    ).cast("double")
    t = (
        F.when(
            kmv_value(
                F.concat(
                    F.lit("tr|"), F.col("o_orderkey").cast("string")
                )
            ).cast("double")
            / F.lit(_MD5_SCALE)
            < F.lit(0.2) + F.lit(0.1) * pr,
            1,
        ).otherwise(0)
    )
    obs = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        t.alias("t"),
        (
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "long"
            )
            + t * _ATE_EFFECT_C
        ).alias("yc"),
    )
    per = obs.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("n_t"),
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e_hat"),
        (
            F.sum(F.when(F.col("t") == 1, F.col("yc"))).cast("double")
            / F.sum("t")
            / 100
        ).alias("y1_mean"),
        (
            F.sum(F.when(F.col("t") == 0, F.col("yc"))).cast("double")
            / (F.count(F.lit(1)) - F.sum("t"))
            / 100
        ).alias("y0_mean"),
    )
    tot = per.agg(F.sum("n").cast("double").alias("nn"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n",
            "n_t",
            "e_hat",
            "y1_mean",
            "y0_mean",
            (F.col("y1_mean") - F.col("y0_mean")).alias("diff"),
            (
                F.col("n").cast("double")
                / F.col("nn")
                * (F.col("y1_mean") - F.col("y0_mean"))
            ).alias("contribution"),
        )
        .orderBy("stratum")
    )

# ---------------------------------------------------------------------------
# Difference-in-differences (2x2 closed form with planted effect)
# ---------------------------------------------------------------------------

_DID_EFFECT_C = 800000  # planted +$8,000.00 in cents
_DID_CUT = "1998-01-01"


@query(
    "causal_diff_in_diff",
    oracle=f"""
    WITH src AS (
      SELECT CASE WHEN {_md5_sql(
          "'dd|' || CAST(o_custkey AS VARCHAR)"
      )} % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{_DID_CUT}'
                  THEN 1 ELSE 0 END AS post,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y0c
      FROM orders
    ),
    obs AS (
      SELECT treated, post,
             y0c + treated * post * {_DID_EFFECT_C} AS yc
      FROM src
    ),
    cells AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yc) AS DOUBLE) / COUNT(*) / 100 AS y_mean
      FROM obs GROUP BY treated, post
    )
    SELECT CAST(treated AS BIGINT) AS treated,
           CAST(post AS BIGINT) AS post,
           n, y_mean
    FROM cells ORDER BY treated, post
    """,
)
def causal_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the panel-data causal estimator
    next to causal_ipw_ate (cross-sectional confounding) and
    stats_panel_fixed_effects (unit effects): customers split into
    treated/control by an md5 coin, a +$8k effect planted ONLY on
    treated×post-{_DID_CUT} orders, and the 2×2 cell means identify
    it as (ȳ₁₁−ȳ₁₀)−(ȳ₀₁−ȳ₀₀) under parallel trends (which hold by
    construction — both groups share the same pre/post drift). The
    query emits the four cells; the DiD contrast and its recovery of
    the planted effect within a data-derived SE are test-pinned.

    100 TB posture: one map-side-combined aggregate to 4 cells —
    the estimator is a scan, not a join; outcome sums stay exact
    integer cents until the final division."""
    treated = (
        kmv_value(
            F.concat(F.lit("dd|"), F.col("o_custkey").cast("string"))
        )
        % 2
    )
    post = (
        F.col("o_orderdate").cast("date") >= F.lit(_DID_CUT)
    ).cast("int")
    obs = load_table(spark, sf_dir, "orders").select(
        treated.alias("treated"),
        post.alias("post"),
        (
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "long"
            )
            + treated * post * _DID_EFFECT_C
        ).alias("yc"),
    )
    return (
        obs.groupBy("treated", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum("yc").cast("double") / F.count(F.lit(1)) / 100).alias(
                "y_mean"
            ),
        )
        .select(
            F.col("treated").cast("long").alias("treated"),
            F.col("post").cast("long").alias("post"),
            "n",
            "y_mean",
        )
        .orderBy("treated", "post")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining over the embedding corpus
# ---------------------------------------------------------------------------

_HNM_QUERIES = 20


@query(
    "emb_hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, __x -> CAST(__x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_HNM_QUERIES}),
    scored AS (
      SELECT q.vec_id AS qid, q.label AS q_label,
             c.vec_id AS cid, c.label AS c_label,
             list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(c.e, c.e))) AS cos
      FROM q JOIN v c ON c.label <> q.label
    ),
    best AS (
      SELECT qid, q_label, cid AS hard_negative_id,
             c_label AS negative_label, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rk
      FROM scored
    )
    SELECT qid, q_label, hard_negative_id, negative_label, cos
    FROM best WHERE rk = 1 ORDER BY qid
    """,
)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op: for
    each anchor, the most-similar vector with a DIFFERENT label (the
    negative that actually teaches the margin, vs easy random
    negatives). {_HNM_QUERIES} anchors against the full corpus,
    cosine via the sequential fold (knn.dot ≡ list_dot_product),
    deterministic ties by candidate id.

    100 TB posture: anchors broadcast against the corpus exactly
    like sim_bruteforce_topk's guarded anchor (per-pair work is one
    dot product, WindowGroupLimit caps the shuffle at one row per
    anchor); the production path swaps the scan for the IVF/LSH
    bucketed candidates and keeps the same label-exclusion filter —
    mining hardness is a ranking problem, so the ANN recall dials
    (spark.etl_lens.ivf.*) apply unchanged."""
    from etl_lens_spark.queries.npipe import parallelize_compute
    from pyspark.sql import Window

    emb = parallelize_compute(
        load_table(spark, sf_dir, "embeddings")
    ).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") < _HNM_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("e").alias("qe"),
    )
    cand = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("c_label"),
        F.col("e").alias("ce"),
    )
    scored = (
        cand.join(F.broadcast(q), F.col("c_label") != F.col("q_label"))
        .select(
            "qid",
            "q_label",
            "cid",
            "c_label",
            (
                _dot(F.col("qe"), F.col("ce"))
                / (
                    F.sqrt(_dot(F.col("qe"), F.col("qe")))
                    * F.sqrt(_dot(F.col("ce"), F.col("ce")))
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("cid")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "qid",
            "q_label",
            F.col("cid").alias("hard_negative_id"),
            F.col("c_label").alias("negative_label"),
            "cos",
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Class-balanced reweighting (effective number of samples)
# ---------------------------------------------------------------------------

_CB_BETA = 0.999


@query(
    "ml_class_balance_weights",
    oracle=f"""
    WITH counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    w AS (
      SELECT label, n,
             (1.0 - {_CB_BETA!r})
               / (1.0 - POWER({_CB_BETA!r}, n)) AS raw_w
      FROM counts
    ),
    tot AS (SELECT SUM(raw_w * n) AS z, SUM(n) AS nn FROM w)
    SELECT label, n, raw_w,
           raw_w * (SELECT nn FROM tot) / (SELECT z FROM tot)
             AS weight
    FROM w ORDER BY label
    """,
)
def ml_class_balance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Class-balanced loss weights by EFFECTIVE number of samples
    (Cui et al. 2019): w_c ∝ (1−β)/(1−β^n_c) with β={_CB_BETA} —
    the principled middle ground between no reweighting (β→0 …
    all-equal) and inverse-frequency (β→1), normalized so the
    weighted sample count equals the true count (Σ w·n = N, the
    convention that keeps the loss scale unchanged). The standard
    companion to the mixing/resampling ops when label imbalance,
    not source imbalance, is the problem.

    100 TB posture: one map-side-combined count per class + a
    2-scalar normalizer — a scan and nothing else."""
    counts = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = counts.select(
        "label",
        "n",
        (
            F.lit(1.0 - _CB_BETA)
            / (F.lit(1.0) - F.pow(F.lit(_CB_BETA), F.col("n")))
        ).alias("raw_w"),
    )
    tot = w.agg(
        F.sum(F.col("raw_w") * F.col("n")).alias("z"),
        F.sum("n").cast("double").alias("nn"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            "raw_w",
            (F.col("raw_w") * F.col("nn") / F.col("z")).alias("weight"),
        )
        .orderBy("label")
    )

# ---------------------------------------------------------------------------
# Off-policy evaluation: inverse-propensity scoring vs replay
# ---------------------------------------------------------------------------

_OPE_REWARD_THRESH = 50.0


@query(
    "bandit_offpolicy_ips",
    oracle=f"""
    WITH logged AS (
      SELECT user_id,
             event_type AS action,
             CASE WHEN value > {_OPE_REWARD_THRESH!r} THEN 1.0
                  ELSE 0.0 END AS r,
             CASE WHEN user_id % 2 = 0 THEN 'click'
                  ELSE 'view' END AS target_action
      FROM events WHERE user_id IS NOT NULL
    ),
    prop AS (
      SELECT action,
             CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM logged) AS p0
      FROM logged GROUP BY action
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
           AVG(CASE WHEN l.action = l.target_action
                    THEN 1.0 ELSE 0.0 END) AS match_rate,
           SUM(CASE WHEN l.action = l.target_action
                    THEN l.r / p.p0 ELSE 0.0 END) / COUNT(*)
             AS ips_estimate,
           SUM(CASE WHEN l.action = l.target_action THEN l.r END)
             / SUM(CASE WHEN l.action = l.target_action
                        THEN 1.0 END) AS replay_estimate,
           AVG(l.r) AS logging_policy_reward
    FROM logged l JOIN prop p ON l.action = p.action
    """,
)
def bandit_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a TARGET policy from logged
    interaction data — the counterfactual question every
    recommendation/agent pipeline asks before an online test ("what
    reward would policy π₁ have earned on last month's traffic"):
    inverse-propensity scoring V̂_IPS = (1/N)Σ 1{{a_i=π₁(x_i)}}·r_i/
    π̂₀(a_i) with the logging propensities ESTIMATED from the log
    itself (context-free empirical frequencies), next to the replay
    estimator (Li et al. 2011: mean reward over matching rows) and
    the logging policy's own reward. The two estimators target the
    same value and their agreement is test-pinned — a cheap internal
    consistency check a real OPE harness always carries.

    100 TB posture: propensities are one map-side-combined aggregate
    over actions (|actions| rows, broadcast back); both estimators
    then ride a single pass — no per-user state, no joins beyond the
    tiny propensity broadcast."""
    logged = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.col("event_type").alias("action"),
            F.when(F.col("value") > _OPE_REWARD_THRESH, 1.0)
            .otherwise(0.0)
            .alias("r"),
            F.when(F.col("user_id") % 2 == 0, "click")
            .otherwise("view")
            .alias("target_action"),
        )
    )
    tot = logged.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    prop = (
        logged.groupBy("action")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select("action", (F.col("cnt") / F.col("nn")).alias("p0"))
    )
    match = F.col("action") == F.col("target_action")
    return (
        logged.join(F.broadcast(prop), "action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_logged"),
            F.avg(F.when(match, 1.0).otherwise(0.0)).alias("match_rate"),
            (
                F.sum(
                    F.when(match, F.col("r") / F.col("p0")).otherwise(
                        0.0
                    )
                )
                / F.count(F.lit(1))
            ).alias("ips_estimate"),
            (
                F.sum(F.when(match, F.col("r")))
                / F.sum(F.when(match, 1.0))
            ).alias("replay_estimate"),
            F.avg("r").alias("logging_policy_reward"),
        )
    )

# ---------------------------------------------------------------------------
# Simpson's paradox scan (planted sign reversal)
# ---------------------------------------------------------------------------


@query(
    "stats_simpsons_paradox_scan",
    oracle=f"""
    WITH src AS (
      SELECT o_orderpriority AS stratum,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) - 1 AS s,
             CAST({_md5_sql(
                 "'sp|' || CAST(o_orderkey AS VARCHAR)"
             )} AS DOUBLE) / {_MD5_SCALE!r} AS u
      FROM orders
    ),
    xy AS (
      SELECT stratum, s + u AS x, 2.0 * s - u AS y FROM src
    ),
    pieces AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM xy GROUP BY stratum
      UNION ALL
      SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
             SUM(x), SUM(y), SUM(x * x), SUM(x * y)
      FROM xy
    )
    SELECT stratum, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
    FROM pieces ORDER BY stratum
    """,
)
def stats_simpsons_paradox_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox detection — the aggregation trap every
    metrics pipeline must scan for before trusting a pooled trend:
    per-stratum OLS slopes next to the pooled slope over the same
    (x, y), with a PLANTED reversal (x = stratum + u, y = 2·stratum
    − u: within every stratum the relationship is exactly −1, pooled
    across strata it is strongly positive because the stratum drives
    both). The test asserts the full reversal — all five
    within-stratum slopes negative, the ALL row positive — so the
    scan provably detects what it exists to detect.

    100 TB posture: one scan feeds both granularities (Catalyst
    shares it through the union), every slope from map-side-combined
    OLS moment sums; magnitudes are O(10) so the moment sums are far
    inside double exactness — partition-order stable (probed)."""
    pr = F.substring(F.col("o_orderpriority"), 1, 1).cast("long") - 1
    u = (
        kmv_value(
            F.concat(F.lit("sp|"), F.col("o_orderkey").cast("string"))
        ).cast("double")
        / F.lit(_MD5_SCALE)
    )
    xy = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        (pr.cast("double") + u).alias("x"),
        (F.lit(2.0) * pr.cast("double") - u).alias("y"),
    )

    def moments(df, label_col):
        return df.groupBy(label_col).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )

    per = moments(xy, "stratum")
    pooled = moments(
        xy.withColumn("stratum", F.lit("ALL")), "stratum"
    )
    nd = F.col("n").cast("double")
    return (
        per.unionByName(pooled)
        .select(
            "stratum",
            "n",
            (
                (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
            ).alias("slope"),
        )
        .orderBy("stratum")
    )
