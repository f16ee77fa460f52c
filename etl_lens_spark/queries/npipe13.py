"""Round-11 tranche: the MAINTAINED LEXICAL RETRIEVAL INDEX family
(VERDICT r10 item 1 — the one retrieval index family still
build-once), the closed ANN re-train loop with an atomic index swap
(item 2), auto-OPTIMIZE cadence for maintainer tables (item 7), and
concurrent maintainers through logical conflict detection (item 5).

The lexical family completes the round-10 pattern: every retrieval
index in the repo — IVF cells, SRP buckets, multi-table, PQ codes,
LSH bands, and now BM25 postings + the positional phrase index — is
a lake table maintained O(delta) from its source's change feed, with
maintained ≡ rebuilt pinned in-output and the frozen-statistics
drift measured as a dial, never silent skew.

Shared algebra lives in text/lexical.py (tokenize/postings/score/
phrase — ONE definition for build-once and maintained paths) and
similarity/ivf.py; fixtures reuse npipe11's documents lake and
npipe12's embeddings lake so every incremental family sees the same
change mix. Reference analog: the reference rebuilds its catalog per
scan (src/main.cpp:255-321); the maintained-index contract is the
[N]-class replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.queries import bench_setup, query
from etl_lens_spark.sources import sinks
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import freeze, stage

# ---------------------------------------------------------------------------
# Maintained BM25 postings index from the CDF
# ---------------------------------------------------------------------------

_LEX_TERMS = ["spark", "join", "filter"]  # same probe vocabulary as
# text_bm25_search / rank_rrf_fusion — the two paths must stay
# comparable
_LEX_TOPK = 10
# NOT text_phrase_search's probe ("big table scan" has zero
# occurrences at sf0.01, which would make the serving check vacuous)
# — this trigram has hits in the head snapshot at every test sf
_PHRASE = ["slow", "hash", "batch"]
_RRF_TOPN = 50
_RRF_K = 60
_RRF_OUT = 20


def _docs_feeds(spark: SparkSession, dt: str):
    """(insert docs, delete ids, delete docs) from the documents
    lake's change feed — same version layout as npipe12._ann_feeds
    (v1 = insert commit, v2 = cdf delete commit)."""
    from etl_lens_spark.operators import lakelog

    ins = (
        lakelog.table_changes(spark, dt, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("doc_id", "text")
    )
    dels = (
        lakelog.table_changes(spark, dt, 1, 2)
        .filter(F.col("_change_type") == "delete")
        .select(F.col("doc_id").alias("__gone"))
        .distinct()
    )
    return ins, dels


_BM25_ORACLE = f"""
    WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in _LEX_TERMS)}),
    seed AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
    head AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3),
    stoks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM seed
    ),
    sdl AS (SELECT doc_id, COUNT(*) AS dlen FROM stoks GROUP BY doc_id),
    sg AS (SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM sdl),
    sdf AS (
        SELECT s.w AS term, COUNT(DISTINCT s.doc_id) AS df
        FROM stoks s JOIN q ON s.w = q.term GROUP BY s.w
    ),
    htoks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM head
    ),
    hdl AS (SELECT doc_id, COUNT(*) AS dlen FROM htoks GROUP BY doc_id),
    hg AS (SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM hdl),
    htf AS (
        SELECT t.doc_id, t.w AS term, COUNT(*) AS tf
        FROM htoks t JOIN q ON t.w = q.term
        GROUP BY t.doc_id, t.w
    ),
    hdf AS (SELECT term, COUNT(*) AS df FROM htf GROUP BY term),
    frozen AS (
        SELECT htf.doc_id,
               SUM(
                 ln((sg.n_docs - COALESCE(sdf.df, 0) + 0.5)
                    / (COALESCE(sdf.df, 0) + 0.5) + 1.0)
                 * htf.tf * (1.2 + 1.0)
                 / (htf.tf + 1.2 * (1.0 - 0.75
                                    + 0.75 * hdl.dlen / sg.avgdl))
               ) AS score
        FROM htf LEFT JOIN sdf ON htf.term = sdf.term
        JOIN hdl ON htf.doc_id = hdl.doc_id
        CROSS JOIN sg
        GROUP BY htf.doc_id
    ),
    current AS (
        SELECT htf.doc_id,
               SUM(
                 ln((hg.n_docs - COALESCE(hdf.df, 0) + 0.5)
                    / (COALESCE(hdf.df, 0) + 0.5) + 1.0)
                 * htf.tf * (1.2 + 1.0)
                 / (htf.tf + 1.2 * (1.0 - 0.75
                                    + 0.75 * hdl.dlen / hg.avgdl))
               ) AS score
        FROM htf LEFT JOIN hdf ON htf.term = hdf.term
        JOIN hdl ON htf.doc_id = hdl.doc_id
        CROSS JOIN hg
        GROUP BY htf.doc_id
    ),
    ftop AS (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS text_rank
        FROM frozen QUALIFY text_rank <= {_LEX_TOPK}
    ),
    ctop AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM current QUALIFY rn <= {_LEX_TOPK}
    ),
    ov AS (SELECT COUNT(*) AS n FROM ftop JOIN ctop USING (doc_id))
    SELECT ftop.doc_id,
           CAST(ftop.text_rank AS BIGINT) AS text_rank,
           ROUND(ftop.score, 6) AS bm25,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra,
           CAST(0 AS BIGINT) AS topk_missing,
           CAST(0 AS BIGINT) AS topk_extra,
           CAST(ov.n AS BIGINT) AS drift_overlap
    FROM ftop CROSS JOIN ov
    ORDER BY ftop.text_rank
"""


@query("text_bm25_incremental_cdf", headline=True, oracle=_BM25_ORACLE)
def text_bm25_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL BM25 POSTINGS INDEX FROM THE CDF (VERDICT r10
    item 1) — the lexical retrieval index becomes a maintained lake
    table, the last retrieval family to get the round-10 pattern:

    - the postings lake table holds denormalized rows
      ``(term, doc_id, tf, dlen)`` (text/lexical.py data model —
      dlen rides the row because documents are immutable in the CDF,
      so serving needs no doc-length join);
    - **frozen statistics**: (n_docs, avgdl) and per-term df are
      captured from the SEED index and FIXED between re-stats — the
      exact analog of the IVF fixed-centroid contract. With stats
      frozen, a posting's score contribution is a pure function of
      the row, so maintained ≡ rebuilt is row-set equality;
    - v1 inserts: the delta docs tokenize ALONE (O(delta)) and their
      postings APPEND — the standing corpus is never re-tokenized;
    - v2 deletes: departing docs' postings leave via the shared
      lakelog.rewrite_minus_ids anti-join.

    Pins, in-output: (a) maintained postings ≡ from-scratch postings
    over the head snapshot EXACTLY on (term, doc_id, tf, dlen) —
    idx_missing = idx_extra = 0; (b) top-10 served from the
    maintained index under the frozen stats ≡ top-10 from the
    rebuilt postings under the same stats on (doc_id, rank) —
    topk_missing = topk_extra = 0; (c) the drift DIAL: drift_overlap
    counts how many of the frozen-stats top-10 survive under
    CURRENT statistics recomputed from the maintained index — the
    re-stat trigger a production deployment would threshold on. The
    oracle recomputes the entire frozen-stats ranking AND the dial
    relationally, so the scores and the drift measurement are both
    value-matched cross-engine, not just pinned constants.

    100 TB posture: maintenance is O(delta) tokenize (JVM split/
    posexplode) + append, deletes one anti-join (shardable by term
    bucket); serving filters postings to the query vocabulary before
    any shuffle — with the table clustered by term, a pruned read.
    Reference analog: the catalog rebuilt per scan,
    /root/reference/src/main.cpp:255-321 — this is the maintained
    replacement."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe11 import _lsh_dedup_build
    from etl_lens_spark.queries.npipe12 import _ann_key_diff
    from etl_lens_spark.text import lexical

    dt = _lsh_dedup_build(spark, sf_dir, "ibm25_docs")
    it = sinks.scratch_path("ibm25_index")
    shutil.rmtree(it, ignore_errors=True)

    # --- seed index + FROZEN statistics (the re-stat contract)
    seed = lakelog.read_snapshot(spark, dt, 0)
    lexical.postings(seed).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])
    seed_post = lakelog.read_snapshot(spark, it, 0)
    n_docs, avgdl = lexical.corpus_stats(seed_post)
    df_map = lexical.df_stats(seed_post, _LEX_TERMS)

    # --- v1 inserts: tokenize the DELTA only, append
    ins, dels = _docs_feeds(spark, dt)
    lexical.postings(ins).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])

    # --- v2 deletes: postings leave by one anti-join rewrite
    dels = stage(dels, "dels")
    lakelog.rewrite_minus_ids(spark, it, dels, "doc_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, dt), "head")

    # --- audits: rebuilt postings, top-k equality, the drift dial
    rebuilt = stage(lexical.postings(head), "rebuilt")
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["term", "doc_id", "tf", "dlen"]
    )
    m_topk = lexical.bm25_topk(
        maintained, _LEX_TERMS, n_docs, avgdl, df_map, k=_LEX_TOPK
    ).transform(stage, "m_topk")
    r_topk = lexical.bm25_topk(
        rebuilt, _LEX_TERMS, n_docs, avgdl, df_map, k=_LEX_TOPK
    )
    topk_missing, topk_extra = _ann_key_diff(
        m_topk, r_topk, ["doc_id", "rank"]
    )
    cur_n, cur_avgdl = lexical.corpus_stats(maintained)
    cur_df = lexical.df_stats(maintained, _LEX_TERMS)
    c_topk = lexical.bm25_topk(
        maintained, _LEX_TERMS, cur_n, cur_avgdl, cur_df, k=_LEX_TOPK
    )
    drift_overlap = m_topk.join(c_topk, "doc_id", "left_semi").count()

    out = m_topk.select(
        "doc_id",
        F.col("rank").alias("text_rank"),
        F.round("score", 6).alias("bm25"),
        F.lit(int(idx_missing)).cast("long").alias("idx_missing"),
        F.lit(int(idx_extra)).cast("long").alias("idx_extra"),
        F.lit(int(topk_missing)).cast("long").alias("topk_missing"),
        F.lit(int(topk_extra)).cast("long").alias("topk_extra"),
        F.lit(int(drift_overlap)).cast("long").alias("drift_overlap"),
    ).orderBy("text_rank")
    rows = out.collect()
    shutil.rmtree(dt, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("text_bm25_incremental_cdf")
def _bench_bm25_incremental(spark: SparkSession, sf_dir: str):
    # setup: documents lake, seed postings, frozen stats, feeds;
    # timed: the INCREMENTAL work — delta tokenize+postings, the
    # delete anti-join, and serving top-10 from the maintained
    # postings under frozen stats (the nightly cost; rebuild+audits
    # are the query's proof, not the operator)
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe11 import _lsh_dedup_build
    from etl_lens_spark.text import lexical

    dt = _lsh_dedup_build(spark, sf_dir, "ibm25_bench_docs")
    seed_post = lexical.postings(
        lakelog.read_snapshot(spark, dt, 0)
    ).transform(freeze, "untimed bench setup")
    n_docs, avgdl = lexical.corpus_stats(seed_post)
    df_map = lexical.df_stats(seed_post, _LEX_TERMS)
    ins, dels = _docs_feeds(spark, dt)
    ins = freeze(ins, "untimed bench setup")
    dels = freeze(dels, "untimed bench setup")

    def _maintained() -> DataFrame:
        delta = lexical.postings(ins)
        index = seed_post.unionByName(delta).join(
            F.broadcast(dels),
            F.col("doc_id") == F.col("__gone"),
            "left_anti",
        )
        topk = lexical.bm25_topk(
            index, _LEX_TERMS, n_docs, avgdl, df_map, k=_LEX_TOPK
        )
        return topk.agg(
            F.count(F.lit(1)).cast("long").alias("n_results"),
            F.sum(F.col("rank") * F.col("doc_id"))
            .cast("long")
            .alias("topk_checksum"),
        )

    return _maintained


# ---------------------------------------------------------------------------
# Maintained positional phrase index from the CDF
# ---------------------------------------------------------------------------

_PHRASE_ORACLE = f"""
    WITH head AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3
    ),
    toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM head
    ),
    post AS (
        SELECT doc_id, i AS pos, t[i] AS term
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) u
        WHERE t[i] IN ({", ".join(f"'{w}'" for w in _PHRASE)})
    ),
    hits AS (
        SELECT p1.doc_id, p1.pos AS start_pos
        FROM post p1
        JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
        WHERE p1.term = '{_PHRASE[0]}' AND p2.term = '{_PHRASE[1]}'
          AND p3.term = '{_PHRASE[2]}'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(start_pos) AS BIGINT) AS first_pos,
           CAST(0 AS BIGINT) AS idx_missing,
           CAST(0 AS BIGINT) AS idx_extra
    FROM hits
    GROUP BY doc_id
    ORDER BY doc_id
"""


@query("text_phrase_incremental_cdf", oracle=_PHRASE_ORACLE)
def text_phrase_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained POSITIONAL index twin of text_bm25_incremental_cdf
    — the phrase-search index (doc_id, pos, term) as a lake table
    with the same O(delta) maintenance (delta docs tokenize alone
    and append; departing docs' rows leave via rewrite_minus_ids).
    Positions are per-document, so maintenance needs no position
    rebasing — exactly why the positional index is maintainable at
    all. Pins: maintained ≡ from-scratch positional rows over the
    head snapshot on (doc_id, pos, term); the served phrase hits
    (via text/lexical.phrase_hits — shared with the build-once
    text_phrase_search) are value-matched against the oracle's
    relational adjacency chain on a trigram that actually occurs in
    the head snapshot (non-vacuous by construction)."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe11 import _lsh_dedup_build
    from etl_lens_spark.queries.npipe12 import _ann_key_diff
    from etl_lens_spark.text import lexical

    dt = _lsh_dedup_build(spark, sf_dir, "iphr_docs")
    it = sinks.scratch_path("iphr_index")
    shutil.rmtree(it, ignore_errors=True)

    seed = lakelog.read_snapshot(spark, dt, 0)
    lexical.positional_tokens(seed).write.parquet(f"{it}/s0")
    lakelog.commit(it, 0, [{"add": "s0"}])
    ins, dels = _docs_feeds(spark, dt)
    lexical.positional_tokens(ins).write.parquet(f"{it}/s1")
    lakelog.commit(it, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(spark, it, dels, "doc_id")

    maintained = stage(lakelog.read_snapshot(spark, it), "maintained")
    head = stage(lakelog.read_snapshot(spark, dt), "head")
    rebuilt = lexical.positional_tokens(head)
    idx_missing, idx_extra = _ann_key_diff(
        maintained, rebuilt, ["doc_id", "pos", "term"]
    )

    out = (
        lexical.phrase_hits(maintained, _PHRASE)
        .select(
            "doc_id",
            "n_occurrences",
            "first_pos",
            F.lit(int(idx_missing)).cast("long").alias("idx_missing"),
            F.lit(int(idx_extra)).cast("long").alias("idx_extra"),
        )
        .orderBy("doc_id")
    )
    rows = out.collect()
    shutil.rmtree(dt, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# RRF served end-to-end from TWO maintained indexes (lexical + ANN)
# ---------------------------------------------------------------------------

_RRF_INC_ORACLE = f"""
    WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in _LEX_TERMS)}),
    seed AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
    head AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3),
    stoks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM seed
    ),
    sdl AS (SELECT doc_id, COUNT(*) AS dlen FROM stoks GROUP BY doc_id),
    sg AS (SELECT COUNT(*) AS n_docs, AVG(dlen) AS avgdl FROM sdl),
    sdf AS (
        SELECT s.w AS term, COUNT(DISTINCT s.doc_id) AS df
        FROM stoks s JOIN q ON s.w = q.term GROUP BY s.w
    ),
    htoks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM head
    ),
    hdl AS (SELECT doc_id, COUNT(*) AS dlen FROM htoks GROUP BY doc_id),
    htf AS (
        SELECT t.doc_id, t.w AS term, COUNT(*) AS tf
        FROM htoks t JOIN q ON t.w = q.term
        GROUP BY t.doc_id, t.w
    ),
    scored AS (
        SELECT htf.doc_id,
               SUM(
                 ln((sg.n_docs - COALESCE(sdf.df, 0) + 0.5)
                    / (COALESCE(sdf.df, 0) + 0.5) + 1.0)
                 * htf.tf * (1.2 + 1.0)
                 / (htf.tf + 1.2 * (1.0 - 0.75
                                    + 0.75 * hdl.dlen / sg.avgdl))
               ) AS score
        FROM htf LEFT JOIN sdf ON htf.term = sdf.term
        JOIN hdl ON htf.doc_id = hdl.doc_id
        CROSS JOIN sg
        GROUP BY htf.doc_id
    ),
    tr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS text_rank
        FROM scored QUALIFY text_rank <= {_RRF_TOPN}
    ),
    ehead AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 3
    ),
    qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe
        FROM ehead WHERE vec_id = 0
    ),
    es AS (
        SELECT e.vec_id AS doc_id,
               list_dot_product(qe, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(qe, qe))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))))
                 AS cs
        FROM ehead e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ),
    er AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id)
                 AS emb_rank
        FROM es QUALIFY emb_rank <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(tr.doc_id, er.doc_id) AS doc_id,
               CAST(tr.text_rank AS BIGINT) AS text_rank,
               CAST(er.emb_rank AS BIGINT) AS emb_rank,
               COALESCE(1.0 / ({_RRF_K} + tr.text_rank), 0)
               + COALESCE(1.0 / ({_RRF_K} + er.emb_rank), 0) AS rrf
        FROM tr FULL OUTER JOIN er ON tr.doc_id = er.doc_id
    )
    SELECT doc_id, text_rank, emb_rank, rrf,
           CAST(0 AS BIGINT) AS lex_idx_missing,
           CAST(0 AS BIGINT) AS lex_idx_extra,
           CAST(0 AS BIGINT) AS emb_idx_missing,
           CAST(0 AS BIGINT) AS emb_idx_extra
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
"""


@query("rank_rrf_incremental_cdf", headline=True, oracle=_RRF_INC_ORACLE)
def rank_rrf_incremental_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HYBRID RETRIEVAL FROM TWO MAINTAINED INDEXES (VERDICT r10
    item 1, second half): the rank_rrf_fusion pipeline served
    end-to-end from the maintained BM25 postings lake table (frozen
    seed statistics) AND the maintained IVF cell-index lake table —
    both fed the same CDF change mix (v1 inserts, v2 deletes), both
    pinned maintained ≡ rebuilt in-output, and the FUSED ranking
    value-matched against the oracle's relational recomputation
    (the 'fused ranking hash-matched' done-criterion).

    The embedding ranking is exact cosine over the maintained index
    rows (query = vec 0) — serving *from the maintained table*; at
    production scale the same table serves approximately through
    ivf_probe_topk's pruned cell read, which sim_ann_incremental_cdf
    pins separately. Fusion itself is the shared
    similarity/fusion.rrf_fuse over two ≤{_RRF_TOPN}-row lists —
    broadcast-sized, no corpus shuffle."""
    import shutil

    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe11 import _lsh_dedup_build
    from etl_lens_spark.queries.npipe12 import (
        _ann_build,
        _ann_feeds,
        _ann_key_diff,
    )
    from etl_lens_spark.similarity import ivf
    from etl_lens_spark.similarity.fusion import rrf_fuse
    from etl_lens_spark.similarity.knn import dot as _dot
    from etl_lens_spark.text import lexical
    from pyspark.sql import Window

    # --- lexical maintained index (same machinery as the BM25 query)
    dt = _lsh_dedup_build(spark, sf_dir, "irrf_docs")
    lt = sinks.scratch_path("irrf_lex_index")
    shutil.rmtree(lt, ignore_errors=True)
    seed_docs = lakelog.read_snapshot(spark, dt, 0)
    lexical.postings(seed_docs).write.parquet(f"{lt}/s0")
    lakelog.commit(lt, 0, [{"add": "s0"}])
    seed_post = lakelog.read_snapshot(spark, lt, 0)
    n_docs, avgdl = lexical.corpus_stats(seed_post)
    df_map = lexical.df_stats(seed_post, _LEX_TERMS)
    d_ins, d_dels = _docs_feeds(spark, dt)
    lexical.postings(d_ins).write.parquet(f"{lt}/s1")
    lakelog.commit(lt, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(
        spark, lt, stage(d_dels, "lex_dels"), "doc_id"
    )
    m_lex = stage(lakelog.read_snapshot(spark, lt), "m_lex")
    d_head = stage(lakelog.read_snapshot(spark, dt), "d_head")
    r_lex = lexical.postings(d_head)
    lex_missing, lex_extra = _ann_key_diff(
        m_lex, r_lex, ["term", "doc_id", "tf", "dlen"]
    )

    # --- ANN maintained index (same machinery as npipe12's)
    n_cells, _nprobe, train_iters = ivf_params(spark)
    et = _ann_build(spark, sf_dir, "irrf_emb")
    at = sinks.scratch_path("irrf_ann_index")
    shutil.rmtree(at, ignore_errors=True)
    e_seed = lakelog.read_snapshot(spark, et, 0)
    centroids = ivf.train_centroids(e_seed, k=n_cells, iters=train_iters)
    ivf.assign_cells(e_seed, centroids).write.parquet(f"{at}/s0")
    lakelog.commit(at, 0, [{"add": "s0"}])
    e_ins, e_dels = _ann_feeds(spark, et)
    ivf.assign_cells(e_ins, centroids).write.parquet(f"{at}/s1")
    lakelog.commit(at, 1, [{"add": "s1"}])
    lakelog.rewrite_minus_ids(
        spark, at, stage(e_dels, "ann_dels"), "vec_id"
    )
    m_ann = stage(lakelog.read_snapshot(spark, at), "m_ann")
    e_head = stage(lakelog.read_snapshot(spark, et), "e_head")
    r_ann = ivf.assign_cells(e_head, centroids)
    emb_missing, emb_extra = _ann_key_diff(
        m_ann, r_ann, ["vec_id", "cell"]
    )

    # --- serve both rankings from the MAINTAINED tables
    tr = (
        lexical.bm25_topk(
            m_lex, _LEX_TERMS, n_docs, avgdl, df_map, k=_RRF_TOPN
        )
        .select("doc_id", "rank")
    )
    emb = m_ann.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    qv = emb.filter(F.col("doc_id") == 0).select(F.col("e").alias("qe"))
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
    out = (
        fused.select(
            "doc_id",
            "text_rank",
            "emb_rank",
            "rrf",
            F.lit(int(lex_missing)).cast("long").alias("lex_idx_missing"),
            F.lit(int(lex_extra)).cast("long").alias("lex_idx_extra"),
            F.lit(int(emb_missing)).cast("long").alias("emb_idx_missing"),
            F.lit(int(emb_extra)).cast("long").alias("emb_idx_extra"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_OUT)
    )
    rows = out.collect()
    for p in (dt, lt, et, at):
        shutil.rmtree(p, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@bench_setup("rank_rrf_incremental_cdf")
def _bench_rrf_incremental(spark: SparkSession, sf_dir: str):
    # setup: both lakes, both seed indexes, frozen stats, feeds;
    # timed: maintenance deltas + serving the fused top-20 from the
    # two maintained frames (the per-epoch cost of a hybrid-search
    # deployment; rebuild audits are proofs, not the operator)
    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe11 import _lsh_dedup_build
    from etl_lens_spark.queries.npipe12 import _ann_build, _ann_feeds
    from etl_lens_spark.similarity import ivf
    from etl_lens_spark.similarity.fusion import rrf_fuse
    from etl_lens_spark.similarity.knn import dot as _dot
    from etl_lens_spark.text import lexical
    from pyspark.sql import Window

    dt = _lsh_dedup_build(spark, sf_dir, "irrf_bench_docs")
    seed_post = lexical.postings(
        lakelog.read_snapshot(spark, dt, 0)
    ).transform(freeze, "untimed bench setup")
    n_docs, avgdl = lexical.corpus_stats(seed_post)
    df_map = lexical.df_stats(seed_post, _LEX_TERMS)
    d_ins, d_dels = _docs_feeds(spark, dt)
    d_ins = freeze(d_ins, "untimed bench setup")
    d_dels = freeze(d_dels, "untimed bench setup")

    n_cells, _nprobe, train_iters = ivf_params(spark)
    et = _ann_build(spark, sf_dir, "irrf_bench_emb")
    e_seed = lakelog.read_snapshot(spark, et, 0)
    centroids = ivf.train_centroids(e_seed, k=n_cells, iters=train_iters)
    seed_cells = freeze(
        ivf.assign_cells(e_seed, centroids), "untimed bench setup"
    )
    e_ins, e_dels = _ann_feeds(spark, et)
    e_ins = freeze(e_ins, "untimed bench setup")
    e_dels = freeze(e_dels, "untimed bench setup")

    def _served() -> DataFrame:
        lex = seed_post.unionByName(lexical.postings(d_ins)).join(
            F.broadcast(d_dels),
            F.col("doc_id") == F.col("__gone"),
            "left_anti",
        )
        ann = seed_cells.unionByName(
            ivf.assign_cells(e_ins, centroids)
        ).join(
            F.broadcast(e_dels),
            F.col("vec_id") == F.col("__gone"),
            "left_anti",
        )
        # the maintained cell index feeds both the query-vector pull
        # and the scored scan — stage it once per serve
        ann = stage(ann, "rrf_cell_index")
        tr = lexical.bm25_topk(
            lex, _LEX_TERMS, n_docs, avgdl, df_map, k=_RRF_TOPN
        ).select("doc_id", "rank")
        emb = ann.select(
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
        top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(
            _RRF_OUT
        )
        return top.agg(
            F.count(F.lit(1)).cast("long").alias("n_results"),
            F.sum("doc_id").cast("long").alias("fused_checksum"),
        )

    return _served


# ---------------------------------------------------------------------------
# Closed re-train loop: staleness-triggered re-train + atomic index swap
# ---------------------------------------------------------------------------

_SWAP_STALE_THRESHOLD = 0.15
_SWAP_K = 5
_SWAP_NQ = 30  # probe queries per population (original / drifted)
_SWAP_ID_OFFSET = 10_000_000

_SWAP_ORACLE = """
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_head_vecs,
           CAST(2 * COUNT(*) AS BIGINT) AS n_index_rows_pre,
           CAST(2 * COUNT(*) AS BIGINT) AS n_index_rows_post,
           CAST(1 AS BIGINT) AS retrain_triggered,
           CAST(0 AS BIGINT) AS torn_pre,
           CAST(0 AS BIGINT) AS torn_post,
           CAST(0 AS BIGINT) AS replay_missing,
           CAST(0 AS BIGINT) AS replay_extra,
           CAST(1 AS BIGINT) AS recall_improved,
           CAST(1 AS BIGINT) AS recall_post_ok
    FROM embeddings
"""


def _drift_delta(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The drifted insert batch: 8 tight clusters along NEW random
    directions the seed corpus never saw (seeded, deterministic),
    with enough seed-space noise that cluster members scatter across
    STALE cells — the out-of-distribution shift that makes a fixed
    quantizer's recall degrade and a re-train recover it."""
    import numpy as np

    rng = np.random.default_rng(7)
    d = np.asarray(
        emb.select(F.size("embedding")).first()[0], dtype=np.int64
    )
    dirs_m = rng.normal(size=(8, int(d)))
    dirs_m /= np.linalg.norm(dirs_m, axis=1, keepdims=True)
    dirs = spark.createDataFrame(
        [(i, [float(x) for x in dirs_m[i]]) for i in range(8)],
        "grp int, dvec array<double>",
    )
    return (
        emb.withColumn("grp", (F.col("vec_id") % 8).cast("int"))
        .join(F.broadcast(dirs), "grp")
        .select(
            (F.col("vec_id") + _SWAP_ID_OFFSET).alias("vec_id"),
            F.zip_with(
                F.col("dvec"),
                F.col("embedding").cast("array<double>"),
                lambda dv, x: (dv * F.lit(1.2) + x).cast("float"),
            )
            .cast("array<float>")
            .alias("embedding"),
        )
    )


@query("sim_ann_retrain_swap", oracle=_SWAP_ORACLE)
def sim_ann_retrain_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CLOSED RE-TRAIN LOOP (VERDICT r10 item 2): round 10 shipped
    the staleness DIAL; this operator wires the dial to the actual
    re-train — when stale_fraction against candidate centroids
    crosses the threshold, re-train the quantizer on the current
    corpus (k scaled with corpus size so the per-cell occupancy the
    original index was tuned for is preserved), re-encode the corpus
    ONCE, and SWAP the index atomically.

    The index is a MULTI-TABLE lake log with two member rels —
    ``cells/`` (vec_id, embedding, cell, epoch) and ``cent/`` (the
    quantizer itself, persisted via ivf.centroids_to_df) — so ONE
    commit swaps both: a reader resolving any version gets a matched
    (cells, centroids) pair by the multi-table atomicity the
    round-8 machinery proved. Serving here reads BOTH halves from
    the table (never from driver memory), which is what makes the
    zero-downtime claim testable:

    - torn_pre / torn_post: at the pre-swap and post-swap versions,
      the cells member carries exactly ONE epoch and it equals the
      cent member's epoch (centroids_from_df raises on a mixed-epoch
      read — a torn quantizer cannot even be deserialized);
    - replay_missing / replay_extra: AFTER the swap landed, a reader
      pinned at the pre-swap version re-serves top-k and matches the
      pre-swap serving EXACTLY on (qid, neighbor_id, rank_n) — the
      concurrent reader sees the old index at vN and the new at
      vN+1, never a mix;
    - retrain_triggered: the drift fixture pushes stale_fraction
      (vs one-Lloyd-step candidate centroids, the round-10 dial)
      past the threshold, so the loop actually fires;
    - recall_improved / recall_post_ok: recall vs exact brute force
      over a probe set spanning BOTH populations, measured pre and
      post at the SAME scan fraction (nprobe/k fixed at 1/4) —
      the re-train must pay for itself (measured 0.75 → 0.87 at
      sf0.01).

    100 TB posture: the re-train is the SAME distributed
    treeAggregate-style training as the seed build (O(partitions ·
    k · dim) driver traffic), the re-encode is one assignment pass
    (per-batch numpy matmul against the broadcast k × dim matrix),
    and the swap is one metadata commit — no reader ever blocks, no
    double-serving window, and the old epoch stays time-travelable
    until vacuum."""
    import shutil

    from etl_lens_spark.config import ivf_params
    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe12 import _ann_key_diff
    from etl_lens_spark.similarity import ivf, knn

    n_cells, _np_cfg, train_iters = ivf_params(spark)
    nprobe0 = max(2, n_cells // 4)

    # --- source lake: v0 seed, v1 drifted inserts (CDF feed)
    et = sinks.scratch_path("swap_emb")
    it = sinks.scratch_path("swap_index")
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    emb.write.parquet(f"{et}/s0")
    lakelog.commit(et, 0, [{"add": "s0"}])
    _drift_delta(spark, emb).write.parquet(f"{et}/s1")
    lakelog.commit(et, 1, [{"add": "s1"}])

    # --- seed index: cells + quantizer in ONE commit (epoch 0)
    seed = lakelog.read_snapshot(spark, et, 0)
    cent0 = ivf.train_centroids(seed, k=n_cells, iters=train_iters)
    ivf.assign_cells(seed, cent0).withColumn(
        "epoch", F.lit(0)
    ).write.parquet(f"{it}/cells/s0")
    ivf.centroids_to_df(spark, cent0, epoch=0).coalesce(
        1
    ).write.parquet(f"{it}/cent/c0")
    lakelog.commit(it, 0, [{"add": "cells/s0"}, {"add": "cent/c0"}])

    # --- maintenance: the drifted delta appends under FIXED centroids
    ins = (
        lakelog.table_changes(spark, et, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("vec_id", "embedding")
    )
    ivf.assign_cells(ins, cent0).withColumn(
        "epoch", F.lit(0)
    ).write.parquet(f"{it}/cells/s1")
    lakelog.commit(it, 1, [{"add": "cells/s1"}])

    head = stage(lakelog.read_snapshot(spark, et), "head")
    n_head = head.count()
    queries = head.filter(
        (F.col("vec_id") < _SWAP_NQ)
        | (
            (F.col("vec_id") >= _SWAP_ID_OFFSET)
            & (F.col("vec_id") < _SWAP_ID_OFFSET + _SWAP_NQ)
        )
    ).transform(stage, "queries")
    bf = stage(knn.brute_force_topk(head, queries, k=_SWAP_K), "bf")

    def _serve(version: int):
        """Serve ENTIRELY from the table at one version: matched
        (cells, centroids) pair or centroids_from_df raises."""
        cells_v = lakelog.read_table_snapshot(
            spark, it, "cells", version
        )
        cent_df = lakelog.read_table_snapshot(spark, it, "cent", version)
        cent_v, cent_epoch = ivf.centroids_from_df(cent_df)
        cell_epochs = [
            r[0] for r in cells_v.select("epoch").distinct().collect()
        ]
        torn = int(
            len(cell_epochs) != 1 or cell_epochs[0] != cent_epoch
        )
        k_v = cent_v.shape[0]
        topk = ivf.ivf_probe_topk(
            cells_v.drop("epoch"),
            queries,
            cent_v,
            k=_SWAP_K,
            nprobe=max(2, k_v // 4),
        )
        return topk, torn, cells_v

    # --- pre-swap serving (reader at vN)
    v_pre = lakelog.latest_version(it)
    pre_topk, torn_pre, pre_cells = _serve(v_pre)
    pre_topk = stage(pre_topk, "pre_topk")
    n_rows_pre = pre_cells.count()
    hits_pre = pre_topk.join(
        bf, ["qid", "neighbor_id"], "left_semi"
    ).count()
    recall_pre = hits_pre / max(bf.count(), 1)

    # --- the dial fires: candidate centroids one Lloyd step ahead
    cand = ivf.refine_centroids(head, cent0)
    st = ivf.stale_fraction(
        lakelog.read_table_snapshot(spark, it, "cells", v_pre).drop(
            "epoch"
        ),
        cand,
    ).first()
    stale_frac = st["n_stale"] / max(st["n_total"], 1)
    retrain_triggered = int(stale_frac > _SWAP_STALE_THRESHOLD)

    # --- re-train (k scaled with corpus), re-encode ONCE, atomic swap
    k_new = max(n_cells, round(n_cells * n_head / max(seed.count(), 1)))
    cent1 = ivf.train_centroids(head, k=k_new, iters=train_iters)
    ivf.assign_cells(head, cent1).withColumn(
        "epoch", F.lit(1)
    ).write.parquet(f"{it}/cells/s2")
    ivf.centroids_to_df(spark, cent1, epoch=1).coalesce(
        1
    ).write.parquet(f"{it}/cent/c1")
    old_rels = list(lakelog.snapshot_actions(it))
    lakelog.commit(
        it,
        lakelog.latest_version(it) + 1,
        [{"remove": r} for r in old_rels]
        + [{"add": "cells/s2"}, {"add": "cent/c1"}],
    )

    # --- post-swap serving (reader at vN+1) + the time-travel replay
    v_post = lakelog.latest_version(it)
    post_topk, torn_post, post_cells = _serve(v_post)
    n_rows_post = post_cells.count()
    hits_post = post_topk.join(
        bf, ["qid", "neighbor_id"], "left_semi"
    ).count()
    recall_post = hits_post / max(bf.count(), 1)
    replay_topk, torn_replay, _ = _serve(v_pre)  # pinned old version
    torn_pre = max(torn_pre, torn_replay)
    replay_missing, replay_extra = _ann_key_diff(
        replay_topk, pre_topk, ["qid", "neighbor_id", "rank_n"]
    )

    out = spark.createDataFrame(
        [
            (
                int(n_head),
                int(n_rows_pre),
                int(n_rows_post),
                int(retrain_triggered),
                int(torn_pre),
                int(torn_post),
                int(replay_missing),
                int(replay_extra),
                int(recall_post >= recall_pre),
                int(recall_post >= 0.7),
            )
        ],
        "n_head_vecs long, n_index_rows_pre long, n_index_rows_post "
        "long, retrain_triggered long, torn_pre long, torn_post long, "
        "replay_missing long, replay_extra long, recall_improved long, "
        "recall_post_ok long",
    )
    rows = out.collect()
    shutil.rmtree(et, ignore_errors=True)
    shutil.rmtree(it, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Auto-OPTIMIZE cadence inside a maintainer loop
# ---------------------------------------------------------------------------

_AOPT_EPOCHS = 12
_AOPT_MAX_FILES = 4

_AOPT_ORACLE = """
    SELECT CAST(o_orderkey % 10 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS cents_sum,
           CAST(5 AS BIGINT) AS max_files_seen,
           CAST(1 AS BIGINT) AS final_files,
           CAST(3 AS BIGINT) AS n_compactions,
           CAST(13 AS BIGINT) AS uncompacted_files,
           CAST(0 AS BIGINT) AS content_missing,
           CAST(0 AS BIGINT) AS content_extra
    FROM orders
    GROUP BY o_orderkey % 10
    ORDER BY key_mod
"""


@query("lake_auto_optimize_maintainer", oracle=_AOPT_ORACLE)
def lake_auto_optimize_maintainer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUTO-OPTIMIZE CADENCE (VERDICT r10 item 7): a maintainer loop
    that triggers OPTIMIZE from INSIDE itself — after each epoch's
    append commit, lakelog.maybe_optimize checks the active file
    count from the log (pure metadata, zero jobs) and compacts when
    it crosses the threshold. A minute-cadence maintainer stays at
    O(max_files) active files for ANY stream length, instead of the
    O(epochs) small-file pile-up that murders the next reader's
    planning phase at 100 TB.

    The loop: 13 epoch commits (one orders slice each) with
    maybe_optimize(max_files=4) after every append — the file count
    cycles 2,3,4,5→compact→1 deterministically, giving EXACTLY 3
    compactions, a high-water mark of 5, and a final count of 1,
    all value-matched by the oracle. A twin table runs the same 13
    appends WITHOUT the cadence (13 files — the counterfactual), and
    the two tables' contents are pinned identical row-for-row:
    compaction changed layout only, never data — the round-10
    OPTIMIZE-invisibility contract exercised from the maintainer's
    own loop. Content itself (per key_mod row counts + cents sums)
    is value-matched against DuckDB over the same orders parquet."""
    import shutil

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.queries.npipe12 import _ann_key_diff

    ta = sinks.scratch_path("aopt_auto")
    tb = sinks.scratch_path("aopt_plain")
    shutil.rmtree(ta, ignore_errors=True)
    shutil.rmtree(tb, ignore_errors=True)
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )

    max_seen = 0
    n_compactions = 0
    for i in range(_AOPT_EPOCHS + 1):
        sl = src.filter(F.col("k") % (_AOPT_EPOCHS + 1) == i)
        for t in (ta, tb):
            sl.write.parquet(f"{t}/e{i}")
            lakelog.commit(
                t, lakelog.latest_version(t) + 1, [{"add": f"e{i}"}]
            )
        max_seen = max(max_seen, len(lakelog.snapshot_actions(ta)))
        res = lakelog.maybe_optimize(
            spark, ta, max_files=_AOPT_MAX_FILES
        )
        if res["triggered"]:
            n_compactions += 1

    final_files = len(lakelog.snapshot_actions(ta))
    plain_files = len(lakelog.snapshot_actions(tb))
    a = stage(lakelog.read_snapshot(spark, ta), "compacted_rows")
    b = lakelog.read_snapshot(spark, tb)
    content_missing, content_extra = _ann_key_diff(
        a, b, ["k", "cents"]
    )

    out = (
        a.groupBy((F.col("k") % 10).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .select(
            "key_mod",
            "n_rows",
            "cents_sum",
            F.lit(int(max_seen)).cast("long").alias("max_files_seen"),
            F.lit(int(final_files)).cast("long").alias("final_files"),
            F.lit(int(n_compactions))
            .cast("long")
            .alias("n_compactions"),
            F.lit(int(plain_files))
            .cast("long")
            .alias("uncompacted_files"),
            F.lit(int(content_missing))
            .cast("long")
            .alias("content_missing"),
            F.lit(int(content_extra))
            .cast("long")
            .alias("content_extra"),
        )
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(ta, ignore_errors=True)
    shutil.rmtree(tb, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Concurrent maintainers through logical conflict detection
# ---------------------------------------------------------------------------

_CONC_ORACLE = """
    SELECT CAST(o_orderkey % 10 AS INT) AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS cents_sum,
           CAST(1 AS BIGINT) AS conflict_raised,
           CAST(1 AS BIGINT) AS rebased_ok,
           CAST(0 AS BIGINT) AS lost_appends
    FROM orders
    WHERE o_orderkey % 100 <> 17
    GROUP BY o_orderkey % 10
    ORDER BY key_mod
"""


@query("lake_concurrent_maintainers", oracle=_CONC_ORACLE)
def lake_concurrent_maintainers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONCURRENT MAINTAINERS ON ONE TABLE (VERDICT r10 item 5): two
    maintenance loops interleave commits against STALE base versions
    through try_commit_rebase, then collide for real — proving the
    two halves of the Delta optimistic-concurrency contract on the
    repo's own machinery:

    - **disjoint work rebases**: after the seed, A and B alternate
      five appends, each prepared against base version 0 (maximally
      stale) — every commit after the first replays the interveners,
      finds disjoint file sets, and lands WITHOUT recompute
      (rebased_ok pins that every append survives in the final
      snapshot: lost_appends=0);
    - **overlapping work conflicts, loser recomputes**: A prepares a
      full-table compaction (remove every active rel); before A
      commits, B lands a DELETE rewrite (rewrite_minus_ids — removes
      the same rels). A's try_commit_rebase RAISES CommitConflict
      (conflict_raised=1) instead of silently un-deleting B's rows —
      the exact corruption logical conflict detection exists to
      prevent — and A's retry recomputes against the post-delete
      snapshot via optimize_compact, which sees one file and no-ops.

    The final content (six slices minus B's deleted keys) is
    value-matched against DuckDB — if the losing compaction had
    landed, the deleted rows would resurrect and every cents_sum
    row would mismatch. At 100 TB this is the story that lets a
    band-index maintainer and its pair-table maintainer (or two
    epochs racing) share one table lock-free: conflict checks are
    O(intervening actions) metadata."""
    import shutil

    from etl_lens_spark.operators import lakelog

    t = sinks.scratch_path("conc_maint")
    shutil.rmtree(t, ignore_errors=True)
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    slices = [src.filter(F.col("k") % 6 == i) for i in range(6)]

    # seed so both maintainers start from a live table
    slices[0].write.parquet(f"{t}/s0")
    lakelog.commit(t, 0, [{"add": "s0"}])

    # --- six interleaved appends, ALL prepared against base 0
    for i, (who, sl) in enumerate(
        [("a", 1), ("b", 2), ("a", 3), ("b", 4), ("a", 5)], start=1
    ):
        rel = f"{who}{i}"
        slices[sl].write.parquet(f"{t}/{rel}")
        lakelog.try_commit_rebase(t, 0, [{"add": rel}])

    # --- the collision: A prepares a compaction of the CURRENT
    # snapshot; B lands a delete rewrite FIRST (same files)
    base_v = lakelog.latest_version(t)
    active = list(lakelog.snapshot_actions(t))
    lakelog.read_snapshot(spark, t).write.parquet(f"{t}/ca")
    gone = (
        src.filter(F.col("k") % 100 == 17)
        .select(F.col("k").alias("__gone"))
        .distinct()
        .transform(stage, "gone")
    )
    lakelog.rewrite_minus_ids(spark, t, gone, "k")  # B wins
    conflict_raised = 0
    try:
        lakelog.try_commit_rebase(
            t,
            base_v,
            [{"remove": r} for r in active] + [{"add": "ca"}],
        )
    except lakelog.CommitConflict:
        conflict_raised = 1
        shutil.rmtree(f"{t}/ca", ignore_errors=True)  # stranded rel
        # loser recomputes against the winner's snapshot
        lakelog.optimize_compact(spark, t)

    final = stage(lakelog.read_snapshot(spark, t), "final")
    # every append present, B's delete preserved
    expected = src.join(
        F.broadcast(gone), F.col("k") == F.col("__gone"), "left_anti"
    )
    lost = expected.join(final, ["k", "cents"], "left_anti").count()
    extra = final.join(expected, ["k", "cents"], "left_anti").count()

    out = (
        final.groupBy((F.col("k") % 10).cast("int").alias("key_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .select(
            "key_mod",
            "n_rows",
            "cents_sum",
            F.lit(int(conflict_raised))
            .cast("long")
            .alias("conflict_raised"),
            F.lit(int(lost == 0 and extra == 0))
            .cast("long")
            .alias("rebased_ok"),
            F.lit(int(lost)).cast("long").alias("lost_appends"),
        )
        .orderBy("key_mod")
    )
    rows = out.collect()
    shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
