"""RRF fusion: planted-relevance uplift + the published formula."""

from pyspark.sql import functions as F

from etl_lens_spark.similarity.fusion import rrf_fuse


def _ranked(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id long, rank long")


def test_rrf_fusion_beats_either_list_alone(spark):
    """The canonical RRF win: the truly relevant item sits at rank 3
    in BOTH retrievers (each retriever's top-2 are list-specific
    noise absent from the other list). Fusion must promote it to
    rank 1 — consensus across retrievers outranks either retriever's
    solo confidence, which is exactly why hybrid search uses RRF."""
    # list A: noise docs 101, 102 on top; relevant doc 1 at rank 3
    a = _ranked(spark, [(101, 1), (102, 2), (1, 3), (103, 4)])
    # list B: different noise 201, 202 on top; doc 1 again at rank 3
    b = _ranked(spark, [(201, 1), (202, 2), (1, 3), (203, 4)])
    fused = (
        rrf_fuse({"a": a, "b": b}, k=60)
        .orderBy(F.col("rrf").desc(), "doc_id")
        .collect()
    )
    assert fused[0]["doc_id"] == 1  # fusion top-1 = the consensus doc
    assert fused[0]["a_rank"] == 3 and fused[0]["b_rank"] == 3
    # neither constituent had it on top: uplift is real
    # exact formula: 2/(60+3) vs best single-list 1/(60+1)
    assert abs(fused[0]["rrf"] - 2 / 63) < 1e-12
    assert abs(fused[1]["rrf"] - 1 / 61) < 1e-12


def test_rrf_missing_list_contributes_zero(spark):
    """A doc present in only one list gets exactly that list's
    reciprocal term and a null rank for the other — the published
    missing-list convention."""
    a = _ranked(spark, [(1, 1)])
    b = _ranked(spark, [(2, 1)])
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse({"a": a, "b": b}, k=60).collect()
    }
    assert rows[1]["b_rank"] is None
    assert abs(rows[1]["rrf"] - 1 / 61) < 1e-12
    assert rows[2]["a_rank"] is None
    assert abs(rows[2]["rrf"] - 1 / 61) < 1e-12


def test_rrf_query_top1_is_probe_neighbor(spark, sf_dir):
    """Integration: the registered query returns _RRF_OUT rows and
    every row's rrf equals the recomputed reciprocal sum of its own
    rank columns (internal consistency, any fixture)."""
    from etl_lens_spark.queries import REGISTRY, all_queries

    all_queries()
    rows = REGISTRY["rank_rrf_fusion"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        want = 0.0
        if r["text_rank"] is not None:
            want += 1 / (60 + r["text_rank"])
        if r["emb_rank"] is not None:
            want += 1 / (60 + r["emb_rank"])
        assert abs(r["rrf"] - want) < 1e-12
    # fused order is descending
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rrf_query_null_text_doc_is_ansi_neutral(spark, tmp_path):
    """A NULL-text doc has no BM25 row in either ANSI mode. Without
    ANSI, size(NULL) is -1 rather than NULL; had the doc kept that
    dlen, avgdl would drop from 5 to 3.5 and the short doc 1 would
    overtake doc 2 on the text side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_lens_spark.queries import REGISTRY, all_queries

    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
            "text": [
                "spark",
                "spark spark spark x y z",
                "a b c d e f g h",
                None,
            ],
        }),
        tmp_path / "documents.parquet",
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, 1, 2, 3, 4], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0], [0.2, 1.0], [0.9, 0.1], [0.5, 0.5],
                 [0.0, 1.0]],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * 5, pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    all_queries()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    got = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            got[mode] = sorted(
                tuple(r)
                for r in REGISTRY["rank_rrf_fusion"]
                .fn(spark, str(tmp_path))
                .collect()
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got["true"] == got["false"]
    text_ranks = {r[0]: r[1] for r in got["false"] if r[1] is not None}
    assert text_ranks == {2: 1, 1: 2}


def test_doremi_reweight_trajectory_properties(spark, sf_dir):
    """EG reweighting contract: weights are a distribution each
    iteration, every domain keeps >= eps/D mass (smoothing), and the
    highest-excess-loss domain's weight grows monotonically across
    the 3 iterations while the lowest's shrinks."""
    from etl_lens_spark.queries import REGISTRY, all_queries

    all_queries()
    rows = REGISTRY["mix_doremi_reweight"].fn(spark, sf_dir).collect()
    iters = sorted({r["iter"] for r in rows})
    assert iters == [1, 2, 3]
    by_iter = {
        t: {r["source"]: r for r in rows if r["iter"] == t} for t in iters
    }
    d = len(by_iter[1])
    losses = {s: r["loss"] for s, r in by_iter[1].items()}
    hardest = max(losses, key=losses.get)
    easiest = min(losses, key=losses.get)
    for t in iters:
        ws = [r["weight"] for r in by_iter[t].values()]
        assert abs(sum(ws) - 1.0) < 1e-9
        assert min(ws) >= 0.1 / d - 1e-12
    hw = [by_iter[t][hardest]["weight"] for t in iters]
    ew = [by_iter[t][easiest]["weight"] for t in iters]
    assert hw[0] < hw[1] < hw[2]
    assert ew[0] > ew[1] > ew[2]
    assert hw[2] > ew[2]


def test_kmv_set_operations_error_bounds(spark, sf_dir):
    """Theta-style KMV intersection: estimates stay within the
    k=256 sketch's expected accuracy of the exact anchors, and
    inclusion-exclusion holds internally (est_inter + est_sym_rest
    == est_union exactly, by construction)."""
    from etl_lens_spark.queries import REGISTRY, all_queries

    all_queries()
    rows = REGISTRY["sketch_kmv_set_operations"].fn(spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert abs(r["est_inter"] + r["est_sym_rest"] - r["est_union"]) < 1e-9
        # union estimator: ~1/sqrt(k) relative error, generous 5-sigma
        assert abs(r["est_union"] - r["exact_union"]) <= 0.35 * r["exact_union"]
        # intersection compounds union + rho error; bound vs union size
        assert abs(r["est_inter"] - r["exact_inter"]) <= 0.20 * r["exact_union"]


def test_scd2_pit_join_conservation(spark, sf_dir):
    """Every fact joins exactly one SCD2 version: total joined facts
    across states == total fact rows (interval disjointness +
    coverage), and the dimension intervals for a sampled user tile
    the timeline with no gaps/overlaps."""
    from pyspark.sql import functions as F

    from etl_lens_spark.queries import REGISTRY, all_queries
    from etl_lens_spark.sources.tables import load_table

    all_queries()
    rows = REGISTRY["warehouse_scd2_pit_join"].fn(spark, sf_dir).collect()
    total_joined = sum(r["n_facts"] for r in rows)
    total_facts = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & (F.col("user_id") < 100)
            & F.col("value").isNotNull()
        )
        .count()
    )
    assert total_joined == total_facts
    dim = REGISTRY["warehouse_scd2_build"].fn(spark, sf_dir)
    one = dim.filter(F.col("user_id") == dim.first()["user_id"]).orderBy(
        "version_seq"
    ).collect()
    for a, b in zip(one, one[1:]):
        assert a["valid_to_us"] == b["valid_from_us"]  # tiling
    assert one[-1]["valid_to_us"] is None and one[-1]["is_current"] == 1
