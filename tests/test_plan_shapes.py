"""Plan-shape regression guards for the headline queries.

PLANS.md documents the intended physical plans; these tests pin the
load-bearing properties (exchange counts bounded, no nested-loop
joins sneaking in where a hash plan is intended, no Python eval nodes
on JVM-only paths) so a refactor that silently degrades a plan fails
CI instead of only showing up in BENCH_r{N}."""

from __future__ import annotations

import pytest

from etl_lens_spark.queries import REGISTRY, _load

_load()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# name -> (max exchanges, forbidden substrings)
EXPECTATIONS = {
    # scan-pipeline queries: no shuffle at all before the limit/agg
    "r_filter_project_limit": (0, ["BroadcastNestedLoopJoin", "ArrowEval"]),
    # single-agg queries: partial + final = bounded exchanges
    "q1_pricing_summary": (2, ["Join", "ArrowEval"]),
    "q6_revenue_forecast": (1, ["Join", "ArrowEval"]),
    "dedup_exact_groups": (2, ["Join", "ArrowEval"]),
    # star joins must stay hash/broadcast — never nested-loop
    "q3_shipping_priority": (4, ["BroadcastNestedLoopJoin", "ArrowEval"]),
    "q5_local_supplier_volume": (8, ["BroadcastNestedLoopJoin", "ArrowEval"]),
    # text analysis is JVM-only by design — a Python eval node here
    # means someone put a UDF on the hot path
    "text_quality_signals": (2, ["ArrowEval", "BatchEvalPython", "MapInPandas"]),
    "text_token_stats": (2, ["ArrowEval", "BatchEvalPython", "MapInPandas"]),
    # contamination: within-doc gram dedup is row-local and the eval
    # side broadcasts — the ONLY gram-carrying hash exchange is the
    # tiny eval-distinct; a SortMergeJoin here means the broadcast
    # regressed and the whole corpus gram stream would shuffle
    "text_contamination_overlap": (5, ["SortMergeJoin", "ArrowEval"]),
    # Q9: filtered part dim + nation broadcast into the lineitem
    # pipeline; fact-fact joins stay hash, never nested-loop
    "q9_product_type_profit": (8, ["BroadcastNestedLoopJoin", "ArrowEval"]),
    # Q20: grouped frame reused at two granularities + semi join;
    # no nested-loop anywhere
    "q20_dominant_suppliers": (8, ["BroadcastNestedLoopJoin", "ArrowEval"]),
    # DSIR: pure JVM (no Python anywhere) and the 256-row ratio
    # table must join by BROADCAST — an SMJ here would shuffle the
    # full token stream on the bucket key
    "curate_dsir_resample": (
        3,
        ["SortMergeJoin", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # HTML extraction is a codegen regexp chain: one exchange (the
    # final sort), zero Python
    "text_html_extract": (
        1,
        ["ArrowEval", "MapInPandas", "BatchEvalPython", "Join"],
    ),
    # MATCH_RECOGNIZE: exactly the key shuffle + final sort around
    # ONE FlatMapGroupsInPandas — no joins at all
    "events_match_recognize_vshape": (2, ["Join", "MapInPandas"]),
    # JW fuzzy join: exact-collapse agg (2 exchanges) feeds the
    # blocking join (hash/broadcast, never nested-loop), one sort
    "entity_jaro_winkler_pairs": (6, ["BroadcastNestedLoopJoin"]),
    # KMV sketch family: pure JVM (md5+conv codegen, no Python) and
    # the exact-anchor join broadcasts the 5-row sketch side — an SMJ
    # or nested-loop here means the fact table started shuffling
    "sketch_kmv_distinct_merge": (
        9,
        ["ArrowEval", "MapInPandas", "BatchEvalPython",
         "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # bitmap rollup: three groupBy levels, zero joins, zero Python
    "sketch_bitmap_exact_distinct": (
        4,
        ["Join", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # set-ops: the 5-row sketch pairing is a deliberate tiny theta
    # join (BNLJ is correct there); the exact-anchor user self-join
    # may be SMJ — but no Python anywhere
    "sketch_kmv_set_ops": (
        18,
        ["ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # KN LM: the scoring joins ride the reduced bigram-TYPE table and
    # broadcast (the 1-row type total is the only BNLJ); an SMJ means
    # the corpus-scale gram stream got shuffled into a sort
    "text_lm_kneser_ney_score": (
        20,
        ["ArrowEval", "MapInPandas", "BatchEvalPython", "SortMergeJoin"],
    ),
    # unigram candidates: vocab-side explode + one reduce — no joins,
    # no Python (the Viterbi UDF lives only in the rows-only twin)
    "text_unigram_piece_counts": (
        2,
        ["Join", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # FD discovery: two groupBy levels over the unioned candidates —
    # shared scans, no joins, no Python
    "profile_fd_discovery": (
        4,
        ["Join", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # all-pairs correlation matrix: every moment in ONE aggregate —
    # a join or second exchange means the one-scan contract broke
    "profile_correlation_matrix": (
        1,
        ["Join", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # Spearman: distinct-value rank tables via prefix sums (BNLJ =
    # the tiny triangular offsets join; SMJ allowed for the high-
    # cardinality join-back) — but never Python
    "stats_spearman_corr": (
        45,
        ["ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # conformal: exact shared-rank quantile — broadcast/triangular
    # joins only; an SMJ would mean a row-scale side stopped
    # broadcasting, Python is never involved
    "ml_conformal_intervals": (
        30,
        ["SortMergeJoin", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # point-in-polygon: the edge table must broadcast (SMJ forbidden);
    # parity reduces map-side, no Python
    "geo_point_in_polygon_join": (
        8,
        ["SortMergeJoin", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # Holt-Winters: dims broadcast around exactly one grouped-map
    # pandas stage; an SMJ means the dense-series build degraded
    "ts_holt_winters_fit": (
        12,
        ["SortMergeJoin", "ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
    # Fellegi-Sunter: u-estimates and pairs stay JVM-side
    "entity_fellegi_sunter_scores": (
        20,
        ["ArrowEval", "MapInPandas", "BatchEvalPython"],
    ),
}


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_headline_plan_shape(spark, sf_dir, name):
    max_exchanges, forbidden = EXPECTATIONS[name]
    plan = _plan(spark, sf_dir, name)
    n_ex = plan.count("Exchange ")
    assert n_ex <= max_exchanges, (
        f"{name}: {n_ex} exchanges (max {max_exchanges}):\n{plan}"
    )
    for bad in forbidden:
        assert bad not in plan, f"{name}: forbidden node {bad}:\n{plan}"


# ------------------------------------------------------------------
# Per-headline plan pins (VERDICT r3 #6): the EXACT exchange count,
# join-node set, and Python-eval-node set of every headline query,
# captured from the audited plans PLANS.md documents. Any refactor
# that moves one of these — a broadcast silently becoming a
# SortMergeJoin, an extra shuffle, a UDF landing on a JVM-only path —
# fails here instead of hiding in bench noise.
#
# Intentional-change escape hatch: set SPARK_GRAFT_ACCEPT_PLANS=1 to
# skip the pins for one run, then update the table to the new
# audited values in the same commit that changes the plan.
# ------------------------------------------------------------------

# name -> (exchanges, {join nodes}, {python eval nodes})
HEADLINE_PINS = {
    "asof_join_last_click": (2, set(), set()),
    "cdc_table_checksum": (3, {"SortMergeJoin"}, set()),
    "decontaminate_corpus_pipeline": (8, {"BroadcastHashJoin"}, set()),
    "dedup_exact_groups": (2, set(), set()),
    "dedup_incremental_batch": (4, {"BroadcastHashJoin"}, set()),
    # re-audited round 11: the k-component MinHash fold runs as a
    # vectorized numpy kernel (ArrowEval) instead of an interpreted
    # aggregate/zip_with expression walk — bit-identical signatures
    # (test_minhash_vectorized_fold_matches_expression), 3.6 s → 0.2 s
    # on the sf0.1 corpus; exchanges and joins unchanged
    "dedup_minhash_lsh": (9, {"BroadcastHashJoin"}, {"ArrowEval"}),
    # re-audited round 12: the corpus-sized staged frame is now a
    # persist(MEMORY_AND_DISK), not a localCheckpoint — recoverable
    # on executor loss (verdict item 5) — so the returned plan no
    # longer truncates at a Scan ExistingRDD: both InMemoryTableScan
    # references and their upstream tokenize pipeline are visible
    # again (4 pinned exchanges → 6 VISIBLE, same executed shape:
    # one tokenize pass feeding election + reassembly)
    "dedup_segment_corpus": (6, {"BroadcastHashJoin"}, set()),
    # SemDeDup: re-audited round 11 twice — the k-means assignment
    # (ArrowEval) runs ONCE into the staged (vec_id, v, cluster)
    # frame, and the keep-list is staged before the global sort (the
    # range exchange's sampling pass was re-executing the per-cluster
    # Gram sweep FMGIP). Returned plan: sort over the staged keeps;
    # the cluster-key shuffle + single-FMGIP sweep shape is pinned by
    # test_semantic.py and the oracle hash
    "dedup_semantic_semdedup": (1, set(), set()),
    # re-audited round 11: stats staged before the global sort (the
    # range sampling pass re-ran BOTH mapInPandas codec stages);
    # returned plan is the sort — the two-stage no-shuffle codec
    # chain stays pinned by the oracle's exact-integer checksums
    "mm_real_image_pipeline": (1, set(), set()),
    # re-audited round 12: the re-join + re-aggregation of lineitem
    # was redundant (the final group key is per-order, so the
    # subquery's own sum IS total_qty) — one lineitem scan, 5
    # exchanges -> 3 (the partial-agg shuffle + two broadcasts)
    "q18_large_orders": (3, {"BroadcastHashJoin"}, set()),
    "q1_pricing_summary": (2, set(), set()),
    "q3_shipping_priority": (3, {"BroadcastHashJoin"}, set()),
    "q5_local_supplier_volume": (7, {"BroadcastHashJoin"}, set()),
    "r_catalog_build": (2, set(), set()),
    "r_filter_project_limit": (0, set(), set()),
    # deliberate quadratic oracle anchor: the nested-loop join IS the
    # declared shape (guarded by max_rows/max_queries fail-fasts)
    "sim_bruteforce_topk": (5, {"BroadcastNestedLoopJoin"}, set()),
    # distributed prefix-sum queries: the nested-loop node is the
    # O(P^2) triangular offsets join over per-partition TOTALS (P~32
    # rows), deliberately not a window — see operators/prefix.py
    # skyline: distinct-key reduction + prefix-max (range exchange,
    # local windows, O(P) triangular offsets join) + broadcast
    # join-back — the nested-loop node is the tiny offsets triangle
    "skyline_pareto_frontier": (
        7,
        {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
        set(),
    ),
    "part_pareto_abc": (
        10,
        {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
        set(),
    ),
    "exact_quantiles_distributed": (
        9,
        {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
        set(),
    ),
    # KMV merge: per-(type,day) sketch ranks + the 5-row sketch side
    # broadcast into the exact anchor — pure JVM md5/conv codegen
    "sketch_kmv_distinct_merge": (8, {"BroadcastHashJoin"}, set()),
    # Holt-Winters: re-audited round 11 twice — the (series, day)
    # rollup is staged once (10 exchanges → 6), then the 25-row fit
    # result is staged before the name join + global sort (the range
    # exchange's sampling pass was re-executing the per-series pandas
    # fit). Returned plan: broadcast name join + sort over the staged
    # fit; the dense-grid + single-FMGIP fit shape is pinned by the
    # oracle's recursive-CTE hash match
    "ts_holt_winters_fit": (
        2,
        {"BroadcastHashJoin"},
        set(),
    ),
    "stream_tumbling_window_batch": (2, set(), set()),
    "streaming_tumbling_live": (1, set(), set()),
    "text_quality_signals": (1, set(), set()),
    # re-audited round 5: n_docs folded into the plan as a broadcast
    # 1-row aggregate (the BNLJ node + its broadcast/agg exchanges)
    # replacing the driver-side docs.count() job — isolated A/B
    # measured 1.12 s → 0.63 s (PLANS.md round-5 note)
    # re-audited round 11: df derived from the staged tf counts
    # (second tokenize pass + its distinct shuffle removed) — 8
    # exchanges → 6
    "text_tfidf_topterms": (
        6,
        {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
        set(),
    ),
    "text_winnow_fingerprints": (2, set(), set()),
    "win_topk_per_group": (2, set(), set()),
    # DSIR: pure-JVM, 256-row ratio table broadcast back into the
    # token stream
    "curate_dsir_resample": (3, {"BroadcastHashJoin"}, set()),
    # MATCH_RECOGNIZE: re-audited round 11 — the match set is staged
    # before the global sort (the range exchange's sampling pass was
    # re-executing the whole FlatMapGroupsInPandas stage, measured
    # 2.34 s → 0.99 s), so the returned plan is the sort over the
    # staged matches; the bucket-shuffle + single-FMGIP shape of the
    # matcher is pinned by test_patterns.py and the oracle hash
    "events_match_recognize_vshape": (1, set(), set()),
    # approx-sketch twins promoted to headline (VERDICT r4 #8) so the
    # sketch path is bench- and plan-pinned alongside its exact
    # anchor: one approx_percentile partial-agg shuffle each; the
    # RFM nested-loop node is the 1-row cutpoints cross join
    # re-audited round 11: the per-customer rollup is staged once
    # (anchor scan, cutpoint sketch and binning pass re-ran the
    # orders aggregate) — 12 exchanges → 8
    "customer_rfm_segments_approx": (
        8,
        {"BroadcastNestedLoopJoin"},
        set(),
    ),
    "group_quantiles_approx": (2, set(), set()),
    # round-5 tranche representatives: Shapley rides the 16-row
    # coalition lattice (per-channel marginal joins all broadcast);
    # Mann-Whitney's BNLJ is the O(P) triangular offsets join of the
    # range-partitioned prefix sum (operators/prefix.py), not a data
    # join
    "events_shapley_attribution": (8, {"BroadcastHashJoin"}, set()),
    "stats_mann_whitney_u": (
        6,
        {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
        set(),
    ),
    # GBDT histogram pass: ONE lineitem scan melts into the
    # (feature, bin) histogram aggregate; per-feature totals and the
    # prefix sums are two windows sharing one sort over the ~70-row
    # histogram; WindowGroupLimit is the per-feature argmax. No
    # joins, no second scan (the naive hist-join-totals form
    # re-scanned lineitem — caught and fixed in the plan audit)
    "ml_gbdt_split_histogram": (3, set(), set()),
    # DML headline: the returned frame is the collected audit row
    # (LocalTableScan) — the merge plan itself is pinned by the
    # files_rewritten oracle column, not by this final plan
    "lake_merge_upsert": (0, set(), set()),
    # --- round-6 headliners ---
    # metadata-only agg: the answer is computed from the log on the
    # driver (data files deleted first) — LocalTableScan, zero
    # exchanges BY CONSTRUCTION; the zero-file-open claim is the pin
    "lake_stats_only_agg": (0, set(), set()),
    # RRF: two retriever pipelines (BM25 postings + broadcast-query
    # cosine) then a 50-row fusion; the full-outer of the two tiny
    # lists is SMJ (Spark cannot broadcast full-outer), scalar
    # subqueries ride BNLJ — both bounded frames
    # re-audited round 12: the BM25 side is row-local (dlen/tf via
    # size/filter over the words array, stack unpivot) — the token
    # stream never explodes and never shuffles; the round-11 staged
    # exploded rollup measured 1.33x SLOWER and is gone. 9
    # exchanges → 6
    "rank_rrf_fusion": (6, {"BroadcastHashJoin",
                            "BroadcastNestedLoopJoin",
                            "SortMergeJoin"}, set()),
    # theta set-ops: per-type sketch checkpointed once, pair joins
    # over O(k) state; the OR-membership pair fan-out is BNLJ over
    # the broadcast 10-pair frame, anchors join SMJ at O(k) rows
    # (21 after the review fix replaced the exact-anchor left_semi
    # with a left join so zero-overlap pairs survive)
    "sketch_kmv_set_operations": (21, {"BroadcastHashJoin",
                                       "BroadcastNestedLoopJoin",
                                       "SortMergeJoin"}, set()),
    # view maintenance: three partial-state families merge on ym —
    # every join a broadcast (months-sized frames), no SMJ anywhere
    "view_maintain_distinct_agg": (11, {"BroadcastHashJoin"}, set()),
    # --- round-7 headliners ---
    # incremental SCD2: the returned frame is the collected audit
    # rollup (LocalTableScan) — the apply plan itself is pinned by
    # the in-output audit_mismatch column and the unit tests, same
    # convention as lake_merge_upsert
    "warehouse_scd2_incremental": (0, set(), set()),
    # --- round-8 headliners ---
    # per-commit CDF serving: the returned frame is the collected
    # rollup (LocalTableScan) — the serving plan (cdc-record reads +
    # broadcast sidecar-diff semi-join, O(rows changed)) is pinned by
    # the oracle and the per-commit classification unit tests, same
    # convention as lake_merge_upsert
    "lake_cdf_table_changes": (0, set(), set()),
    # IVM delta rules: re-audited round 11 — the maintained view is
    # staged once (it feeds BOTH the recompute audit's count and the
    # query output, and was re-running the CDF reads + trilinear
    # delta join per consumer), so the returned plan is the final
    # sort over the staged 25-row view. The maintenance plan itself
    # (change feeds broadcast into old states, delta aggregate
    # shuffling O(groups touched), full-outer view merge) stays
    # pinned by the oracle hash + the in-output audit_mismatch=0,
    # same convention as dedup_incremental_lsh_cdf. No Python.
    "warehouse_ivm_join_view": (1, set(), set()),
    # --- round-9 headliners ---
    # incremental LSH dedup from the CDF: the returned frame is the
    # collected proof row (LocalTableScan) — the maintenance plan
    # (delta-vs-index band probe, broadcast anti-join deletes, never
    # a corpus re-self-join) is pinned by the exact-equality oracle
    # columns and the bench_setup split times exactly that
    # incremental path, same convention as lake_merge_upsert
    "dedup_incremental_lsh_cdf": (0, set(), set()),
    # --- round-10 headliners ---
    # incremental IVF ANN index from the CDF: collected proof row
    # (LocalTableScan); the maintenance plan (delta-only assignment,
    # broadcast anti-join delete, probe join on cell) is pinned by
    # the exact-equality oracle columns and the bench_setup split
    # times exactly the incremental path + maintained-index serving
    "sim_ann_incremental_cdf": (0, set(), set()),
    # --- round-11 headliners ---
    # incremental BM25 postings index / hybrid retrieval from two
    # maintained indexes: collected proof rows (LocalTableScan); the
    # maintenance plans (delta-only tokenize+append, broadcast
    # anti-join deletes, query-vocabulary postings filter before any
    # shuffle) are pinned by the exact-equality oracle columns and
    # the bench_setup splits time exactly the incremental +
    # maintained-serving paths, same convention as lake_merge_upsert
    "text_bm25_incremental_cdf": (0, set(), set()),
    "rank_rrf_incremental_cdf": (0, set(), set()),
    # curated-corpus IVM: collected proof rows (LocalTableScan); the
    # maintenance plans (delta-only gate, fp-probe join, broadcast
    # anti-join deletes, affected-fp-pruned re-election) are pinned
    # by the exact-equality oracle columns and the bench_setup split
    # times exactly the incremental maintenance path
    "pipeline_incremental_curation_cdf": (0, set(), set()),
}


def test_headline_pins_cover_every_headline():
    heads = {n for n, s in REGISTRY.items() if s.headline}
    assert heads == set(HEADLINE_PINS), (
        f"pins out of sync: missing={heads - set(HEADLINE_PINS)}, "
        f"stale={set(HEADLINE_PINS) - heads}"
    )


@pytest.mark.parametrize("name", sorted(HEADLINE_PINS))
def test_headline_plan_pin(spark, sf_dir, name):
    import os
    import re

    if os.environ.get("SPARK_GRAFT_ACCEPT_PLANS"):
        pytest.skip("plan pins explicitly bypassed for this run")
    want_ex, want_joins, want_py = HEADLINE_PINS[name]
    plan = _plan(spark, sf_dir, name)
    got_ex = plan.count("Exchange ")
    got_joins = set(re.findall(r"(\w*Join\w*)", plan))
    got_py = set(
        re.findall(
            r"(ArrowEval|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)",
            plan,
        )
    )
    assert (got_ex, got_joins, got_py) == (want_ex, want_joins, want_py), (
        f"{name} plan moved: exchanges {got_ex} (pinned {want_ex}), "
        f"joins {sorted(got_joins)} (pinned {sorted(want_joins)}), "
        f"python {sorted(got_py)} (pinned {sorted(want_py)}). If the "
        f"change is intentional, re-audit and update HEADLINE_PINS.\n{plan}"
    )


def test_join_hints_flip_strategy(spark, sf_dir):
    """dialect_join_hints: both hint front doors (SQL comment and
    DataFrame .hint) must actually produce BroadcastHashJoin, and an
    opposite SHUFFLE_MERGE hint on the same join must produce
    SortMergeJoin — proving the hint surface steers strategy, not
    just parses."""
    from etl_lens_spark.queries import REGISTRY, _load

    _load()
    plan = (
        REGISTRY["dialect_join_hints"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan

    from etl_lens_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    smj = (
        c.join(
            n.hint("shuffle_merge"), c["c_nationkey"] == n["n_nationkey"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in smj, smj


# ------------------------------------------------------------------
# Interior plan pins for STAGED frames (round-12 verdict item 10):
# stage() truncates the returned plan at a Scan ExistingRDD, which
# round 11's weakened pins could no longer see past — an Exchange
# regression or a lost broadcast UPSTREAM of the checkpoint was
# invisible. staging.capture() records every stage()'d frame
# pre-materialization, so the interior shape (between stage points)
# is pinned here with the same (exchanges, join set, python-eval
# set) convention as HEADLINE_PINS. Same escape hatch:
# SPARK_GRAFT_ACCEPT_PLANS=1 skips for one run while re-auditing.
# ------------------------------------------------------------------

# query -> {stage label -> (exchanges, {joins}, {python nodes})}
STAGED_INTERIOR_PINS = {
    # k-means assignment ArrowEval runs ONCE into the staged
    # (vec_id, v, cluster) frame; the keep-frame holds the single
    # FlatMapGroupsInPandas Gram sweep + the keep-join
    "dedup_semantic_semdedup": {
        "semdedup_vectors": (7, {"BroadcastHashJoin"}, {"ArrowEval"}),
        "semdedup_keep": (
            6,
            {"BroadcastHashJoin", "SortMergeJoin"},
            {"FlatMapGroupsInPandas"},
        ),
    },
    # (series, day) rollup: orders⋈customer broadcast + two agg
    # exchanges; the fit frame holds the dense-grid build + ONE
    # per-series pandas fit
    "ts_holt_winters_fit": {
        "hw_series_day_rollup": (4, {"BroadcastHashJoin"}, set()),
        "hw_fit": (
            8,
            {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
            {"FlatMapGroupsInPandas"},
        ),
    },
    # bucket shuffle + ONE FlatMapGroupsInPandas matcher — the
    # pre-round-11 2-exchange shape, now pinned on the staged frame
    "events_match_recognize_vshape": {
        "vshape_matches": (2, set(), {"FlatMapGroupsInPandas"}),
    },
    # per-customer rollup: one partial/final agg pair, no joins, no
    # Python — the orders aggregate that round 11 de-duplicated
    "customer_rfm_segments_approx": {
        "rfm_customer_rollup": (2, set(), set()),
    },
    # the two mapInPandas codec stages are row-local — zero
    # exchanges upstream of the staged stats
    "mm_real_image_pipeline": {
        "mm_doc_stats": (0, set(), {"MapInPandas"}),
    },
    # round-12 row-local BM25 side: the per-doc rollup has NO
    # exchange and NO explode — the token stream never shuffles
    "rank_rrf_fusion": {
        "rrf_per_doc": (0, set(), set()),
    },
    # tf counts: tokenize+explode into one partial/final agg pair
    "text_tfidf_topterms": {
        "tfidf_tf": (2, set(), set()),
    },
}


@pytest.mark.parametrize("name", sorted(STAGED_INTERIOR_PINS))
def test_staged_interior_plan_pin(spark, sf_dir, name):
    import os
    import re

    if os.environ.get("SPARK_GRAFT_ACCEPT_PLANS"):
        pytest.skip("plan pins explicitly bypassed for this run")
    from etl_lens_spark.operators import staging

    with staging.capture() as cap:
        REGISTRY[name].fn(spark, sf_dir)
        labels = [label for label, _ in cap]
        frames = dict(cap)
    assert len(frames) == len(labels), (
        f"{name}: duplicate stage() labels in {labels}"
    )
    pins = STAGED_INTERIOR_PINS[name]
    missing = set(pins) - set(frames)
    assert not missing, (
        f"{name}: staged frames {sorted(missing)} not captured — "
        f"got {sorted(frames)}"
    )
    for label, (want_ex, want_joins, want_py) in pins.items():
        plan = frames[label]._jdf.queryExecution().executedPlan().toString()
        got_ex = plan.count("Exchange ")
        got_joins = set(re.findall(r"(\w*Join\w*)", plan))
        got_py = set(
            re.findall(
                r"(ArrowEval|BatchEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas)",
                plan,
            )
        )
        assert (got_ex, got_joins, got_py) == (
            want_ex,
            want_joins,
            want_py,
        ), (
            f"{name}/{label} interior plan moved: exchanges {got_ex} "
            f"(pinned {want_ex}), joins {sorted(got_joins)} (pinned "
            f"{sorted(want_joins)}), python {sorted(got_py)} (pinned "
            f"{sorted(want_py)}). Re-audit if intentional.\n{plan}"
        )
