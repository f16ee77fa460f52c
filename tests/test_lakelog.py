"""Lakehouse commit log: optimistic concurrency, snapshot replay,
hole detection."""

from __future__ import annotations

import json
import os

import pytest

from etl_lens_spark.operators import lakelog
from etl_lens_spark.sources.tables import parquet_schema


def test_optimistic_concurrency_one_winner(tmp_path):
    t = str(tmp_path / "tbl")
    lakelog.commit(t, 0, [{"add": "a"}])
    with pytest.raises(lakelog.CommitConflict):
        lakelog.commit(t, 0, [{"add": "b"}])
    # the losing writer's actions must not have leaked into the log
    with open(os.path.join(t, "_log", "00000000.json")) as f:
        assert json.load(f) == [{"add": "a"}]
    # retry at the next version succeeds
    lakelog.commit(t, 1, [{"add": "b"}])
    assert lakelog.latest_version(t) == 1


def test_snapshot_replay_add_remove(tmp_path):
    t = str(tmp_path / "tbl")
    lakelog.commit(t, 0, [{"add": "a"}, {"add": "b"}])
    lakelog.commit(t, 1, [{"remove": "a"}, {"add": "c"}])
    lakelog.commit(t, 2, [{"remove": "c"}])
    names = lambda v: [  # noqa: E731
        os.path.basename(p) for p in lakelog.snapshot_files(t, v)
    ]
    assert names(0) == ["a", "b"]
    assert names(1) == ["b", "c"]
    assert names(2) == ["b"]
    assert names(None) == ["b"]  # latest


def test_log_hole_detected(tmp_path):
    t = str(tmp_path / "tbl")
    lakelog.commit(t, 0, [{"add": "a"}])
    lakelog.commit(t, 2, [{"add": "c"}])  # 1 missing
    with pytest.raises(ValueError, match="hole"):
        lakelog.snapshot_files(t, 2)


def test_remove_unknown_file_is_noop(tmp_path):
    t = str(tmp_path / "tbl")
    lakelog.commit(t, 0, [{"remove": "ghost"}, {"add": "a"}])
    assert [os.path.basename(p) for p in lakelog.snapshot_files(t)] == ["a"]


# ---------------------------------------------------------------------------
# Copy-on-write DML
# ---------------------------------------------------------------------------


def _build(spark, tmp_path):
    """Tiny 2-file table: file 'even' keys {0,2,4,6}, file 'odd'
    keys {1,3,5,7}, value = key * 10."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k long, v long"
    )
    df.filter("k % 2 = 0").write.parquet(f"{t}/even")
    df.filter("k % 2 = 1").write.parquet(f"{t}/odd")
    lakelog.commit(t, 0, [{"add": "even"}, {"add": "odd"}])
    return t


def _state(spark, t, version=None):
    return sorted(
        (r.k, r.v)
        for r in lakelog.read_snapshot(spark, t, version).collect()
    )


def test_merge_prunes_untouched_files(spark, tmp_path):
    t = _build(spark, tmp_path)
    src = spark.createDataFrame([(1, 111), (9, 999)], "k long, v long")
    stats = lakelog.merge_upsert(spark, t, src, ["k"])
    # only the 'odd' file contains key 1; 'even' must not be rewritten
    assert stats["n_files_rewritten"] == 1
    assert _state(spark, t) == sorted(
        [(0, 0), (2, 20), (4, 40), (6, 60)]  # even untouched
        + [(3, 30), (5, 50), (7, 70)]  # odd survivors
        + [(1, 111), (9, 999)]  # upserted
    )
    # v0 still time-travels to the pre-merge state
    assert _state(spark, t, 0) == [(k, k * 10) for k in range(8)]


def test_merge_insert_only_touches_nothing(spark, tmp_path):
    t = _build(spark, tmp_path)
    src = spark.createDataFrame([(100, 1), (101, 2)], "k long, v long")
    stats = lakelog.merge_upsert(spark, t, src, ["k"])
    assert stats["n_files_rewritten"] == 0
    assert (100, 1) in _state(spark, t)


def test_merge_idempotent_rerun(spark, tmp_path):
    t = _build(spark, tmp_path)
    src = spark.createDataFrame([(1, 111)], "k long, v long")
    lakelog.merge_upsert(spark, t, src, ["k"])
    first = _state(spark, t)
    stats = lakelog.merge_upsert(spark, t, src, ["k"])
    assert _state(spark, t) == first  # same end state, new version
    assert stats["version"] == 2


def test_delete_drops_fully_deleted_file(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _build(spark, tmp_path)
    stats = lakelog.delete_where(spark, t, F.col("k") % 2 == 0)
    assert stats["n_files_touched"] == 1
    assert stats["n_files_rewritten"] == 0  # no empty replacement file
    assert [os.path.basename(p) for p in lakelog.snapshot_files(t)] == [
        "odd"
    ]


def test_delete_partial_rewrites_survivors(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _build(spark, tmp_path)
    lakelog.delete_where(spark, t, F.col("k") == 3)
    assert _state(spark, t) == [
        (k, k * 10) for k in range(8) if k != 3
    ]
    # the untouched 'even' file is still the active original
    names = {os.path.basename(p) for p in lakelog.snapshot_files(t)}
    assert "even" in names and "odd" not in names


def test_vacuum_reclaims_only_unreferenced(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _build(spark, tmp_path)
    lakelog.delete_where(spark, t, F.col("k") == 3)  # odd → rewritten
    stats = lakelog.vacuum(t)
    assert stats == {
        "n_dirs_deleted": 1,
        "n_dirs_kept": 2,
        "n_dv_sidecars_deleted": 0,
        "n_cdc_records_deleted": 0,
    }
    # latest still reads byte-identically
    assert _state(spark, t) == [
        (k, k * 10) for k in range(8) if k != 3
    ]
    # pre-vacuum version is gone (retention-0 contract): the old
    # 'odd' file no longer exists on disk
    assert not os.path.exists(os.path.join(t, "odd"))


def test_stats_pruning_straddle_and_conservative(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(100)], "k long")
    for i, (lo, hi) in enumerate([(0, 25), (25, 50), (50, 75), (75, 100)]):
        p = f"{t}/r{i}"
        df.filter(f"k >= {lo} and k < {hi}").write.parquet(p)
    # r3 committed WITHOUT stats → must always be scanned
    actions = [
        {
            "add": f"r{i}",
            "stats": lakelog.file_stats(spark, f"{t}/r{i}", ["k"]),
        }
        for i in range(3)
    ] + [{"add": "r3"}]
    lakelog.commit(t, 0, actions)
    # predicate straddling r0/r1 scans those two plus stats-less r3
    got, n_total, n_scanned = lakelog.read_snapshot_pruned(
        spark, t, "k", 20, 30
    )
    assert (n_total, n_scanned) == (4, 3)
    assert sorted(
        r.k for r in got.filter("k between 20 and 30").collect()
    ) == list(range(20, 31))
    # point predicate inside r1 scans r1 + r3 only
    _, _, n2 = lakelog.read_snapshot_pruned(spark, t, "k", 30, 40)
    assert n2 == 2


def test_stats_pruning_all_pruned_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(10)], "k long")
    df.write.parquet(f"{t}/a")
    lakelog.commit(
        t,
        0,
        [{"add": "a", "stats": lakelog.file_stats(spark, f"{t}/a", ["k"])}],
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prunes every file"):
        lakelog.read_snapshot_pruned(spark, t, "k", 1000, 2000)


def test_optimize_compacts_small_files_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    big = spark.createDataFrame([(k, k) for k in range(50)], "k long, v long")
    small1 = spark.createDataFrame([(100, 1)], "k long, v long")
    small2 = spark.createDataFrame([(101, 2)], "k long, v long")
    big.write.parquet(f"{t}/big")
    small1.write.parquet(f"{t}/s1")
    small2.write.parquet(f"{t}/s2")
    lakelog.commit(t, 0, [{"add": "big"}, {"add": "s1"}, {"add": "s2"}])
    before = sorted(
        (r.k, r.v) for r in lakelog.read_snapshot(spark, t).collect()
    )
    stats = lakelog.optimize_compact(spark, t, max_small_rows=10)
    assert stats["n_files_compacted"] == 2
    names = {os.path.basename(p) for p in lakelog.snapshot_files(t)}
    assert "big" in names and "s1" not in names
    after = sorted(
        (r.k, r.v) for r in lakelog.read_snapshot(spark, t).collect()
    )
    assert after == before  # layout changed, data identical


def test_optimize_noop_below_two_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 1)], "k long, v long").write.parquet(f"{t}/a")
    lakelog.commit(t, 0, [{"add": "a"}])
    stats = lakelog.optimize_compact(spark, t)
    assert stats["n_files_compacted"] == 0
    assert lakelog.latest_version(t) == 0  # no empty commit


def test_bloom_no_false_negatives_and_prunes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(200)], "k long")
    actions = []
    for i in range(4):
        rel = f"h{i}"
        df.filter(f"pmod(xxhash64(k), 4) = {i}").write.parquet(
            f"{t}/{rel}"
        )
        actions.append(
            {"add": rel, "bloom_k": lakelog.file_bloom(spark, f"{t}/{rel}", "k")}
        )
    lakelog.commit(t, 0, actions)
    # every present key must be found in a scanned file (no false negatives)
    for key in (0, 7, 123, 199):
        got, n_total, n_scanned = lakelog.read_snapshot_bloom_pruned(
            spark, t, "k", key
        )
        assert n_total == 4 and 1 <= n_scanned <= 4
        assert got.filter(f"k = {key}").count() == 1
    # a key absent from the table prunes everything (tiny FP odds)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bloom prunes every file"):
        lakelog.read_snapshot_bloom_pruned(spark, t, "k", 10**12 + 7)


def test_bloom_missing_filter_is_conservative(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(10)], "k long")
    df.write.parquet(f"{t}/a")
    lakelog.commit(t, 0, [{"add": "a"}])  # no bloom in the action
    _, n_total, n_scanned = lakelog.read_snapshot_bloom_pruned(
        spark, t, "k", 12345
    )
    assert (n_total, n_scanned) == (1, 1)


def test_apply_cdc_mixed_feed_single_pass(spark, tmp_path):
    t = _build(spark, tmp_path)  # even {0,2,4,6}, odd {1,3,5,7}
    changes = spark.createDataFrame(
        [
            (2, None, "D"),  # delete from 'even'
            (3, 333, "U"),  # update in 'odd'
            (50, 500, "I"),  # brand-new key
        ],
        "k long, v long, op string",
    )
    stats = lakelog.apply_cdc(spark, t, changes, ["k"])
    assert stats["n_files_rewritten"] == 2  # both files touched
    assert _state(spark, t) == sorted(
        [(0, 0), (4, 40), (6, 60)]
        + [(1, 10), (5, 50), (7, 70)]
        + [(3, 333), (50, 500)]
    )
    # pre-apply version still time-travels
    assert _state(spark, t, 0) == [(k, k * 10) for k in range(8)]


def test_apply_cdc_delete_only_can_drop_everything(spark, tmp_path):
    t = _build(spark, tmp_path)
    changes = spark.createDataFrame(
        [(k, None, "D") for k in range(8)], "k long, v long, op string"
    )
    lakelog.apply_cdc(spark, t, changes, ["k"])
    assert lakelog.snapshot_files(t) == []  # empty table, no litter


def test_optimize_cluster_enables_pruning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(100)], "k long")
    for i in range(2):
        rel = f"h{i}"
        df.filter(f"pmod(xxhash64(k), 2) = {i}").write.parquet(f"{t}/{rel}")
    lakelog.commit(
        t,
        0,
        [
            {
                "add": f"h{i}",
                "stats": lakelog.file_stats(spark, f"{t}/h{i}", ["k"]),
            }
            for i in range(2)
        ],
    )
    _, _, pre = lakelog.read_snapshot_pruned(spark, t, "k", 10, 20)
    assert pre == 2  # hash-scattered: stats can't prune
    lakelog.optimize_cluster(
        spark, t, "k", [(0, 25), (25, 50), (50, 75), (75, 100)]
    )
    got, total, post = lakelog.read_snapshot_pruned(spark, t, "k", 10, 20)
    assert (total, post) == (4, 1)
    assert sorted(
        r.k for r in got.filter("k between 10 and 20").collect()
    ) == list(range(10, 21))


def test_multi_table_snapshot_projects_one_subtree(spark, tmp_path):
    import pyspark.sql.functions as F

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "multi")
    a = spark.range(5).withColumnRenamed("id", "k")
    b = spark.range(3).withColumnRenamed("id", "k")
    a.write.parquet(f"{base}/fact/f0")
    b.write.parquet(f"{base}/dim/d0")
    b.withColumn("k", F.col("k") + 100).write.parquet(f"{base}/dim/d1")
    lakelog.commit(base, 0, [{"add": "fact/f0"}, {"add": "dim/d0"}])
    lakelog.commit(base, 1, [{"remove": "dim/d0"}, {"add": "dim/d1"}])
    # v0: both tables at their initial state
    assert lakelog.read_table_snapshot(spark, base, "fact", 0).count() == 5
    d0 = lakelog.read_table_snapshot(spark, base, "dim", 0)
    assert {r["k"] for r in d0.collect()} == {0, 1, 2}
    # v1: dim swapped, fact untouched — projected independently from
    # the SAME log version
    d1 = lakelog.read_table_snapshot(spark, base, "dim", 1)
    assert {r["k"] for r in d1.collect()} == {100, 101, 102}
    assert lakelog.read_table_snapshot(spark, base, "fact", 1).count() == 5
    # unknown table name fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lakelog.read_table_snapshot(spark, base, "nope", 1)


def test_schema_evolution_time_travel_and_conform(spark, sf_dir):
    """metaData actions: the committed schema is version-accurate —
    v0 reads show the original 2 columns, v1 reads surface the new
    column with NULLs for pre-evolution files, and a column DROPPED
    from the schema disappears even though old files carry it."""
    import shutil

    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog
    from etl_lens_spark.sources import sinks

    base = sinks.scratch_path("lake_schema_evo_test")
    shutil.rmtree(base, ignore_errors=True)
    df0 = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("cents")
    )
    df1 = spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("cents"),
        F.lit("x").alias("seg"),
    )
    df0.write.mode("overwrite").parquet(f"{base}/f0")
    df1.write.mode("overwrite").parquet(f"{base}/f1")
    lakelog.commit(base, 0, [
        {"metaData": {"fields": [["k", "bigint"], ["cents", "bigint"]]}},
        {"add": "f0"},
    ])
    lakelog.commit(base, 1, [
        {"metaData": {"fields": [
            ["k", "bigint"], ["cents", "bigint"], ["seg", "string"]]}},
        {"add": "f1"},
    ])
    v0 = lakelog.read_snapshot_evolved(spark, base, 0)
    assert v0.columns == ["k", "cents"] and v0.count() == 5
    v1 = lakelog.read_snapshot_evolved(spark, base, 1)
    assert v1.columns == ["k", "cents", "seg"] and v1.count() == 8
    assert v1.filter(F.col("seg").isNull()).count() == 5
    # drop a column at v2: old files still carry cents, reads hide it
    lakelog.commit(base, 2, [
        {"metaData": {"fields": [["k", "bigint"], ["seg", "string"]]}},
    ])
    v2 = lakelog.read_snapshot_evolved(spark, base, 2)
    assert v2.columns == ["k", "seg"] and v2.count() == 8
    # schema as-of queries
    assert lakelog.table_schema(base, 0) == [
        ("k", "bigint"), ("cents", "bigint")]
    assert len(lakelog.table_schema(base, 2)) == 2


def test_gdpr_erasure_blocks_history_and_removes_bytes(spark, sf_dir):
    """After erasure + vacuum: the subject is gone from the latest
    snapshot AND from storage (old version unreadable), while the
    commit history metadata survives."""
    import os

    from etl_lens_spark.queries import REGISTRY, all_queries
    from etl_lens_spark.sources import sinks

    all_queries()
    row = REGISTRY["lake_gdpr_erasure"].fn(spark, sf_dir).first()
    assert row["n_erased"] > 0
    assert row["n_after_erase"] == 0
    assert row["files_rewritten"] == 1  # hash-bucket locality
    assert row["time_travel_blocked"] == 1
    base = sinks.scratch_path("lake_gdpr")
    # the log survives (auditability) even though old bytes are gone
    assert os.path.isdir(os.path.join(base, "_log"))


def test_stats_only_agg_matches_scan_and_guards(spark, tmp_path):
    """Metadata COUNT/MIN/MAX == the real scan's answers, and the
    soundness guard raises when any active file lacks stats (the
    fall-back-to-scan contract)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3 + 7).alias("v")
    )
    actions = []
    for i in range(3):
        rel = f"f{i}"
        df.filter(F.col("k") % 3 == i).write.parquet(f"{base}/{rel}")
        stats, n = lakelog.file_stats_with_count(
            spark, f"{base}/{rel}", ["k", "v"]
        )
        actions.append({"add": rel, "stats": stats, "num_records": n})
    lakelog.commit(base, 0, actions)
    agg = lakelog.stats_only_agg(base, ["k", "v"])
    scan = lakelog.read_snapshot(spark, base).agg(
        F.count(F.lit(1)), F.min("k"), F.max("k"), F.min("v"), F.max("v")
    ).first()
    assert agg["n_files"] == 3
    assert agg["n_rows"] == scan[0]
    assert (agg["min"]["k"], agg["max"]["k"]) == (scan[1], scan[2])
    assert (agg["min"]["v"], agg["max"]["v"]) == (scan[3], scan[4])
    # a stats-less add poisons metadata answering: must raise, not lie
    df.limit(5).write.parquet(f"{base}/bare")
    lakelog.commit(base, 1, [{"add": "bare"}])
    with _pytest.raises(ValueError):
        lakelog.stats_only_agg(base, ["k"])


def test_try_commit_rebase_paths(spark, tmp_path):
    """The three optimistic-concurrency outcomes in isolation:
    clean first commit, disjoint-file rebase, same-file conflict —
    plus the physical O_EXCL race backstop staying intact."""
    import pytest as _pytest

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(10).write.parquet(f"{base}/f0")
    spark.range(10).write.parquet(f"{base}/f1")
    lakelog.commit(base, 0, [{"add": "f0"}, {"add": "f1"}])
    # writer A: first commit from base 0 — no rebase needed
    ra = lakelog.try_commit_rebase(
        base, 0, [{"remove": "f0"}, {"add": "f0a"}]
    )
    assert (ra["version"], ra["n_rebased"]) == (1, 0)
    # writer B: stale base, disjoint files — rebases over A
    rb = lakelog.try_commit_rebase(
        base, 0, [{"remove": "f1"}, {"add": "f1b"}]
    )
    assert (rb["version"], rb["n_rebased"]) == (2, 1)
    # writer C: stale base, touches A's file — logical conflict
    with _pytest.raises(lakelog.CommitConflict):
        lakelog.try_commit_rebase(
            base, 0, [{"remove": "f0"}, {"add": "f0c"}]
        )
    # retry against the current head succeeds
    rc = lakelog.try_commit_rebase(
        base, 2, [{"remove": "f0a"}, {"add": "f0c"}]
    )
    assert rc["version"] == 3


def test_log_checkpoint_replay_equivalence(spark, tmp_path):
    """write_checkpoint: reads after a checkpoint replay only the
    commits past it, the reconstructed snapshot (files AND stats
    metadata) is identical to the full replay, and time travel to
    pre-checkpoint versions still works (their commits remain)."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    for v in range(12):
        spark.range(v * 10, v * 10 + 10).write.parquet(f"{base}/f{v}")
        acts = [{"add": f"f{v}", "num_records": 10}]
        if v == 6:  # one remove so the checkpoint isn't append-only
            acts.append({"remove": "f0"})
        lakelog.commit(base, v, acts)
    full = lakelog.snapshot_actions(base)  # no checkpoint yet
    ck = lakelog.write_checkpoint(base, 9)
    assert ck == {"version": 9, "n_active_files": 9, "n_txn_apps": 0}
    # replay starts at the checkpoint: only commits 10, 11 re-read
    active, start, n_replayed = lakelog._replay(
        base, lakelog.latest_version(base)
    )
    assert (start, n_replayed) == (10, 2)
    assert active == full  # identical snapshot incl. metadata
    assert lakelog.read_snapshot(spark, base).count() == 110
    # pre-checkpoint time travel unaffected
    assert lakelog.read_snapshot(spark, base, 4).count() == 50
    # checkpoint file must not confuse version discovery
    assert lakelog.latest_version(base) == 11


def test_change_feed_null_value_updates_detected(spark, tmp_path):
    """Regression (review fix): a row whose update moves a value
    BETWEEN columns with NULLs — (NULL,'x') -> ('x',NULL) — must
    classify as an update; concat_ws-style null skipping would hash
    both sides identically and silently drop it."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, None, "x"), (2, "a", "b")], "k long, c1 string, c2 string"
    ).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    spark.createDataFrame(
        [(1, "x", None), (2, "a", "b")], "k long, c1 string, c2 string"
    ).write.parquet(f"{base}/f1")
    lakelog.commit(base, 1, [{"remove": "f0"}, {"add": "f1"}])
    feed = {
        (r["k"], r["_change_type"]): (r["c1"], r["c2"])
        for r in lakelog.change_feed(spark, base, ["k"], 0, 1).collect()
    }
    assert feed[(1, "update_preimage")] == (None, "x")
    assert feed[(1, "update_postimage")] == ("x", None)
    assert not any(k == 2 for k, _ in feed)  # unchanged row absent


def test_change_feed_null_key_rows_match_null_safely(spark, tmp_path):
    """Regression (round-7 review fix): the snapshot diff joins with
    eqNullSafe, so a row whose KEY is NULL matches itself across
    versions — an unchanged NULL-key row is suppressed, a changed one
    classifies as a normal update (not a spurious delete+insert)."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(None, "keep"), (7, "x")], "k long, v string"
    ).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    spark.createDataFrame(
        [(None, "keep"), (7, "y")], "k long, v string"
    ).write.parquet(f"{base}/f1")
    lakelog.commit(base, 1, [{"remove": "f0"}, {"add": "f1"}])
    feed = [
        (r["k"], r["_change_type"], r["v"])
        for r in lakelog.change_feed(spark, base, ["k"], 0, 1).collect()
    ]
    # the unchanged NULL-key row emits NOTHING (no delete+insert pair)
    assert not any(k is None for k, _, _ in feed)
    assert sorted(feed) == [
        (7, "update_postimage", "y"),
        (7, "update_preimage", "x"),
    ]
    # and a CHANGED NULL-key row classifies as an update
    spark.createDataFrame(
        [(None, "edit"), (7, "y")], "k long, v string"
    ).write.parquet(f"{base}/f2")
    lakelog.commit(base, 2, [{"remove": "f1"}, {"add": "f2"}])
    feed2 = sorted(
        (r["_change_type"], r["v"])
        for r in lakelog.change_feed(spark, base, ["k"], 1, 2).collect()
        if r["k"] is None
    )
    assert feed2 == [
        ("update_postimage", "edit"),
        ("update_preimage", "keep"),
    ]


def test_try_commit_rebase_read_set_serializable(tmp_path):
    """Regression (round-7 review fix): passing read_files upgrades
    the conflict check from WriteSerializable (write-set only) to
    Serializable — an intervening commit that replaced a file this
    transaction READ (but does not write) now conflicts instead of
    rebasing with stale inputs (write-skew)."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    lakelog.commit(base, 0, [{"add": "b1"}, {"add": "b2"}])
    # writer A compacts b1 -> b1a
    lakelog.try_commit_rebase(base, 0, [{"remove": "b1"}, {"add": "b1a"}])
    # writer B aggregated over b1+b2 at v0 and writes only b2's bucket:
    # default (write-set-only) silently rebases over A's rewrite...
    rb = lakelog.try_commit_rebase(
        base, 0, [{"remove": "b2"}, {"add": "b2b"}]
    )
    assert rb["n_rebased"] == 1
    # ...but with the read set declared, the same shape CONFLICTS
    lakelog.commit(base, 3, [{"remove": "b1a"}, {"add": "b1c"}])
    with pytest.raises(lakelog.CommitConflict):
        lakelog.try_commit_rebase(
            base,
            2,
            [{"remove": "b2b"}, {"add": "b2d"}],
            read_files={"b1a", "b2b"},
        )


def test_write_checkpoint_is_atomic_rename(tmp_path):
    """Regression (round-7 review fix): the checkpoint lands via
    temp-file + os.rename, so no .tmp residue survives and the log
    dir never exposes a partially-written checkpoint name."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    for v in range(4):
        lakelog.commit(base, v, [{"add": f"f{v}"}])
    ck = lakelog.write_checkpoint(base, 2)
    assert ck["n_active_files"] == 3
    log = os.path.join(base, "_log")
    assert not [f for f in os.listdir(log) if f.endswith(".tmp")]
    # replay from the checkpoint still yields the right snapshot
    active, start, _ = lakelog._replay(base, 3)
    assert start == 3 and sorted(active) == ["f0", "f1", "f2", "f3"]


def test_wap_staged_invisible_then_publish(spark, tmp_path):
    """Write-audit-publish: a staged batch is invisible to every
    main-log reader at every version (structural, not asserted);
    publishing promotes it atomically; the staged entry is gone."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(10).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.range(100, 105).write.parquet(f"{base}/batch")
    lakelog.stage(base, "wap1", [{"add": "batch"}])
    # invisible to main readers...
    assert lakelog.read_snapshot(spark, base).count() == 10
    assert lakelog.latest_version(base) == 0
    # ...but the audit view sees head + staged
    assert lakelog.read_staged_snapshot(spark, base, "wap1").count() == 15
    pub = lakelog.publish_staged(base, "wap1")
    assert pub["version"] == 1 and pub["n_rebased"] == 0
    assert lakelog.read_snapshot(spark, base).count() == 15
    assert lakelog.read_snapshot(spark, base, 0).count() == 10
    with pytest.raises(FileNotFoundError):
        lakelog.staged_entry(base, "wap1")


def test_wap_publish_rebases_over_audit_window_commits(spark, tmp_path):
    """Commits that land DURING the audit rebase cleanly (disjoint
    files); an intervening commit touching the staged file conflicts
    and leaves the batch staged for re-audit."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(10).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.range(5).write.parquet(f"{base}/batch")
    lakelog.stage(base, "w", [{"add": "batch"}])
    # another writer lands while the audit runs
    spark.range(3).write.parquet(f"{base}/other")
    lakelog.commit(base, 1, [{"add": "other"}])
    pub = lakelog.publish_staged(base, "w")
    assert pub["version"] == 2 and pub["n_rebased"] == 1
    assert lakelog.read_snapshot(spark, base).count() == 18
    # conflicting case: a second staged batch whose file gets
    # touched by an intervening commit
    spark.range(2).write.parquet(f"{base}/dup")
    lakelog.stage(base, "w2", [{"add": "dup"}])
    lakelog.commit(base, 3, [{"add": "dup"}])  # someone else adds it
    with pytest.raises(lakelog.CommitConflict):
        lakelog.publish_staged(base, "w2")
    # still staged — re-audit/retry is possible
    assert lakelog.staged_entry(base, "w2")["actions"] == [{"add": "dup"}]


def test_wap_abort_removes_staged_data(spark, tmp_path):
    """Aborting with remove_data vacuums the staged batch's files
    (safe — no reader ever saw them) and drops the staged entry;
    double-staging one tag raises."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(10).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.range(5).write.parquet(f"{base}/bad")
    lakelog.stage(base, "b", [{"add": "bad"}])
    with pytest.raises(lakelog.CommitConflict):
        lakelog.stage(base, "b", [{"add": "bad"}])
    res = lakelog.abort_staged(base, "b", remove_data=True)
    assert res["n_data_files_removed"] == 1
    assert not os.path.exists(os.path.join(base, "bad"))
    assert lakelog.read_snapshot(spark, base).count() == 10
    with pytest.raises(FileNotFoundError):
        lakelog.staged_entry(base, "b")


def test_hidden_partitioning_spec_evolution(spark, tmp_path):
    """Partition evolution: year-spec files and month-spec files
    coexist; a date-range predicate prunes each file under ITS OWN
    spec; a legacy add without spec info is never pruned; boundary
    intervals are half-open ([lo, hi))."""
    import datetime as dt

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    rows = [
        (1, dt.date(2020, 3, 15)), (2, dt.date(2021, 7, 1)),
        (3, dt.date(2022, 1, 31)), (4, dt.date(2022, 6, 30)),
    ]
    df = spark.createDataFrame(rows, "k int, d date")
    adds0 = lakelog.write_hidden_partitioned(
        spark, df.filter("d < DATE '2022-01-01'"), base, "by_year",
        spec_id=1, source_col="d", transform="year",
    )
    lakelog.commit(base, 0, [lakelog.spec_action(1, "d", "year"), *adds0])
    adds1 = lakelog.write_hidden_partitioned(
        spark, df.filter("d >= DATE '2022-01-01'"), base, "by_month",
        spec_id=2, source_col="d", transform="month",
    )
    # plus one legacy (spec-less) file: must always open
    spark.createDataFrame([(9, dt.date(2019, 1, 1))], "k int, d date")\
        .write.parquet(f"{base}/legacy")
    lakelog.commit(
        base, 1,
        [lakelog.spec_action(2, "d", "month"), *adds1, {"add": "legacy"}],
    )
    assert len(adds0) == 2 and len(adds1) == 2  # 2020,2021 / 01,06

    # predicate covering 2021 H2 through Jan 2022
    st = lakelog.prune_date_range(base, "2021-07-01", "2022-02-01")
    assert st["opened_by_spec"] == {1: 1, 2: 1}  # year=2021, month=2022-01
    assert st["pruned_by_spec"] == {1: 1, 2: 1}  # year=2020, month=2022-06
    assert st["n_unprunable"] == 1               # legacy always opens
    got, _ = lakelog.read_hidden_pruned(spark, base, "2021-07-01",
                                        "2022-02-01")
    keys = {
        r["k"]
        for r in got.filter(
            "d >= DATE '2021-07-01' AND d < DATE '2022-02-01'"
        ).collect()
    }
    assert keys == {2, 3}

    # half-open boundary: hi == partition start must NOT open it
    st2 = lakelog.prune_date_range(base, "2020-01-01", "2021-01-01")
    assert st2["opened_by_spec"] == {1: 1}  # only year=2020
    # time travel: at v0 the month files don't exist yet
    st3 = lakelog.prune_date_range(base, "2022-01-01", "2023-01-01",
                                   version=0)
    assert st3["opened_by_spec"] == {} and st3["n_unprunable"] == 0


def test_deletion_vectors_mor_roundtrip(spark, tmp_path):
    """Merge-on-read DELETE: positions land in a sidecar, no data
    file is rewritten, repeated deletes union into one vector, every
    version stays time-travel readable, and OPTIMIZE materializes
    the survivors and clears the vectors."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(20).selectExpr("id AS k").coalesce(1).write.parquet(
        f"{base}/f0"
    )
    spark.range(100, 110).selectExpr("id AS k").coalesce(1)\
        .write.parquet(f"{base}/f1")
    lakelog.commit(base, 0, [{"add": "f0"}, {"add": "f1"}])
    inv = {
        os.path.join(r, f): os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(base) if "_log" not in r
        for f in fs
    }
    from pyspark.sql import functions as F

    d1 = lakelog.delete_where_mor(spark, base, F.col("k") % 5 == 3)
    assert d1 == {"version": 1, "n_files_touched": 2,
                  "n_rows_deleted": 6}  # 3,8,13,18,103,108
    d2 = lakelog.delete_where_mor(spark, base, F.col("k") == 4)
    assert d2["n_files_touched"] == 1 and d2["n_rows_deleted"] == 1
    # physical pin: zero data bytes rewritten by either MOR delete
    inv2 = {
        os.path.join(r, f): os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(base)
        if "_log" not in r and "_dv" not in r
        for f in fs
    }
    assert inv2 == inv
    # time travel applies each version's own vector
    ks = lambda v: sorted(  # noqa: E731
        r["k"] for r in lakelog.read_snapshot(spark, base, v).collect()
    )
    assert ks(0) == list(range(20)) + list(range(100, 110))
    assert ks(1) == [k for k in ks(0) if k % 5 != 3]
    assert ks(2) == [k for k in ks(1) if k != 4]
    # stats-only fast path must refuse stale DV'd files
    with pytest.raises(ValueError, match="deletion vector"):
        lakelog.stats_only_agg(base, [])
    # no-op delete commits nothing
    d3 = lakelog.delete_where_mor(spark, base, F.col("k") == 99999)
    assert d3["version"] is None
    assert lakelog.latest_version(base) == 2
    # materialize: files rewritten clean, vectors gone, rows equal
    m = lakelog.materialize_deletion_vectors(spark, base)
    assert m["n_files_rewritten"] == 2
    assert ks(lakelog.latest_version(base)) == ks(2)
    active = lakelog.snapshot_actions(base)
    assert not any(a.get("dv") for a in active.values())
    # idempotent: nothing left to materialize
    assert lakelog.materialize_deletion_vectors(spark, base) == {
        "version": None, "n_files_rewritten": 0,
    }


def test_commit_idempotent_txn_dedup(tmp_path):
    """Delta txn-action semantics: a replayed (app, version) commit
    is skipped; higher versions land; independent apps don't
    interfere; the recorded high-water mark is the MAX seen."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    r0 = lakelog.commit_idempotent(base, "appA", 0, [{"add": "b0"}])
    assert r0 == {"skipped": False, "version": 0, "recorded": 0}
    # retry of batch 0: absorbed
    r0b = lakelog.commit_idempotent(base, "appA", 0, [{"add": "b0r"}])
    assert r0b["skipped"] and r0b["recorded"] == 0
    # next batch lands
    r1 = lakelog.commit_idempotent(base, "appA", 1, [{"add": "b1"}])
    assert not r1["skipped"] and r1["version"] == 1
    # a LATE replay of batch 0 after batch 1: still absorbed
    assert lakelog.commit_idempotent(base, "appA", 0, [{"add": "x"}])[
        "skipped"
    ]
    # a different app has its own sequence
    rb = lakelog.commit_idempotent(base, "appB", 0, [{"add": "c0"}])
    assert not rb["skipped"] and rb["version"] == 2
    assert lakelog.txn_version(base, "appA") == 1
    assert lakelog.txn_version(base, "appB") == 0
    assert lakelog.txn_version(base, "appC") is None
    # snapshot contains exactly the committed batches
    assert sorted(
        __import__("os").path.basename(p)
        for p in lakelog.snapshot_files(base)
    ) == ["b0", "b1", "c0"]


def test_find_orphans_only_never_referenced(spark, tmp_path):
    """Orphan = on-disk entry NO version ever referenced. A
    removed-but-once-referenced file is vacuum's job, not an orphan;
    DV sidecars and nested rels are protected."""
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(5).selectExpr("id AS k").write.parquet(f"{base}/live")
    spark.range(5).selectExpr("id AS k").write.parquet(f"{base}/gone")
    spark.range(5).selectExpr("id AS k").write.parquet(f"{base}/debris")
    lakelog.commit(base, 0, [{"add": "live"}, {"add": "gone"}])
    lakelog.commit(base, 1, [{"remove": "gone"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 2)  # makes _dv
    assert lakelog.find_orphans(base) == ["debris"]
    res = lakelog.remove_orphans(base)
    assert res["n_removed"] == 1
    import os as _os

    assert _os.path.exists(f"{base}/gone")      # vacuum's job, kept
    assert not _os.path.exists(f"{base}/debris")
    assert lakelog.find_orphans(base) == []


def test_vacuum_protects_dv_nested_and_staged(spark, tmp_path):
    """Round-7 review fix: vacuum must not reclaim DV sidecars,
    hidden-partitioned nested rels, or WAP-staged batches — only
    genuinely unreferenced-by-latest data dirs."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    adds = lakelog.write_hidden_partitioned(
        spark,
        spark.createDataFrame(
            [(1, dt.date(2020, 2, 1)), (2, dt.date(2021, 3, 1))],
            "k int, d date",
        ),
        base, "era", spec_id=1, source_col="d", transform="year",
    )
    lakelog.commit(base, 0, [lakelog.spec_action(1, "d", "year"), *adds])
    lakelog.delete_where_mor(spark, base, F.col("k") == 1)  # makes _dv
    spark.range(3).write.parquet(f"{base}/staged_batch")
    lakelog.stage(base, "w", [{"add": "staged_batch"}])
    spark.range(3).write.parquet(f"{base}/dead")
    lakelog.commit(
        base, lakelog._next_version(base), [{"add": "dead"}]
    )
    lakelog.commit(
        base, lakelog._next_version(base), [{"remove": "dead"}]
    )
    res = lakelog.vacuum(base)
    assert res["n_dirs_deleted"] == 1  # only 'dead'
    assert os.path.exists(f"{base}/_dv")
    assert os.path.exists(f"{base}/era")
    assert os.path.exists(f"{base}/staged_batch")
    assert not os.path.exists(f"{base}/dead")
    # the MOR snapshot still reads correctly after vacuum
    assert sorted(
        r["k"] for r in lakelog.read_snapshot(spark, base).collect()
    ) == [2]
    # and find_orphans does NOT flag the staged batch
    assert lakelog.find_orphans(base) == []


def test_read_snapshot_is_dv_aware_and_guards_hold(spark, tmp_path):
    """Round-7 review fix: plain read_snapshot (and thus change_feed
    and staged reads) applies deletion vectors instead of silently
    resurrecting dead rows; so does the evolved reader. The writers
    that rewrite or reference raw parquet (CoW DML, shallow clone)
    refuse DV tables with a clear error."""
    from pyspark.sql import functions as F

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k int, v string"
    ).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") % 2 == 0)
    # plain reader applies the vector
    assert sorted(
        r["k"] for r in lakelog.read_snapshot(spark, base).collect()
    ) == [1, 3, 5, 7, 9]
    # change_feed between the versions sees exactly the deletes
    feed = lakelog.change_feed(spark, base, ["k"], 0, 1)
    assert sorted(
        (r["k"], r["_change_type"]) for r in feed.collect()
    ) == [(k, "delete") for k in (0, 2, 4, 6, 8)]
    # staged-audit view applies the vector too
    spark.createDataFrame([(100, "x")], "k int, v string").write.parquet(
        f"{base}/b"
    )
    lakelog.stage(base, "w", [{"add": "b"}])
    assert sorted(
        r["k"]
        for r in lakelog.read_staged_snapshot(spark, base, "w").collect()
    ) == [1, 3, 5, 7, 9, 100]
    lakelog.abort_staged(base, "w", remove_data=True)
    # the evolved reader applies the vector too
    assert sorted(
        r["k"] for r in lakelog.read_snapshot_evolved(spark, base).collect()
    ) == [1, 3, 5, 7, 9]
    # raw-parquet writers refuse
    import pytest as _pytest

    for op in (
        lambda: lakelog.delete_where(spark, base, F.col("k") == 1),
        lambda: lakelog.merge_upsert(
            spark, base,
            spark.createDataFrame([(1, "z")], "k int, v string"), ["k"],
        ),
        lambda: lakelog.shallow_clone(base, str(tmp_path / "c")),
    ):
        with _pytest.raises(ValueError, match="deletion-vector"):
            op()


_DV_READERS = {
    "pruned": lambda spark, base: lakelog.read_snapshot_pruned(
        spark, base, "k", 5, 14
    ),
    "pruned_2d": lambda spark, base: lakelog.read_snapshot_pruned_2d(
        spark, base, {"k": (5, 14)}
    ),
    "bloom_pruned": lambda spark, base: lakelog.read_snapshot_bloom_pruned(
        spark, base, "k", 12
    ),
    "table_snapshot": lambda spark, base: lakelog.read_table_snapshot(
        spark, base, "t"
    ),
    "evolved": lambda spark, base: lakelog.read_snapshot_evolved(
        spark, base
    ),
    "mapped": lambda spark, base: lakelog.read_snapshot_mapped(spark, base),
}


@pytest.mark.parametrize("reader", sorted(_DV_READERS))
def test_every_snapshot_reader_applies_deletion_vectors(
    spark, tmp_path, reader
):
    """After a merge-on-read delete each snapshot reader returns its
    DV-free answer minus the dead keys, and the pruned readers keep
    the same (total, scanned) file counts: a DV file's write-time
    stats and bloom bits still prune soundly."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(30)], "k long, v string"
    )
    actions = []
    for i in range(3):
        path = f"{base}/t/f{i}"
        df.filter(f"k >= {10 * i} and k < {10 * i + 10}").coalesce(
            1
        ).write.parquet(path)
        actions.append(
            {
                "add": f"t/f{i}",
                "stats": lakelog.file_stats(spark, path, ["k"]),
                "bloom_k": lakelog.file_bloom(spark, path, "k"),
            }
        )
    lakelog.commit(base, 0, actions)
    lakelog.commit(
        base,
        1,
        [
            {"metaData": {"fields": [["k", "bigint"], ["v", "string"]]}},
            lakelog.mapping_action(
                [("k", "k", "bigint"), ("v", "v", "string")]
            ),
        ],
    )

    def answer():
        out = _DV_READERS[reader](spark, base)
        frame, counts = (out[0], out[1:]) if isinstance(out, tuple) else (
            out, None
        )
        return sorted(tuple(r) for r in frame.collect()), counts

    rows, counts = answer()
    dead = {k for k in range(20) if k % 3 == 0}
    res = lakelog.delete_where_mor(
        spark, base, (F.col("k") % 3 == 0) & (F.col("k") < 20)
    )
    assert (res["n_files_touched"], res["n_rows_deleted"]) == (2, len(dead))
    got, got_counts = answer()
    assert got == [r for r in rows if r[0] not in dead]
    assert len(got) < len(rows)
    assert got_counts == counts == {
        "pruned": (3, 2), "pruned_2d": (3, 2), "bloom_pruned": (3, 1),
    }.get(reader)


@pytest.mark.parametrize("dv_file", [0, 1], ids=["dv_on_f0", "dv_on_f1"])
def test_dv_read_of_mixed_schema_files(spark, tmp_path, dv_file):
    """Files that differ in columns: f0 has (k, a), f1 (k, a, b). A
    deletion vector on either file leaves the snapshot's schema the
    one a DV-free read infers ([k, a], from the first file), and the
    evolved reader still merges every column. Scanning the DV files
    apart from the rest once gave each part its own schema and broke
    their union."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, 10 * k) for k in range(6)], "k long, a long"
    ).coalesce(1).write.parquet(f"{base}/f0")
    spark.createDataFrame(
        [(k, 10 * k, f"b{k}") for k in range(6, 12)],
        "k long, a long, b string",
    ).coalesce(1).write.parquet(f"{base}/f1")
    lakelog.commit(base, 0, [{"add": "f0"}, {"add": "f1"}])
    lakelog.commit(
        base,
        1,
        [{"metaData": {"fields": [
            ["k", "bigint"], ["a", "bigint"], ["b", "string"],
        ]}}],
    )
    plain = lakelog.read_snapshot(spark, base)
    assert plain.columns == ["k", "a"] and plain.count() == 12
    dead = 2 + 6 * dv_file
    lakelog.delete_where_mor(spark, base, F.col("k") == dead)
    live = [k for k in range(12) if k != dead]
    snap = lakelog.read_snapshot(spark, base)
    assert snap.columns == ["k", "a"]
    assert sorted(tuple(r) for r in snap.collect()) == [
        (k, 10 * k) for k in live
    ]
    evolved = lakelog.read_snapshot_evolved(spark, base)
    assert evolved.columns == ["k", "a", "b"]
    assert sorted(
        (r.k, r.b) for r in evolved.collect()
    ) == [(k, f"b{k}" if k >= 6 else None) for k in live]


def test_publish_staged_retry_is_idempotent(spark, tmp_path):
    """Round-7 review fix: a crash between the publish commit and
    the staged-entry removal must make retry a no-op returning the
    published version — not a spurious CommitConflict against the
    batch's own commit."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.range(5).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.range(5).write.parquet(f"{base}/batch")
    lakelog.stage(base, "w", [{"add": "batch"}])
    entry = lakelog.staged_entry(base, "w")
    first = lakelog.publish_staged(base, "w")
    assert first["version"] == 1
    # simulate the crash: restore the staged entry post-commit
    lakelog.stage(base, "w", entry["actions"]) if False else None
    import json as _json

    with open(
        os.path.join(base, "_log", "_staged", "w.json"), "w"
    ) as f:
        _json.dump(entry, f)
    retry = lakelog.publish_staged(base, "w")
    assert retry["version"] == 1 and retry.get("already_published")
    assert lakelog.latest_version(base) == 1  # no duplicate commit
    with pytest.raises(FileNotFoundError):
        lakelog.staged_entry(base, "w")


def test_prune_date_range_identity_spec_unprunable(spark, tmp_path):
    """Round-7 review fix: identity-transform files (no date
    interval) count as unprunable and always open instead of
    raising."""
    import datetime as dt

    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    adds = lakelog.write_hidden_partitioned(
        spark,
        spark.createDataFrame(
            [(1, dt.date(2020, 2, 1), 7)], "k int, d date, b int"
        ),
        base, "by_year", spec_id=1, source_col="d", transform="year",
    )
    adds2 = lakelog.write_hidden_partitioned(
        spark,
        spark.createDataFrame(
            [(2, dt.date(2021, 2, 1), 9)], "k int, d date, b int"
        ),
        base, "by_bucket", spec_id=2, source_col="b",
        transform="identity",
    )
    lakelog.commit(
        base, 0,
        [lakelog.spec_action(1, "d", "year"),
         lakelog.spec_action(2, "b", "identity"), *adds, *adds2],
    )
    st = lakelog.prune_date_range(base, "2020-01-01", "2021-01-01")
    assert st["opened_by_spec"] == {1: 1}
    assert st["n_unprunable"] == 1  # the identity file always opens
    got, _ = lakelog.read_hidden_pruned(
        spark, base, "2020-01-01", "2021-01-01"
    )
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_checkpoint_carries_txn_high_water_marks(tmp_path):
    """Round-7 extension: log checkpoints consolidate per-app txn
    high-water marks, so the exactly-once check answers from the
    newest checkpoint + tail. The O(1) claim is PHYSICAL: every
    pre-checkpoint commit file is DELETED and txn_version still
    answers correctly for apps that wrote only before the
    checkpoint."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    lakelog.commit_idempotent(base, "appA", 0, [{"add": "a0"}])
    lakelog.commit_idempotent(base, "appA", 1, [{"add": "a1"}])
    lakelog.commit_idempotent(base, "appB", 5, [{"add": "b0"}])
    ck = lakelog.write_checkpoint(base)
    assert ck["n_txn_apps"] == 2
    # appB keeps writing after the checkpoint
    lakelog.commit_idempotent(base, "appB", 6, [{"add": "b1"}])
    # burn every pre-checkpoint commit: answers can only come from
    # the checkpoint (+ the one tail commit)
    for v in range(ck["version"] + 1):
        os.remove(os.path.join(base, "_log", f"{v:08d}.json"))
    assert lakelog.txn_version(base, "appA") == 1   # checkpoint only
    assert lakelog.txn_version(base, "appB") == 6   # tail wins
    assert lakelog.txn_version(base, "appC") is None
    # a replayed pre-checkpoint batch is still absorbed
    r = lakelog.commit_idempotent(base, "appA", 1, [{"add": "a1r"}])
    assert r["skipped"]
    # and the snapshot replay (checkpoint + tail) is intact
    assert sorted(
        os.path.basename(p) for p in lakelog.snapshot_files(base)
    ) == ["a0", "a1", "b0", "b1"]
    # orphan detection reads checkpoint + tail as well: the live
    # files (put on disk here) stay referenced, debris does not
    for rel in ("a0", "a1", "b0", "b1", "debris"):
        os.makedirs(os.path.join(base, rel))
    assert lakelog.find_orphans(base) == ["debris"]
    # a SECOND checkpoint consolidates checkpoint-first (its marks
    # merge the first checkpoint's with the tail — the deleted
    # pre-checkpoint commits are never needed again) and the merged
    # high-water marks survive into it
    ck2 = lakelog.write_checkpoint(base)
    assert ck2["n_txn_apps"] == 2
    import json as _json

    with open(
        os.path.join(
            base, "_log", f"{ck2['version']:08d}.checkpoint.json"
        )
    ) as f:
        marks = next(
            e["txns"] for e in _json.load(f) if "txns" in e
        )
    assert marks == {"appA": 1, "appB": 6}


# ---------------------------------------------------------------------------
# Round 8: DV-aware OPTIMIZE (purge-on-compact), stats-based sizing,
# executor-side DV construction, sidecar reclamation, atomic staging
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, name="t"):
    """3-file table, keys 0..29, MOR-deletes hitting f0 and f2."""
    from pyspark.sql import functions as F

    base = str(tmp_path / name)
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, (i * 10 + j) * 2) for j in range(10)],
            "k long, v long",
        ).coalesce(1).write.parquet(f"{base}/f{i}")
    lakelog.commit(
        base, 0, [{"add": f"f{i}"} for i in range(3)]
    )
    lakelog.delete_where_mor(spark, base, F.col("k").isin(3, 8, 24))
    return base


def test_optimize_compact_purges_dvs(spark, tmp_path):
    """Compacting a DV'd table applies the vectors IN the rewrite
    (one pass) — same rows as materialize-then-compact on a twin,
    with half the rewrite commits; the compaction commit is marked
    data_change false; vacuum then reclaims the dead sidecars."""
    base = _dv_table(spark, tmp_path, "one_pass")
    twin = _dv_table(spark, tmp_path, "two_pass")

    st = lakelog.optimize_compact(spark, base)
    assert st["n_files_compacted"] == 3 and st["n_dvs_purged"] == 2
    lakelog.materialize_deletion_vectors(spark, twin)
    lakelog.optimize_compact(spark, twin)
    one = sorted(
        (r.k, r.v) for r in lakelog.read_snapshot(spark, base).collect()
    )
    two = sorted(
        (r.k, r.v) for r in lakelog.read_snapshot(spark, twin).collect()
    )
    assert one == two and all(k not in (3, 8, 24) for k, _ in one)
    # one-pass wrote ONE rewrite commit where the twin wrote two
    assert lakelog.latest_version(base) == 2
    assert lakelog.latest_version(twin) == 3
    # no DV references survive compaction; vacuum reclaims sidecars
    assert not any(
        a.get("dv") for a in lakelog.snapshot_actions(base).values()
    )
    vst = lakelog.vacuum(base)
    assert vst["n_dv_sidecars_deleted"] >= 1
    assert os.listdir(os.path.join(base, "_dv")) == []
    # the compaction commit carries data_change: false throughout
    with open(os.path.join(base, "_log", "00000002.json")) as f:
        acts = json.load(f)
    assert acts and all(a.get("data_change") is False for a in acts)


def test_optimize_compact_sizes_from_log_stats(spark, tmp_path):
    """With num_records in every add action, sizing is metadata-only:
    the whole OPTIMIZE plans exactly ONE Spark job (the rewrite),
    regardless of file count; stats-less tables fall back to ONE
    grouped scan, never a per-file count() loop."""
    base = str(tmp_path / "t")
    n_files = 6
    actions = []
    for i in range(n_files):
        n = 2 if i < 5 else 50
        spark.createDataFrame(
            [(i * 100 + j,) for j in range(n)], "k long"
        ).coalesce(1).write.parquet(f"{base}/f{i}")
        actions.append({"add": f"f{i}", "num_records": n})
    lakelog.commit(base, 0, actions)
    sc = spark.sparkContext
    sc.setJobGroup("opt_stats", "optimize sizing probe")
    st = lakelog.optimize_compact(spark, base, max_small_rows=10)
    sc.setJobGroup("idle", "")
    assert st["n_files_compacted"] == 5
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "opt_stats"
    )
    assert len(jobs) <= 2, f"stats-sized OPTIMIZE planned {len(jobs)} jobs"
    # the compacted add carries the summed live num_records forward
    active = lakelog.snapshot_actions(base)
    rel = next(r for r in active if r.startswith("compact_"))
    assert active[rel]["num_records"] == 10
    # fallback path: stats-less table → ONE grouped scan + write,
    # never a per-file count() loop: job count must not scale with
    # file count (12 files would be >= 13 jobs under the old loop)
    base2 = str(tmp_path / "t2")
    n2 = 12
    for i in range(n2):
        spark.createDataFrame([(j,) for j in range(3)], "k long")\
            .coalesce(1).write.parquet(f"{base2}/f{i}")
    lakelog.commit(base2, 0, [{"add": f"f{i}"} for i in range(n2)])
    sc.setJobGroup("opt_scan", "optimize fallback probe")
    st2 = lakelog.optimize_compact(spark, base2, max_small_rows=10)
    sc.setJobGroup("idle", "")
    assert st2["n_files_compacted"] == n2
    jobs2 = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "opt_scan"
    )
    assert len(jobs2) <= 6, f"fallback OPTIMIZE planned {len(jobs2)} jobs"


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number
    of Spark jobs the group saw."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def four_rels(spark, tmp_path_factory):
    """``four_rels(base)`` makes ``base`` a table of four Spark-written
    single-file rels of 50 rows, ``f{i}`` holding keys
    ``i*100 .. i*100+49``, added with ``num_records`` in commit 0:
    a copy of one template, so each table costs no Spark job."""
    import shutil

    template = str(tmp_path_factory.mktemp("four_rels") / "t")
    acts = []
    for i in range(4):
        spark.createDataFrame(
            [(i * 100 + j, j) for j in range(50)], "k long, c long"
        ).coalesce(1).write.parquet(f"{template}/f{i}")
        acts.append({"add": f"f{i}", "num_records": 50})
    lakelog.commit(template, 0, acts)

    def make(base):
        shutil.copytree(template, base)
        return base

    return make


def test_dml_adds_carry_num_records_so_maybe_optimize_reads_the_log(
    spark, tmp_path, four_rels
):
    """merge_upsert and delete_where record ``num_records`` on the adds
    they write (from the written footers), so maybe_optimize sizes
    every file from the log: over its file threshold with fewer than
    two small files it plans no Spark job, and a compaction plans only
    the rewrite: its read takes the schema from the footer memo."""
    from pyspark.sql import functions as F

    base = four_rels(str(tmp_path / "t"))
    lakelog.merge_upsert(
        spark, base,
        spark.createDataFrame([(1, 9), (999, 9)], "k long, c long"),
        ["k"], cdf=True,
    )
    lakelog.delete_where(spark, base, F.col("k") == 205, cdf=True)
    active = lakelog.snapshot_actions(base)
    assert {r: a.get("num_records") for r, a in active.items()} == {
        "f1": 50, "f3": 50, "merge_00000001": 51, "delete_00000002": 49,
    }
    res, n_jobs = _jobs_in(
        spark, "opt_idle",
        lambda: lakelog.maybe_optimize(spark, base, 2, 10),
    )
    assert res["triggered"] and res["n_files_compacted"] == 0
    assert n_jobs == 0
    res, n_jobs = _jobs_in(
        spark, "opt_run",
        lambda: lakelog.maybe_optimize(spark, base, 2, 60),
    )
    assert res["n_files_compacted"] == 4
    assert n_jobs == 1  # the rewrite alone: the read infers nothing
    [(rel, action)] = lakelog.snapshot_actions(base).items()
    assert action["num_records"] == 200
    assert lakelog.read_snapshot(spark, base).count() == 200


def _churned_table(spark, base):
    """A Spark-written lake table after a CDF merge, a CDF delete and
    an append (commits 1-3)."""
    from pyspark.sql import functions as F

    for i in range(3):
        spark.createDataFrame(
            [(i * 100 + j, j) for j in range(20)], "k long, c long"
        ).coalesce(1).write.parquet(f"{base}/f{i}")
    lakelog.commit(base, 0, [{"add": f"f{i}"} for i in range(3)])
    src = spark.createDataFrame(
        [(105, -1), (900, -2)], "k long, c long"
    )
    lakelog.merge_upsert(spark, base, src, ["k"], cdf=True)
    lakelog.delete_where(spark, base, F.col("k") == 203, cdf=True)
    spark.createDataFrame([(700, 7)], "k long, c long").write.parquet(
        f"{base}/app_3"
    )
    lakelog.commit(base, 3, [{"add": "app_3"}])
    return src


def test_lake_reads_plan_no_job_and_merge_drops_its_inference_jobs(
    spark, tmp_path, monkeypatch
):
    """Snapshot, time-travel and change-feed reads over a merge, a
    delete and an append plan no Spark job; a CDF merge on a warm
    table plans 3 jobs fewer than the same merge whose reads each
    infer their schema (its snapshot, survivor and pre-image reads)."""
    import shutil

    base = str(tmp_path / "t")
    src = _churned_table(spark, base)
    for name, build in (
        ("latest", lambda: lakelog.read_snapshot(spark, base)),
        ("travel", lambda: lakelog.read_snapshot(spark, base, 1)),
        ("changes", lambda: lakelog.table_changes(spark, base, 0, 3)),
    ):
        df, n_jobs = _jobs_in(spark, f"lake_read_{name}", build)
        assert n_jobs == 0, name
    assert sorted(
        r["k"] for r in lakelog.table_changes(spark, base, 0, 3).collect()
    ) == [105, 105, 203, 700, 900]
    twin = str(tmp_path / "twin")
    shutil.copytree(base, twin)
    _, n_scan = _jobs_in(
        spark, "merge_scan",
        lambda: lakelog.merge_upsert(spark, base, src, ["k"], cdf=True),
    )
    monkeypatch.setattr(
        lakelog, "scan",
        lambda spark, paths, merge_schema=False: spark.read.parquet(*paths),
    )
    _, n_infer = _jobs_in(
        spark, "merge_infer",
        lambda: lakelog.merge_upsert(spark, twin, src, ["k"], cdf=True),
    )
    assert n_infer - n_scan == 3


def _merge(spark, base, cdf):
    src = spark.createDataFrame([(1, 9), (999, 9)], "k long, c long")
    return lakelog.merge_upsert(spark, base, src, ["k"], cdf=cdf)


def _delete(spark, base, cdf):
    from pyspark.sql import functions as F

    return lakelog.delete_where(spark, base, F.col("k") == 205, cdf=cdf)


def _apply(spark, base, cdf):
    feed = spark.createDataFrame(
        [(2, 7, "U"), (1000, 7, "I"), (105, None, "D")],
        "k long, c long, op string",
    )
    return lakelog.apply_cdc(spark, base, feed, ["k"], cdf=cdf)


@pytest.mark.parametrize(
    "write,cdf,bound",
    [
        (_merge, False, 6),
        (_merge, True, 10),
        (_delete, False, 3),
        (_delete, True, 4),
        (_apply, False, 6),
        (_apply, True, 12),
    ],
    ids=lambda v: getattr(v, "__name__", str(v)).lstrip("_"),
)
def test_dml_writer_job_counts(
    spark, tmp_path, four_rels, write, cdf, bound
):
    """Each copy-on-write writer, on a warm session, plans no more
    Spark jobs than it takes to prune, rewrite and record its change
    feed on four single-file rels (apply_cdc planned 7 and 14 before
    its change keys were staged)."""
    write(spark, four_rels(str(tmp_path / "warm")), cdf)
    base = four_rels(str(tmp_path / "t"))
    group = f"dml_{write.__name__}_{cdf}_{os.path.basename(tmp_path)}"
    _, n_jobs = _jobs_in(spark, group, lambda: write(spark, base, cdf))
    assert n_jobs <= bound


@pytest.mark.parametrize("cdf", [False, True], ids=["plain", "cdf"])
def test_dml_commit_json(spark, tmp_path, four_rels, cdf):
    """merge → delete → apply_cdc → a merge that touches no file:
    each commit's actions are removes, the add with its
    ``num_records``, the cdc record and the op stamp, in that order
    (apply_cdc stamps none); with ``cdf`` the records say what each
    write did."""
    base = four_rels(str(tmp_path / "t"))
    _merge(spark, base, cdf)  # k=1 (f0) updated, 999 inserted
    _delete(spark, base, cdf)  # k=205 (f2)
    feed = spark.createDataFrame(
        [(2, 7, "U"), (1000, 7, "I"), (3, None, "D")],
        "k long, c long, op string",
    )
    lakelog.apply_cdc(spark, base, feed, ["k"], cdf=cdf)  # merge rel
    new = spark.createDataFrame([(5000, 1), (5001, 2)], "k long, c long")
    lakelog.merge_upsert(spark, base, new, ["k"], cdf=cdf)

    def cdc(v):
        return [{"cdc": f"_cdc/cdc_{v:08d}"}] if cdf else []

    assert [lakelog.commit_actions(base, v) for v in range(5)] == [
        [{"add": f"f{i}", "num_records": 50} for i in range(4)],
        [{"remove": "f0"}, {"add": "merge_00000001", "num_records": 51}]
        + cdc(1) + [{"op": "MERGE"}],
        [{"remove": "f2"}, {"add": "delete_00000002", "num_records": 49}]
        + cdc(2) + [{"op": "DELETE"}],
        [{"remove": "merge_00000001"},
         {"add": "cdc_00000003", "num_records": 51}] + cdc(3),
        [{"add": "merge_00000004", "num_records": 2}]
        + cdc(4) + [{"op": "MERGE"}],
    ]
    if cdf:
        got = sorted(
            (r._commit_version, r.k, r._change_type)
            for r in lakelog.table_changes(spark, base, 0, 4).collect()
        )
        assert got == [
            (1, 1, "update_postimage"), (1, 1, "update_preimage"),
            (1, 999, "insert"),
            (2, 205, "delete"),
            (3, 2, "update_postimage"), (3, 2, "update_preimage"),
            (3, 3, "delete"), (3, 1000, "insert"),
            (4, 5000, "insert"), (4, 5001, "insert"),
        ]


@pytest.mark.parametrize("mode", ["cow", "cow_cdf", "mor"])
def test_delete_where_keeps_rows_whose_condition_is_null(
    spark, tmp_path, mode
):
    """A DELETE keeps the rows its predicate cannot decide: copy-on-
    write (with or without a change record) and merge-on-read agree,
    and the change feed records only the row that was deleted."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    cond = F.col("v") > 20
    if mode == "mor":
        lakelog.delete_where_mor(spark, base, cond)
    else:
        lakelog.delete_where(spark, base, cond, cdf=mode == "cow_cdf")
    assert sorted(
        tuple(r) for r in lakelog.read_snapshot(spark, base).collect()
    ) == [(1, 10), (2, None)]
    if mode == "cow_cdf":
        assert [
            tuple(r)
            for r in lakelog.table_changes(spark, base, 0, 1).collect()
        ] == [(3, 30, "delete", 1)]


def test_apply_cdc_row_with_null_op_upserts(spark, tmp_path):
    """A change row whose op is NULL is not a delete, so it upserts:
    its key's old row is replaced, not dropped, and the change record
    says so."""
    t = _build(spark, tmp_path)
    feed = spark.createDataFrame(
        [(1, 111, None), (2, None, "D")], "k long, v long, op string"
    )
    lakelog.apply_cdc(spark, t, feed, ["k"], cdf=True)
    assert _state(spark, t) == sorted(
        [(k, k * 10) for k in range(8) if k not in (1, 2)] + [(1, 111)]
    )
    assert sorted(
        (r.k, r.v, r._change_type)
        for r in lakelog.table_changes(spark, t, 0, 1).collect()
    ) == [
        (1, 10, "update_preimage"),
        (1, 111, "update_postimage"),
        (2, 20, "delete"),
    ]


def test_minus_ids_and_constrained_append_adds_carry_num_records(
    spark, tmp_path, four_rels
):
    """rewrite_minus_ids and constrained_append record ``num_records``
    on the adds they write, so maybe_optimize sizes their files from
    the log: below two small files it plans no Spark job."""
    base = four_rels(str(tmp_path / "t"))
    gone = spark.createDataFrame([(1,), (102,)], "__gone long")
    rel = lakelog.rewrite_minus_ids(spark, base, gone, "k")["rel"]
    assert {
        r: a.get("num_records")
        for r, a in lakelog.snapshot_actions(base).items()
    } == {rel: 198}
    batch = spark.createDataFrame(
        [(900 + i, i) for i in range(3)], "k long, c long"
    )
    lakelog.constrained_append(spark, base, batch, "app")
    assert lakelog.snapshot_actions(base)["app"]["num_records"] == 3
    res, n_jobs = _jobs_in(
        spark, f"minus_append_{os.path.basename(tmp_path)}",
        lambda: lakelog.maybe_optimize(spark, base, 1, 2),
    )
    assert res["triggered"] and res["n_files_compacted"] == 0
    assert n_jobs == 0


def _two_column_set_rels(spark, base):
    """Rel ``b`` (k, extra) and rel ``a`` (k, a_only), NOT NULL columns
    as Spark writes them; returns their paths in first-added order,
    which is not path order."""
    for rel, other in (("b", "extra"), ("a", "a_only")):
        spark.createDataFrame(
            [(1, 2)], f"k long not null, {other} long not null"
        ).coalesce(1).write.parquet(f"{base}/{rel}")
    return [f"{base}/b", f"{base}/a"]


def test_scan_schema_is_sparks_inferred_one(spark, tmp_path):
    """``scan`` answers with the schema Spark infers for the same
    paths: the path-sorted first file's, made nullable — not the
    first-added rel's."""
    base = str(tmp_path / "t")
    paths = _two_column_set_rels(spark, base)
    want = spark.read.parquet(*paths)
    got = lakelog.scan(spark, paths)
    assert got.schema == want.schema
    # the schema scan hands the reader, before Spark's own nullability
    first = lakelog._first_data_file(paths)
    assert parquet_schema(spark, first) == want.schema
    assert got.columns == ["k", "a_only"]
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
    lakelog.commit(base, 0, [{"add": "b"}, {"add": "a"}])
    assert lakelog.read_snapshot(spark, base).schema == want.schema


def test_scan_merges_under_the_merge_schema_conf(spark, tmp_path):
    base = str(tmp_path / "t")
    paths = _two_column_set_rels(spark, base)
    key = "spark.sql.parquet.mergeSchema"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = lakelog.scan(spark, paths).schema
    finally:
        spark.conf.set(key, before)
    assert got == spark.read.option("mergeSchema", "true").parquet(
        *paths
    ).schema
    assert sorted(got.names) == ["a_only", "extra", "k"]


def test_lakelog_reads_parquet_only_through_scan():
    """Every read of lake data goes through ``scan`` (no inference
    job): a ``<x>.read[...].parquet(`` call anywhere else in the
    module fails this test."""
    import ast
    import pathlib

    src = pathlib.Path(lakelog.__file__).read_text()
    tree = ast.parse(src)
    scan_def = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "scan"
    )

    def reads(call: ast.Call) -> bool:
        node = call.func
        if not (isinstance(node, ast.Attribute) and node.attr == "parquet"):
            return False
        node = node.value
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    hits = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and reads(n)
        and not scan_def.lineno <= n.lineno <= scan_def.end_lineno
    ]
    assert not hits, f"read lake parquet through scan(): lines {hits}"


def test_row_positions_only_through_join_positions():
    """Row positions have one owner: ``_metadata.`` (the scan's hidden
    file path and row index) appears in the module only inside
    ``_join_positions``; and only the writers that rewrite or
    reference raw parquet still refuse deletion vectors — every
    snapshot reader applies them through ``_read_active``. The
    copy-on-write DML writers share one such path."""
    import ast
    import pathlib

    src = pathlib.Path(lakelog.__file__).read_text()
    tree = ast.parse(src)
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    helper = next(n for n in defs if n.name == "_join_positions")
    hits = [
        i
        for i, line in enumerate(src.splitlines(), 1)
        if "_metadata." in line
        and not helper.lineno <= i <= helper.end_lineno
    ]
    assert not hits, f"tag row positions in _join_positions: lines {hits}"

    def callers(name):
        return {
            d.name
            for d in defs
            for n in ast.walk(d)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == name
        }

    assert callers("_assert_no_dv") == {"_copy_on_write", "shallow_clone"}
    # one copy-on-write path: the DML writers prune, rewrite, record
    # and commit only through _copy_on_write
    assert callers("_write_cdc") == {"_copy_on_write", "restore_table"}
    dml = {"merge_upsert", "delete_where", "apply_cdc"}
    for name in ("scan", "_rel_file_expr", "commit"):
        assert not callers(name) & dml, name


def test_vacuum_folds_the_retention_window_once(tmp_path, monkeypatch):
    """vacuum protects the union of the window's active sets — the
    same rels and DV sidecars as replaying every retained version —
    while opening each commit file at most once, with a checkpoint
    inside the window."""
    from collections import Counter

    base = str(tmp_path / "t")
    commits = [
        [{"add": "a"}, {"add": "b"}],
        [{"add": "c"}, {"remove": "a"}],
        [{"add": "b", "dv": "_dv/b.v2.json"}],
        [{"add": "d"}, {"remove": "c"}],
        [{"add": "e"}, {"remove": "b"}],
        [{"add": "d", "dv": "_dv/d.v5.json"}, {"add": "f/p=1"}],
        [{"remove": "e"}],
    ]
    for v, actions in enumerate(commits):
        lakelog.commit(base, v, actions)
    lakelog.write_checkpoint(base, 4)
    for rel in ("a", "b", "c", "d", "e", "f/p=1", "z"):
        os.makedirs(os.path.join(base, rel, "part-0"))
    os.makedirs(os.path.join(base, "_dv"))
    for dv in ("b.v2.json", "d.v5.json", "stale.json"):
        with open(os.path.join(base, "_dv", dv), "w") as f:
            f.write("{}")
    head, window = 6, 4
    want_rels: set[str] = set()
    want_dv: set[str] = set()
    for v in range(head - window, head + 1):  # replay every version
        active = lakelog.snapshot_actions(base, v)
        want_rels |= {r.split("/", 1)[0] for r in active}
        want_dv |= {a["dv"] for a in active.values() if a.get("dv")}
    assert want_rels == {"b", "c", "d", "e", "f"}
    assert want_dv == {"_dv/b.v2.json", "_dv/d.v5.json"}
    opened: Counter = Counter()
    real = lakelog.commit_actions

    def counted(table_dir, version):
        opened[version] += 1
        return real(table_dir, version)

    monkeypatch.setattr(lakelog, "commit_actions", counted)
    res = lakelog.vacuum(base, retain_versions=window)
    assert opened and max(opened.values()) == 1, opened
    kept = {
        e for e in os.listdir(base) if e not in ("_log", "_dv")
    }
    assert kept == want_rels
    assert {f"_dv/{f}" for f in os.listdir(f"{base}/_dv")} == want_dv
    assert res["n_dirs_deleted"] == 2  # a and z
    assert res["n_dv_sidecars_deleted"] == 1


def test_delete_where_all_rows_of_touched_files_leaves_no_rel(
    spark, tmp_path
):
    """A copy-on-write delete that empties every touched file commits
    their removal with no replacement add, and leaves no rewrite
    directory behind."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    for i in range(2):
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(3)], "k long"
        ).coalesce(1).write.parquet(f"{base}/f{i}")
    lakelog.commit(base, 0, [{"add": "f0"}, {"add": "f1"}])
    res = lakelog.delete_where(spark, base, F.col("k") < 10)
    assert res["n_files_touched"] == 1 and res["n_files_rewritten"] == 0
    assert list(lakelog.snapshot_actions(base)) == ["f1"]
    assert not os.path.exists(os.path.join(base, "delete_00000001"))


def test_delete_where_mor_driver_traffic_per_file(spark, tmp_path, monkeypatch):
    """The round-8 executor-side DV build: delete_where_mor's collect
    returns one row PER PHYSICAL FILE (positions pre-grouped and
    sorted executor-side), not one row per deleted row."""
    from pyspark.sql import functions as F

    # patch the CONCRETE class (Spark 4's classic session returns a
    # subclass that overrides collect — patching the base misses it)
    DataFrame = type(spark.range(1))

    base = str(tmp_path / "t")
    for i in range(2):
        spark.createDataFrame(
            [(i * 100 + j,) for j in range(100)], "k long"
        ).coalesce(1).write.parquet(f"{base}/f{i}")
    lakelog.commit(base, 0, [{"add": "f0"}, {"add": "f1"}])

    sizes: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    st = lakelog.delete_where_mor(spark, base, F.col("k") % 2 == 0)
    monkeypatch.undo()
    assert st["n_rows_deleted"] == 100 and st["n_files_touched"] == 2
    assert sizes and max(sizes) <= 2, (
        f"driver collected {max(sizes)} rows — not O(files)"
    )
    ks = sorted(r.k for r in lakelog.read_snapshot(spark, base).collect())
    assert ks == [k for k in list(range(100)) + list(range(100, 200))
                  if k % 2 == 1]


def test_vacuum_reclaims_superseded_dv_sidecars(spark, tmp_path):
    """Repeated MOR deletes supersede sidecars; only the newest per
    file is referenced — vacuum deletes the dead ones and keeps the
    live one; after materialize it reclaims the rest."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.range(30).selectExpr("id AS k").coalesce(1).write.parquet(
        f"{base}/f0"
    )
    lakelog.commit(base, 0, [{"add": "f0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 1)
    lakelog.delete_where_mor(spark, base, F.col("k") == 2)
    assert len(os.listdir(os.path.join(base, "_dv"))) == 2
    vst = lakelog.vacuum(base)
    assert vst["n_dv_sidecars_deleted"] == 1
    live = os.listdir(os.path.join(base, "_dv"))
    assert len(live) == 1 and "v00000002" in live[0]
    # the live vector still applies after the reclaim
    ks = sorted(r.k for r in lakelog.read_snapshot(spark, base).collect())
    assert ks == [k for k in range(30) if k not in (1, 2)]
    lakelog.materialize_deletion_vectors(spark, base)
    assert lakelog.vacuum(base)["n_dv_sidecars_deleted"] == 1
    assert os.listdir(os.path.join(base, "_dv")) == []


def test_stage_atomic_and_unparseable_staged_skipped(spark, tmp_path):
    """stage() lands atomically (no tmp debris, full content); a
    truncated staged entry from a pre-fix crash no longer turns
    vacuum / find_orphans into a JSONDecodeError outage."""
    base = str(tmp_path / "t")
    spark.range(3).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    lakelog.stage(base, "good", [{"add": "b1"}])
    staged = os.path.join(base, "_log", "_staged")
    assert sorted(os.listdir(staged)) == ["good.json"]  # no tmp left
    with pytest.raises(lakelog.CommitConflict, match="already staged"):
        lakelog.stage(base, "good", [{"add": "b2"}])
    # simulate pre-fix crash debris: a truncated entry
    with open(os.path.join(staged, "crashed.json"), "w") as f:
        f.write('{"base_version": 0, "actions": [{"ad')
    assert lakelog.find_orphans(base) == []
    st = lakelog.vacuum(base)
    assert st["n_dirs_kept"] == 1


def test_read_hidden_pruned_is_dv_aware(spark, tmp_path):
    """A hidden-partitioned table that received a MOR delete must not
    resurrect dead rows through the pruned read path (round-8 review
    fix — every other raw-read path already guarded or applied)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, dt.date(1996 + i % 2, 3, 1 + i)) for i in range(10)],
        "k long, d date",
    )
    actions = lakelog.write_hidden_partitioned(
        spark, df, base, "era_year", 1, "d", "year"
    )
    lakelog.commit(
        base, 0, [lakelog.spec_action(1, "d", "year"), *actions]
    )
    lakelog.delete_where_mor(spark, base, F.col("k") % 2 == 0)
    out, stats = lakelog.read_hidden_pruned(
        spark, base, "1996-01-01", "1998-01-01"
    )
    ks = sorted(r.k for r in out.collect())
    assert ks == [1, 3, 5, 7, 9]
    assert stats["opened_by_spec"] == {1: 2}


# ---------------------------------------------------------------------------
# Round 8: change data feed served per commit (table_changes)
# ---------------------------------------------------------------------------


def _cdf_fixture(spark, tmp_path):
    """Seed + cdf-merge + cdf-delete + MOR-delete + append + optimize:
    every commit class the CDF reader must handle."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, k * 10) for k in range(10)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    src = spark.createDataFrame(
        [(1, 12), (2, 22), (100, 1000)], "k long, c long"
    )
    lakelog.merge_upsert(spark, base, src, ["k"], cdf=True)  # v1
    lakelog.delete_where(spark, base, F.col("k").isin(3, 4), cdf=True)  # v2
    lakelog.delete_where_mor(spark, base, F.col("k").isin(5, 6))  # v3
    spark.createDataFrame([(200, 2000)], "k long, c long")\
        .coalesce(1).write.parquet(f"{base}/s4")
    lakelog.commit(base, 4, [{"add": "s4"}])
    lakelog.materialize_deletion_vectors(spark, base)  # v5: layout only
    lakelog.optimize_compact(spark, base)  # v6: layout only
    return base


_CDF_EXPECT = sorted(
    [(k, k * 10, "insert", 0) for k in range(10)]
    + [(1, 10, "update_preimage", 1), (1, 12, "update_postimage", 1),
       (2, 20, "update_preimage", 1), (2, 22, "update_postimage", 1),
       (100, 1000, "insert", 1)]
    + [(3, 30, "delete", 2), (4, 40, "delete", 2)]
    + [(5, 50, "delete", 3), (6, 60, "delete", 3)]
    + [(200, 2000, "insert", 4)]
)


def test_cdf_table_changes_per_commit(spark, tmp_path):
    """Every commit class serves correctly: appends → inserts, cdc
    records → their recorded rows, MOR deletes → sidecar-diff rows,
    layout-only commits (materialize/compact) → nothing."""
    base = _cdf_fixture(spark, tmp_path)
    got = sorted(
        (r.k, r.c, r._change_type, r._commit_version)
        for r in lakelog.table_changes(
            spark, base, -1, lakelog.latest_version(base)
        ).collect()
    )
    assert got == _CDF_EXPECT
    # sub-ranges serve independently (the streaming consumer's view)
    v2 = sorted(
        (r.k, r._change_type)
        for r in lakelog.table_changes(spark, base, 1, 2).collect()
    )
    assert v2 == [(3, "delete"), (4, "delete")]
    # layout-only range has no changes — explicit, not empty-frame
    with pytest.raises(ValueError, match="no changes"):
        lakelog.table_changes(spark, base, 4, 6)


def test_cdf_plan_refuses_underivable_commits(spark, tmp_path):
    """A CoW rewrite without a cdc record (cdf=False MERGE/DELETE)
    is not CDF-servable and must refuse, mirroring Delta's
    enableChangeDataFeed rule; a new file arriving WITH a deletion
    vector likewise."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame([(1, 1), (2, 2)], "k long, c long")\
        .coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark, base,
        spark.createDataFrame([(1, 9)], "k long, c long"), ["k"],
    )  # v1: rewrite, no cdc
    with pytest.raises(ValueError, match="without a change record"):
        lakelog.commit_change_plan(base, 1)
    # delete_where without cdf that only REMOVES files stays derivable
    base2 = str(tmp_path / "t2")
    spark.createDataFrame([(1, 1)], "k long, c long")\
        .coalesce(1).write.parquet(f"{base2}/a")
    spark.createDataFrame([(2, 2)], "k long, c long")\
        .coalesce(1).write.parquet(f"{base2}/b")
    lakelog.commit(base2, 0, [{"add": "a"}, {"add": "b"}])
    lakelog.delete_where(spark, base2, F.col("k") == 2)  # drops file b
    plan = lakelog.commit_change_plan(base2, 1)
    assert len(plan["delete_files"]) == 1 and not plan["insert_files"]
    # a brand-new add carrying a dv is not derivable
    lakelog.commit(
        base2, 2, [{"add": "ghost", "dv": "_dv/ghost.json"}]
    )
    with pytest.raises(ValueError, match="deletion vector"):
        lakelog.commit_change_plan(base2, 2)


def test_cdf_files_protected_from_vacuum_and_orphans(spark, tmp_path):
    """_cdc change records are table history: retention-0 vacuum
    must not delete them and find_orphans must not flag them."""
    base = _cdf_fixture(spark, tmp_path)
    assert lakelog.find_orphans(base) == []
    lakelog.vacuum(base)
    assert os.path.isdir(os.path.join(base, "_cdc"))
    got = sorted(
        (r.k, r.c, r._change_type, r._commit_version)
        for r in lakelog.table_changes(spark, base, 0, 2).collect()
    )
    assert [g for g in got if g[3] == 1] == [
        g for g in _CDF_EXPECT if g[3] == 1
    ]


# ---------------------------------------------------------------------------
# Round 8: column mapping (rename/drop/add as O(1) metadata)
# ---------------------------------------------------------------------------


def _inventory(base):
    return {
        os.path.join(r, f): os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(base)
        if "_log" not in r
        for f in fs
    }


def test_column_mapping_rename_drop_add_zero_rewrite(spark, tmp_path):
    """RENAME / DROP / ADD COLUMN are metadata-only: the data-file
    inventory is byte-identical across all three commits; reads
    resolve under the version's own mapping (time travel included);
    a column dropped then re-added under the same logical name reads
    NULL from old files — never the dropped bytes."""
    from etl_lens_spark.operators import lakelog

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, v long, s string"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            lakelog.mapping_action(
                [("k", "k", "long"), ("v", "v", "long"),
                 ("s", "s", "string")]
            ),
            {"add": "s0"},
        ],
    )
    inv0 = _inventory(base)
    lakelog.rename_column(base, "v", "value")  # v1
    lakelog.drop_column(base, "s")  # v2
    lakelog.add_column(base, "s", "string")  # v3: same logical name!
    assert _inventory(base) == inv0  # zero rewrites, zero new files
    # new physical name differs from the dropped one
    fields = dict(
        (logical, phys)
        for logical, phys, _ in lakelog.column_mapping(base)
    )
    assert fields["s"] != "s" and fields["value"] == "v"
    # final read: renamed column resolves, re-added 's' is NULL
    rows = sorted(
        (r.k, r.value, r.s)
        for r in lakelog.read_snapshot_mapped(spark, base).collect()
    )
    assert rows == [(1, 10, None), (2, 20, None)]
    # time travel: v0 mapping shows original names and the old bytes
    rows0 = sorted(
        (r.k, r.v, r.s)
        for r in lakelog.read_snapshot_mapped(spark, base, 0).collect()
    )
    assert rows0 == [(1, 10, "a"), (2, 20, "b")]
    # a post-rename append written physically reads under logical names
    fields_v1 = lakelog.column_mapping(base, 1)
    app = spark.createDataFrame([(3, 30, "c")], "k long, value long, s string")
    lakelog.to_physical(app, fields_v1).coalesce(1).write.parquet(
        f"{base}/s4"
    )
    lakelog.commit(base, 4, [{"add": "s4"}])
    got = sorted(
        (r.k, r.value) for r in
        lakelog.read_snapshot_mapped(spark, base).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # guard rails
    with pytest.raises(ValueError, match="already exists"):
        lakelog.rename_column(base, "k", "value")
    with pytest.raises(ValueError, match="no such column"):
        lakelog.drop_column(base, "ghost")
    with pytest.raises(ValueError, match="already exists"):
        lakelog.add_column(base, "k", "long")


def test_apply_cdc_records_outgoing_cdf(spark, tmp_path):
    """cdf=True on apply_cdc: the commit's OUTGOING change record
    reflects what the apply did (feed chaining) — existing upsert
    keys emit pre/post images, op='D' keys emit deletes, new keys
    emit inserts, and a 'D' on a nonexistent key emits nothing."""
    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    feed = spark.createDataFrame(
        [(1, 11, "U"), (2, None, "D"), (9, 90, "U"), (99, None, "D")],
        "k long, v long, op string",
    )
    st = lakelog.apply_cdc(spark, base, feed, ["k"], cdf=True)
    assert st["version"] == 1
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in lakelog.table_changes(spark, base, 0, 1).collect()
    )
    assert got == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (2, 20, "delete"),
        (9, 90, "insert"),
    ]
    # the applied snapshot agrees with the chained feed
    ks = sorted(
        (r.k, r.v) for r in lakelog.read_snapshot(spark, base).collect()
    )
    assert ks == [(1, 11), (3, 30), (9, 90)]


# ---------------------------------------------------------------------------
# Round 8: CHECK constraints and retention-aware vacuum
# ---------------------------------------------------------------------------


def test_check_constraints_enforced_on_add_and_append(spark, tmp_path):
    """ADD CONSTRAINT scans once and refuses if existing rows
    violate; a violating append is rejected BEFORE anything becomes
    visible; NULL predicate results count as violations (Delta CHECK
    semantics); drop is metadata-only and re-opens the gate."""
    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.add_constraint(spark, base, "v_pos", "v > 0")
    assert lakelog.table_constraints(base) == {"v_pos": "v > 0"}
    # an add whose rule existing data violates refuses
    with pytest.raises(lakelog.ConstraintViolation, match="existing"):
        lakelog.add_constraint(spark, base, "v_small", "v < 15")
    # violating append (one bad row) rejected atomically
    head = lakelog.latest_version(base)
    bad = spark.createDataFrame([(3, 30), (4, -1)], "k long, v long")
    with pytest.raises(lakelog.ConstraintViolation, match="v_pos"):
        lakelog.constrained_append(spark, base, bad, "s_bad")
    assert lakelog.latest_version(base) == head  # nothing committed
    assert not os.path.exists(os.path.join(base, "s_bad"))
    # NULL evaluates as a violation
    nullish = spark.createDataFrame([(5, None)], "k long, v long")
    with pytest.raises(lakelog.ConstraintViolation):
        lakelog.constrained_append(spark, base, nullish, "s_null")
    # clean append passes
    ok = spark.createDataFrame([(6, 60)], "k long, v long")
    st = lakelog.constrained_append(spark, base, ok, "s_ok")
    assert st["rel"] == "s_ok"
    # drop, then the previously-rejected batch is accepted
    lakelog.drop_constraint(base, "v_pos")
    assert lakelog.table_constraints(base) == {}
    lakelog.constrained_append(spark, base, bad, "s_bad2")
    ks = sorted(r.k for r in lakelog.read_snapshot(spark, base).collect())
    assert ks == [1, 2, 3, 4, 6]
    with pytest.raises(ValueError, match="no such constraint"):
        lakelog.drop_constraint(base, "ghost")


def test_vacuum_retention_preserves_time_travel(spark, tmp_path):
    """retain_versions keeps every file any retained snapshot
    references: time travel inside the horizon reads byte-for-byte,
    versions beyond it lose their exclusive files."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    for v in range(3):
        spark.createDataFrame(
            [(v * 10 + i,) for i in range(3)], "k long"
        ).coalesce(1).write.parquet(f"{base}/f{v}")
    lakelog.commit(base, 0, [{"add": "f0"}])
    lakelog.commit(base, 1, [{"remove": "f0"}, {"add": "f1"}])
    lakelog.commit(base, 2, [{"remove": "f1"}, {"add": "f2"}])
    st = lakelog.vacuum(base, retain_versions=1)
    # f1 (v1's file) survives the horizon; f0 (v0-only) reclaimed
    assert st["n_dirs_deleted"] == 1 and st["n_dirs_kept"] == 2
    assert sorted(
        r.k for r in lakelog.read_snapshot(spark, base, 1).collect()
    ) == [10, 11, 12]
    assert not os.path.exists(os.path.join(base, "f0"))
    # retention-0 afterwards reclaims the rest of history
    st2 = lakelog.vacuum(base)
    assert st2["n_dirs_deleted"] == 1
    assert sorted(
        r.k for r in lakelog.read_snapshot(spark, base).collect()
    ) == [20, 21, 22]


def test_metadata_consolidates_into_checkpoints(spark, tmp_path):
    """Round-8 review fix: schema / column-mapping / partition-spec /
    constraint resolution is checkpoint-first — after a checkpoint,
    pre-checkpoint commit files can be retired and every metadata
    reader still answers (physically pinned by DELETING them), and
    per-read cost is O(tail), not O(log)."""
    import datetime as dt

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, dt.date(2020, 1, 2))], "k long, v long, d date"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            {"add": "s0"},
            {"metaData": {"fields": [["k", "long"], ["v", "long"],
                                     ["d", "date"]]}},
            lakelog.mapping_action(
                [("k", "k", "long"), ("v", "v", "long"),
                 ("d", "d", "date")]
            ),
            lakelog.spec_action(1, "d", "year"),
        ],
    )
    lakelog.add_constraint(spark, base, "v_pos", "v > 0")  # v1
    lakelog.rename_column(base, "v", "value")  # v2
    lakelog.write_checkpoint(base)
    # retire every pre-checkpoint commit file (keep the newest —
    # latest_version needs one numbered file)
    lakelog.commit(base, 3, [])  # empty marker commit = new head
    for v in range(3):
        os.remove(os.path.join(base, "_log", f"{v:08d}.json"))
    assert lakelog.table_schema(base)[0] == ("k", "long")
    assert dict(
        (logical, phys)
        for logical, phys, _ in lakelog.column_mapping(base)
    )["value"] == "v"
    assert lakelog.partition_specs(base)[1]["transform"] == "year"
    assert lakelog.table_constraints(base) == {"v_pos": "v > 0"}
    # reads still work end-to-end through the consolidated state
    rows = [
        (r.k, r.value)
        for r in lakelog.read_snapshot_mapped(spark, base).collect()
    ]
    assert rows == [(1, 10)]
    # constrained appends keep enforcing from the checkpointed state
    with pytest.raises(lakelog.ConstraintViolation):
        lakelog.constrained_append(
            spark,
            base,
            spark.createDataFrame([(2, -5, dt.date(2021, 1, 1))],
                                  "k long, v long, d date"),
            "s_bad",
        )


def test_orphans_on_retired_log_keep_live_files_and_sidecars(
    spark, tmp_path
):
    """find_orphans / remove_orphans on a log whose pre-checkpoint
    commits were retired: the adds and DV sidecars of EVERY checkpoint
    stay referenced — an older checkpoint still serves time travel to
    its version, so a file removed after it must survive — and
    cleanup removes only the never-committed debris."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(f"{base}/s0")
    spark.range(10, 15).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.commit(base, 1, [{"add": "s1"}])
    lakelog.delete_where_mor(spark, base, F.col("id") == 3)  # v2
    ck1 = lakelog.write_checkpoint(base)["version"]
    lakelog.commit(base, ck1 + 1, [{"remove": "s1"}])
    ck2 = lakelog.write_checkpoint(base)["version"]
    lakelog.commit(base, ck2 + 1, [])  # new head
    for v in range(ck2 + 1):
        os.remove(os.path.join(base, "_log", f"{v:08d}.json"))
    spark.range(3).write.parquet(f"{base}/debris")
    (sidecar,) = os.listdir(os.path.join(base, "_dv"))
    assert lakelog.find_orphans(base) == ["debris"]
    assert lakelog.remove_orphans(base)["removed"] == ["debris"]
    assert sorted(os.listdir(base)) == ["_dv", "_log", "s0", "s1"]
    assert os.listdir(os.path.join(base, "_dv")) == [sidecar]
    assert sorted(
        r.id for r in lakelog.read_snapshot(spark, base).collect()
    ) == [i for i in range(10) if i != 3]
    # time travel to the older checkpoint still reads the removed file
    assert sorted(
        r.id for r in lakelog.read_snapshot(spark, base, ck1).collect()
    ) == [i for i in range(15) if i != 3]


def test_shallow_clone_carries_table_metadata(spark, tmp_path):
    """A shallow clone's v0 carries the source's folded metadata —
    schema, column mapping, partition specs and constraints — so a
    renamed column reads back under its logical name and the clone
    refuses the rows the source's constraints refuse."""
    base = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            {"add": "s0"},
            {"metaData": {"fields": [["k", "long"], ["v", "long"]]}},
            lakelog.mapping_action([("k", "k", "long"), ("v", "v", "long")]),
            lakelog.spec_action(1, "k", "identity"),
        ],
    )
    lakelog.add_constraint(spark, base, "v_pos", "v > 0")  # v1
    lakelog.rename_column(base, "v", "value")  # v2
    clone = str(tmp_path / "clone")
    assert lakelog.shallow_clone(base, clone) == {
        "n_files_referenced": 1,
        "schema_cloned": True,
    }
    assert lakelog.column_mapping(clone) == lakelog.column_mapping(base)
    assert ("value", "v", "long") in lakelog.column_mapping(clone)
    assert lakelog.partition_specs(clone) == lakelog.partition_specs(base)
    assert lakelog.partition_specs(clone)[1]["transform"] == "identity"
    assert lakelog.table_constraints(clone) == {"v_pos": "v > 0"}
    assert lakelog.table_constraints(clone) == lakelog.table_constraints(
        base
    )
    assert lakelog.table_schema(clone) == lakelog.table_schema(base)

    def rows(d):
        return sorted(
            tuple(r) for r in lakelog.read_snapshot_mapped(spark, d).collect()
        )

    assert lakelog.read_snapshot_mapped(spark, clone).columns == [
        "k", "value"
    ]
    assert rows(clone) == rows(base) == [(1, 10), (2, 20)]
    with pytest.raises(lakelog.ConstraintViolation):
        lakelog.constrained_append(
            spark,
            clone,
            spark.createDataFrame([(3, -1)], "k long, v long"),
            "s_bad",
        )


def test_shallow_clone_re_added_column_reads_null(spark, tmp_path):
    """Drop on the source, clone, then re-add the same logical name on
    the clone: the clone's log restarts at version 0, so the
    version-derived physical name would be the dropped column's — the
    re-added column must still read NULL from the source's files,
    never the dropped bytes."""
    base = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "k long").coalesce(1).write.parquet(
        f"{base}/s0"
    )
    lakelog.commit(
        base, 0, [lakelog.mapping_action([("k", "k", "long")]), {"add": "s0"}]
    )
    dropped = lakelog.add_column(base, "x", "long")["fields"][-1][1]  # v1
    spark.createDataFrame([(3, 7)], f"k long, {dropped} long").coalesce(
        1
    ).write.parquet(f"{base}/s1")
    lakelog.commit(base, 2, [{"add": "s1"}])
    lakelog.drop_column(base, "x")  # v3
    clone = str(tmp_path / "clone")
    lakelog.shallow_clone(base, clone)
    lakelog.add_column(clone, "x", "long")
    phys = dict((lg, ph) for lg, ph, _ in lakelog.column_mapping(clone))
    assert phys["x"] != dropped
    assert sorted(
        tuple(r) for r in lakelog.read_snapshot_mapped(spark, clone).collect()
    ) == [(1, None), (2, None), (3, None)]


def test_apply_cdc_cdf_same_key_delete_and_upsert_nets_update(
    spark, tmp_path
):
    """Round-8 review fix: a key carrying BOTH 'D' and an upsert in
    one feed nets to an update — the change record emits one
    pre/post pair, never a contradictory delete+preimage double."""
    base = str(tmp_path / "t")
    spark.createDataFrame([(1, 10)], "k long, v long")\
        .coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    feed = spark.createDataFrame(
        [(1, None, "D"), (1, 99, "U")], "k long, v long, op string"
    )
    lakelog.apply_cdc(spark, base, feed, ["k"], cdf=True)
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in lakelog.table_changes(spark, base, 0, 1).collect()
    )
    assert got == [
        (1, 10, "update_preimage"),
        (1, 99, "update_postimage"),
    ]


def test_apply_cdc_refuses_dv_tables(spark, tmp_path):
    """Round-8 review fix: apply_cdc reads/rewrites raw parquet —
    on a DV'd table it must refuse instead of resurrecting
    MOR-deleted rows into the table AND the change record."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, k) for k in range(6)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 5)
    feed = spark.createDataFrame([(5, 55, "U")], "k long, v long, op string")
    with pytest.raises(ValueError, match="deletion-vector"):
        lakelog.apply_cdc(spark, base, feed, ["k"], cdf=True)


def test_table_changes_relative_table_dir(spark, tmp_path):
    """Round-8 review fix: a relative table_dir must serve
    DV-derived deletes, and apply the DV on a snapshot read,
    identically to an absolute one (paths are compared against the
    absolute _metadata.file_path)."""
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, k) for k in range(6)], "k long, v long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where_mor(spark, base, F.col("k").isin(1, 3))
    cwd = _os.getcwd()
    try:
        _os.chdir(str(tmp_path))
        got = sorted(
            (r.k, r._change_type)
            for r in lakelog.table_changes(spark, "t", 0, 1).collect()
        )
    finally:
        _os.chdir(cwd)
    assert got == [(1, "delete"), (3, "delete")]
    # a read resolves a relative table_dir against the session's
    # working directory, which is this process's own here
    live = lakelog.read_snapshot(spark, _os.path.relpath(base)).collect()
    assert sorted(r.k for r in live) == [0, 2, 4, 5]


@pytest.mark.parametrize("rel", ["s0", "s 0%2B+"])
def test_dv_paths_with_space_percent_and_plus(spark, tmp_path, rel):
    """``_metadata.file_path`` is a URI (``%20``, ``%25``) and ``+``
    stays raw in it: a table under a directory (and a rel) named with
    all three must match its row positions, so the MOR delete finds
    its rel, the snapshot drops the dead rows, the change feed serves
    them as deletes and a CDF restore brings them back as inserts."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "sp ace%2B+x" / "t")
    spark.createDataFrame(
        [(k, k) for k in range(6)], "k long, v long"
    ).coalesce(1).write.parquet(os.path.join(base, rel))
    lakelog.commit(base, 0, [{"add": rel}])
    res = lakelog.delete_where_mor(spark, base, F.col("k").isin(1, 3))
    assert res["n_rows_deleted"] == 2
    live = lakelog.read_snapshot(spark, base).collect()
    assert sorted(r.k for r in live) == [0, 2, 4, 5]
    got = sorted(
        (r.k, r._change_type)
        for r in lakelog.table_changes(spark, base, 0, 1).collect()
    )
    assert got == [(1, "delete"), (3, "delete")]
    lakelog.restore_table(spark, base, 0, cdf=True)
    got = sorted(
        (r.k, r._change_type)
        for r in lakelog.table_changes(spark, base, 1, 2).collect()
    )
    assert got == [(1, "insert"), (3, "insert")]
    assert lakelog.read_snapshot(spark, base).count() == 6


def test_position_side_is_a_local_relation(spark, tmp_path):
    """The small side of ``_join_positions`` is one Arrow table, a
    ``LocalRelation``: rows built as Python rows (``LogicalRDD`` over a
    Python RDD) would run a Python-worker job on every DV read, MOR
    delete, CDF position delete and restore record."""
    base = str(tmp_path / "t")
    spark.range(8).coalesce(1).write.parquet(f"{base}/s0")
    df = lakelog.scan(spark, [f"{base}/s0"])
    part = next(
        os.path.join(base, "s0", f)
        for f in sorted(os.listdir(f"{base}/s0"))
        if f.endswith(".parquet")
    )
    for rows, how, extra in (
        ([(part, 1), (part, 5)], "left_anti", ""),
        ([(part, 2, "delete")], "inner", ", _change_type string"),
        ([], "left_semi", ""),
    ):
        out = lakelog._join_positions(spark, df, rows, how, extra)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    got = lakelog._join_positions(
        spark, df, [(part, 1), (part, 5)], "left_anti"
    ).collect()
    assert sorted(r.id for r in got) == [0, 2, 3, 4, 6, 7]


def test_unreadable_staged_entry_fails_safe(spark, tmp_path):
    """Round-8 review fix: an entry that cannot be READ (vs parsed)
    must propagate — vacuum deleting data because its protection
    record was temporarily unreadable would be fail-unsafe."""
    base = str(tmp_path / "t")
    spark.range(3).write.parquet(f"{base}/f0")
    lakelog.commit(base, 0, [{"add": "f0"}])
    lakelog.stage(base, "w", [{"add": "b1"}])
    p = os.path.join(base, "_log", "_staged", "w.json")
    os.chmod(p, 0)
    try:
        if os.geteuid() != 0:  # root bypasses file modes
            with pytest.raises(OSError):
                lakelog.vacuum(base)
        # parse failures are still skipped (crash debris)
        os.chmod(p, 0o644)
        with open(p, "w") as f:
            f.write("{broken")
        lakelog.vacuum(base)
    finally:
        os.chmod(p, 0o644)


# ---------------------------------------------------------------------------
# RESTORE + metadata tables
# ---------------------------------------------------------------------------


def _restore_fixture(spark, tmp_path):
    """v0: rows 1-4; v1: append rows 5-6; v2: CoW delete k<=2."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "rt")
    spark.createDataFrame(
        [(k, k * 10) for k in (1, 2, 3, 4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.createDataFrame(
        [(5, 50), (6, 60)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])
    lakelog.delete_where(spark, base, F.col("k") <= 2, cdf=True)
    return base


def _rows(spark, base, v=None):
    return sorted(
        (r.k, r.c)
        for r in lakelog.read_snapshot(spark, base, v).collect()
    )


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    base = _restore_fixture(spark, tmp_path)
    at_v1 = _rows(spark, base, 1)
    at_v2 = _rows(spark, base, 2)
    assert at_v2 == [(3, 30), (4, 40), (5, 50), (6, 60)]

    import glob

    inventory_before = set(glob.glob(f"{base}/**/*.parquet", recursive=True))
    res = lakelog.restore_table(spark, base, 1)
    assert res["version"] == 3
    assert res["n_readded"] == 1  # s0 comes back
    assert res["n_removed"] == 1  # the delete's rewrite file goes
    # zero parquet written or destroyed: pure metadata rollback
    assert (
        set(glob.glob(f"{base}/**/*.parquet", recursive=True))
        == inventory_before
    )
    # head now reads exactly as v1 did
    assert _rows(spark, base) == at_v1 == [(k, k * 10) for k in range(1, 7)]
    # the pre-restore head stays time-travelable (audit trail kept)
    assert _rows(spark, base, 2) == at_v2
    # restoring to the current state is a no-op, not an empty commit
    assert lakelog.restore_table(spark, base, 3)["version"] is None
    assert lakelog.latest_version(base) == 3


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    import pytest as _pytest

    base = _restore_fixture(spark, tmp_path)
    lakelog.vacuum(base)  # retention 0: drops s0 (inactive at head)
    with _pytest.raises(ValueError, match="vacuum"):
        lakelog.restore_table(spark, base, 1)


def test_restore_cdf_record_including_dv_resurrection(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "rdv")
    spark.createDataFrame(
        [(k, k * 10) for k in (1, 2, 3, 4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 2)  # v1: DV
    spark.createDataFrame(
        [(5, 50)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 2, [{"add": "s1"}])

    res = lakelog.restore_table(spark, base, 0, cdf=True)
    assert res["version"] == 3 and res["n_repointed"] == 1
    got = sorted(
        (r.k, r.c, r._change_type)
        for r in lakelog.table_changes(spark, base, 2, 3).collect()
    )
    # k=5 (appended after the target) deletes; k=2 resurrects from
    # the shrinking deletion vector — by position, not a table diff
    assert got == [(2, 20, "insert"), (5, 50, "delete")]
    assert _rows(spark, base) == [(1, 10), (2, 20), (3, 30), (4, 40)]


def test_restore_without_cdf_refuses_cdf_serving(spark, tmp_path):
    import pytest as _pytest

    base = _restore_fixture(spark, tmp_path)
    lakelog.restore_table(spark, base, 1)  # v3, no change record
    with _pytest.raises(ValueError, match="RESTORE without a change"):
        lakelog.commit_change_plan(base, 3)


def test_table_history_classifies_operations(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "hist")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 9)], "k long, c long"
    )
    df.coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark,
        base,
        spark.createDataFrame([(1, 99)], "k long, c long"),
        ["k"],
        cdf=True,
    )  # v1
    lakelog.delete_where_mor(spark, base, F.col("k") == 3)  # v2
    lakelog.materialize_deletion_vectors(spark, base)  # v3 layout-only
    lakelog.restore_table(spark, base, 1, cdf=True)  # v4
    h = {
        r.version: (r.operation, r.data_change, r.has_cdc)
        for r in lakelog.table_history(spark, base).collect()
    }
    assert h[0] == ("WRITE", True, False)
    assert h[1] == ("MERGE", True, True)
    assert h[2] == ("DELETE (MOR)", True, False)
    assert h[3] == ("OPTIMIZE", False, False)
    assert h[4] == ("RESTORE", True, True)


def test_table_files_reports_stats_and_dv(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "files")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 9)], "k long, c long"
    )
    df.coalesce(1).write.parquet(f"{base}/s0")
    stats, n = lakelog.file_stats_with_count(spark, f"{base}/s0", ["k"])
    lakelog.commit(
        base, 0, [{"add": "s0", "stats": stats, "num_records": n}]
    )
    spark.createDataFrame(
        [(9, 90)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # no stats recorded
    lakelog.delete_where_mor(spark, base, F.col("k") <= 2)
    rows = {
        r.rel: (r.n_records, r.dv_count)
        for r in lakelog.table_files(spark, base).collect()
    }
    assert rows["s0"] == (8, 2)
    assert rows["s1"] == (-1, 0)  # writer recorded no count → sentinel


def test_table_files_missing_stats_sentinel(spark, tmp_path):
    base = str(tmp_path / "nofstats")
    spark.createDataFrame(
        [(1, 1)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/a")
    lakelog.commit(base, 0, [{"add": "a"}])
    [r] = lakelog.table_files(spark, base).collect()
    assert (r.rel, r.n_records, r.dv_count, r.spec_id) == ("a", -1, 0, 0)


def test_vacuum_after_restore_keeps_head_reads(spark, tmp_path):
    """Retention-0 vacuum after a restore reclaims the undone
    rewrite file (inactive at head) while every file the restored
    head needs survives; time travel to the vacuumed version then
    fails on read (files gone), not silently wrong."""
    base = _restore_fixture(spark, tmp_path)
    at_v1 = _rows(spark, base, 1)
    lakelog.restore_table(spark, base, 1)  # v3 == v1
    import glob

    lakelog.vacuum(base)  # retention 0: only head is protected
    assert _rows(spark, base) == at_v1  # head intact
    # the CoW delete's rewrite output was reclaimed
    rewrites = [
        p
        for p in glob.glob(f"{base}/delete_*/**", recursive=True)
        if p.endswith(".parquet")
    ]
    assert rewrites == []


def test_restore_cdf_re_death_direction(spark, tmp_path):
    """Review regression: after a restore SHRINKS a deletion vector,
    head and a later restore target can each hold positions the
    other lacks — the change record must emit BOTH directions:
    resurrections (head-dead, target-alive) as inserts AND re-deaths
    (target-dead, head-alive) as deletes."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "redeath")
    spark.createDataFrame(
        [(k, k * 10) for k in (0, 1, 2, 3)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where_mor(spark, base, F.col("k") == 1)  # v1 dv{1}
    lakelog.restore_table(spark, base, 0, cdf=True)  # v2: dv-free
    lakelog.delete_where_mor(spark, base, F.col("k") == 2)  # v3 dv{2}
    # restore to v1: k=2 resurrects (head-dead, target-alive) AND
    # k=1 re-dies (target-dead, head-alive)
    lakelog.restore_table(spark, base, 1, cdf=True)  # v4
    got = sorted(
        (r.k, r._change_type)
        for r in lakelog.table_changes(spark, base, 3, 4).collect()
    )
    assert got == [(1, "delete"), (2, "insert")]
    assert _rows(spark, base) == [(0, 0), (2, 20), (3, 30)]


def test_restore_cdf_writes_empty_record_when_no_row_changes(
    spark, tmp_path
):
    """cdf=True with no row-level effect still writes a (zero-row)
    change record so a later CDF read over the commit serves zero
    rows instead of refusing (review fix: record=None used to skip
    the cdc action entirely)."""
    base = str(tmp_path / "norows")
    spark.createDataFrame(
        [(1, 10)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0", "num_records": 1}])
    # metadata-only repoint: same rel, action differs (stats added)
    lakelog.commit(
        base, 1, [{"add": "s0", "num_records": 1, "stats": {"k": [1, 1]}}]
    )
    res = lakelog.restore_table(spark, base, 0, cdf=True)
    assert res["n_repointed"] == 1
    plan = lakelog.commit_change_plan(base, res["version"])
    assert plan["cdc_files"]  # the record exists...
    served = lakelog.table_changes(spark, base, 1, 2)
    assert served.collect() == []  # ...and serves zero rows
    assert "_change_type" in served.columns


def test_gdpr_purge_change_records(spark, tmp_path):
    """The forget-me recipe's CDF half: after a cdf=True DELETE of
    the subject, every recorded change file — including that
    delete's own record — drops the subject's rows in place; other
    rows keep serving; the audit marker commits no row content; a
    re-purge is a no-op."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "gdpr")
    spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark,
        base,
        spark.createDataFrame([(1, 99), (2, 88)], "k long, c long"),
        ["k"],
        cdf=True,
    )  # v1: updates for k=1 (the subject) and k=2
    lakelog.delete_where(spark, base, F.col("k") == 1, cdf=True)  # v2
    res = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") == 1
    )
    # v1 pre+post for k=1, v2's delete record row: 3 purged rows
    assert res["n_rows_purged"] == 3
    assert res["n_records_rewritten"] == 2
    served = lakelog.table_changes(spark, base, 0, 2)
    ks = sorted((r.k, r._change_type) for r in served.collect())
    assert all(k != 1 for k, _ in ks)  # subject gone from the feed
    assert (2, "update_preimage") in ks  # others intact
    # the marker commit classifies and carries no row content
    h = {
        r.version: r.operation
        for r in lakelog.table_history(spark, base).collect()
    }
    assert h[res["version"]] == "GDPR PURGE"
    # idempotent: nothing left to purge
    res2 = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") == 1
    )
    assert res2["n_rows_purged"] == 0


def test_gdpr_purge_covers_checkpoint_retired_records(spark, tmp_path):
    """Review regression: records of commits retired behind a
    checkpoint must still purge — vacuum protects _cdc wholesale, so
    nothing else would ever erase the subject from them."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "gdpr_ckpt")
    spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark,
        base,
        spark.createDataFrame([(1, 99)], "k long, c long"),
        ["k"],
        cdf=True,
    )  # v1: subject's image pair in _cdc/cdc_00000001
    lakelog.write_checkpoint(base)
    for f in glob.glob(f"{base}/_log/0000000[01].json"):
        _os.remove(f)  # retire pre-checkpoint commits (supported)
    res = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") == 1
    )
    assert res["n_rows_purged"] == 2  # pre+post image, found via _cdc walk
    left = spark.read.parquet(f"{base}/_cdc/cdc_00000001")
    assert left.filter(F.col("k") == 1).count() == 0


def test_cdf_retention_vacuum_reclaims_and_refuses(spark, tmp_path):
    """CDF retention (the Delta changeDataFeed-expires-with-retention
    contract): vacuum(cdf_retain_versions=N) reclaims change records
    of commits older than head−N; serving a range that touches a
    reclaimed record REFUSES with a clear error instead of silently
    emitting an empty/partial feed; serving entirely inside the
    retained window stays byte-identical to pre-vacuum."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    base = str(tmp_path / "cdf_ret")
    spark.createDataFrame(
        [(k, 0) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    horizon = 3
    for i in range(1, 2 * horizon + 1):  # v1..v6: 2×horizon commits
        lakelog.merge_upsert(
            spark,
            base,
            spark.createDataFrame([(i % 4, i)], "k long, c long"),
            ["k"],
            cdf=True,
        )
    head = lakelog.latest_version(base)
    assert head == 2 * horizon
    before = sorted(
        tuple(r)
        for r in lakelog.table_changes(
            spark, base, head - horizon, head
        ).collect()
    )
    res = lakelog.vacuum(base, cdf_retain_versions=horizon)
    # records v1..v(head-horizon-1) reclaimed, the rest survive
    assert res["n_cdc_records_deleted"] == head - horizon - 1
    for v in range(1, head + 1):
        exists = _os.path.isdir(f"{base}/_cdc/cdc_{v:08d}")
        assert exists == (v >= head - horizon)
    # retained window serves byte-identical
    after = sorted(
        tuple(r)
        for r in lakelog.table_changes(
            spark, base, head - horizon, head
        ).collect()
    )
    assert after == before
    # a range touching a reclaimed record refuses loudly
    with pytest.raises(ValueError, match="reclaimed by CDF retention"):
        lakelog.table_changes(spark, base, 0, head).count()
    # default vacuum still protects _cdc wholesale
    res2 = lakelog.vacuum(base)
    assert res2["n_cdc_records_deleted"] == 0


def test_gdpr_purge_sweeps_staged_wap_batches(spark, tmp_path):
    """Round-9 review fix: a batch staged for a WAP audit but never
    published is invisible to committed readers, yet its data files
    can carry the subject — and neither vacuum (which protects staged
    adds) nor DML (which never sees them) erases it. The purge must
    rewrite staged add rels in place so every serving path, including
    read_staged_snapshot, is subject-free."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "gdpr_wap")
    spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    # stage a batch containing the subject (k=1) and a bystander
    spark.createDataFrame(
        [(1, 77), (5, 55)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s_wap")
    lakelog.stage(base, "audit1", [{"add": "s_wap"}])
    res = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") == 1
    )
    assert res["n_staged_rels_rewritten"] == 1
    assert res["n_rows_purged"] == 1
    staged = lakelog.read_staged_snapshot(spark, base, "audit1")
    assert staged.filter(F.col("k") == 1).count() == 1  # s0's row only
    left = spark.read.parquet(f"{base}/s_wap")
    assert sorted(tuple(r) for r in left.collect()) == [(5, 55)]
    # live snapshot rels are never rewritten by the purge
    assert spark.read.parquet(f"{base}/s0").count() == 6


def test_vacuum_and_orphans_recover_mid_swap_staged_debris(
    spark, tmp_path
):
    """Round-9 review fix: a purge crash mid-swap on a STAGED rel
    leaves the batch's only copies as <rel>.old/<rel>.purge_tmp in
    the table root — vacuum and remove_orphans must RESTORE the base
    (then protect it as a staged add), never reclaim the copies; and
    find_orphans must not list purge artifacts as writer debris."""
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "wap_crash")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.createDataFrame(
        [(9, 90), (8, 80)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s_wap")
    lakelog.stage(base, "t1", [{"add": "s_wap"}])
    # simulate the purge's mid-swap crash on the staged rel
    purged = spark.read.parquet(f"{base}/s_wap").filter(F.col("k") != 9)
    purged.write.parquet(f"{base}/s_wap.purge_tmp")
    _os.rename(f"{base}/s_wap", f"{base}/s_wap.old")
    assert "s_wap.old" not in lakelog.find_orphans(base)
    assert "s_wap.purge_tmp" not in lakelog.find_orphans(base)
    stats = lakelog.vacuum(base)
    assert _os.path.isdir(f"{base}/s_wap")  # base restored
    assert not _os.path.exists(f"{base}/s_wap.old")
    assert not _os.path.exists(f"{base}/s_wap.purge_tmp")
    assert stats["n_dirs_kept"] >= 2  # s0 + the restored staged rel
    got = sorted(
        tuple(r)
        for r in lakelog.read_staged_snapshot(spark, base, "t1")
        .filter(F.col("k") >= 8)
        .collect()
    )
    assert got == [(8, 80), (9, 90)]  # nothing lost
    # remove_orphans also recovers instead of deleting
    _os.rename(f"{base}/s_wap", f"{base}/s_wap.old")
    lakelog.remove_orphans(base)
    assert _os.path.isdir(f"{base}/s_wap")


def test_gdpr_purge_staged_full_rels_files_and_stats(spark, tmp_path):
    """Round-9 review fixes, three at once: (a) staged rels purge by
    FULL path (a nested rel must rewrite its own directory, not its
    truncated top segment); (b) plain-FILE staged adds are rewritten,
    not silently skipped; (c) a rewritten rel's staged action drops
    stats-bearing keys so a later publish cannot serve pre-purge
    counts."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "wap_full")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    # nested staged rel
    spark.createDataFrame(
        [(1, 11), (5, 55)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/era/part=1")
    # plain-file staged rel
    spark.createDataFrame(
        [(1, 12), (6, 66)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/tmp_single")
    src = glob.glob(f"{base}/tmp_single/*.parquet")[0]
    _os.rename(src, f"{base}/one.parquet")
    import shutil as _sh

    _sh.rmtree(f"{base}/tmp_single")
    lakelog.stage(
        base,
        "t2",
        [
            {"add": "era/part=1", "num_records": 2, "stats": {"k": [1, 5]}},
            {"add": "one.parquet", "num_records": 2},
        ],
    )
    res = lakelog.gdpr_purge_change_records(spark, base, F.col("k") == 1)
    assert res["n_staged_rels_rewritten"] == 2
    assert res["n_rows_purged"] == 2
    assert (
        spark.read.parquet(f"{base}/era/part=1")
        .filter(F.col("k") == 1)
        .count()
        == 0
    )
    left = spark.read.parquet(f"{base}/one.parquet")
    assert sorted(tuple(r) for r in left.collect()) == [(6, 66)]
    entry = lakelog.staged_entry(base, "t2")
    for a in entry["actions"]:
        assert "num_records" not in a and "stats" not in a
    # the untouched live rel is intact
    assert spark.read.parquet(f"{base}/s0").count() == 4


def test_gdpr_purge_recovers_nested_staged_rel_crash(spark, tmp_path):
    """Round-10 review regression: the purge swaps at the FULL
    staged-rel path, so a mid-swap crash on a NESTED rel (era/part=1)
    parks era/part=1.old one level below anywhere the root/_cdc
    recovery pre-passes look. The old code's exists-check then
    silently skipped the rel — purge reported success while the
    subject persisted in the .old copy, vacuum never restored the
    base, and read_staged_snapshot/publish failed on the missing
    rel. Both the purge AND vacuum must now resolve debris per
    staged rel."""
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "wap_nested_crash")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    rel = f"{base}/era/part=1"
    spark.createDataFrame(
        [(1, 11), (5, 55), (7, 77)], "k long, c long"
    ).coalesce(1).write.parquet(rel)
    lakelog.stage(base, "t_nested", [{"add": "era/part=1"}])
    # simulate the crash window of a previous purge run: purged copy
    # staged, original parked, base gone
    spark.read.parquet(rel).filter(F.col("k") != 1).write.parquet(
        rel + ".purge_tmp"
    )
    _os.rename(rel, rel + ".old")
    assert not _os.path.exists(rel)
    res = lakelog.gdpr_purge_change_records(spark, base, F.col("k") == 1)
    # the rel was RECOVERED (original restored, purged copy reclaimed)
    # and THIS run re-purged the subject from it
    assert res["n_staged_rels_rewritten"] == 1
    assert res["n_rows_purged"] == 1
    assert _os.path.isdir(rel)
    assert not _os.path.exists(rel + ".old")
    assert not _os.path.exists(rel + ".purge_tmp")
    left = spark.read.parquet(rel)
    assert sorted(tuple(r) for r in left.collect()) == [(5, 55), (7, 77)]
    got = sorted(
        tuple(r)
        for r in lakelog.read_staged_snapshot(spark, base, "t_nested")
        .filter(F.col("k") >= 5)
        .collect()
    )
    assert got == [(5, 55), (7, 77)]  # non-subject rows survived
    # vacuum's pass recovers the same window instead of losing the rel
    _os.rename(rel, rel + ".old")
    lakelog.vacuum(base, retain_versions=0)
    assert _os.path.isdir(rel)
    assert spark.read.parquet(rel).count() == 2


def test_gdpr_purge_recovers_root_debris_without_staged_tags(
    spark, tmp_path
):
    """Round-10 review regression: the root recovery pre-pass ran
    only when staged tags existed, so root-level .old debris from a
    crashed staged-rel purge whose tag was since removed waited for
    vacuum. The purge itself must recover it unconditionally."""
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "root_debris")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.createDataFrame(
        [(1, 11), (9, 99)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s_gone")
    # crash window on a formerly-staged root rel; its tag is gone
    _os.rename(f"{base}/s_gone", f"{base}/s_gone.old")
    res = lakelog.gdpr_purge_change_records(spark, base, F.col("k") == 1)
    assert res["version"] >= 1
    assert _os.path.isdir(f"{base}/s_gone")
    assert not _os.path.exists(f"{base}/s_gone.old")


def test_cdf_retention_reclaims_nine_digit_versions(tmp_path):
    """Round-10 review fix: cdc_{v:08d} grows past 8 digits at
    v >= 10^8, so the exact-8 regex never reclaimed such records —
    unbounded _cdc growth returned exactly on the long-lived tables
    retention exists for. Simulate a 10^8+ head cheaply via a
    hand-planted checkpoint (replay is checkpoint-first, zero log
    walks) and pin that a 9-digit record below the horizon is
    reclaimed. Driver-side only, no Spark."""
    import os as _os
    import shutil as _sh

    base = str(tmp_path / "nine_digits")
    lakelog.commit(base, 0, [{"op": "CREATE"}])
    lakelog.write_checkpoint(base, 0)
    log = f"{base}/_log"
    big = 100_000_005
    _sh.copy(
        f"{log}/00000000.checkpoint.json",
        f"{log}/{big:08d}.checkpoint.json",
    )
    with open(f"{log}/{big:08d}.json", "w") as fh:
        fh.write('[{"op": "NOOP"}]')
    assert lakelog.latest_version(base) == big
    # 8-digit and 9-digit records, both below horizon; one above
    for name in ("cdc_00000007", "cdc_100000000", f"cdc_{big:08d}"):
        _os.makedirs(f"{base}/_cdc/{name}")
    stats = lakelog.vacuum(base, cdf_retain_versions=0)
    assert stats["n_cdc_records_deleted"] == 2
    assert not _os.path.isdir(f"{base}/_cdc/cdc_00000007")
    assert not _os.path.isdir(f"{base}/_cdc/cdc_100000000")
    assert _os.path.isdir(f"{base}/_cdc/cdc_{big:08d}")


def test_table_changes_refuses_vacuumed_data_commits(spark, tmp_path):
    """Round-9 review fix: insert/delete-classified commits whose
    data dirs were vacuumed must REFUSE (like reclaimed cdc records),
    never serve silently empty."""
    import pytest
    from pyspark.sql import functions as F

    base = str(tmp_path / "vac_feed")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    spark.createDataFrame(
        [(10, 100)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # insert commit
    lakelog.delete_where(spark, base, F.col("k") == 10)  # v2 rewrites s1
    lakelog.vacuum(base)  # retain head only: s1 reclaimed
    with pytest.raises(ValueError, match="was vacuumed"):
        lakelog.table_changes(spark, base, 0, 1).count()


def test_restore_rolls_back_constraints(spark, tmp_path):
    """Round-9 review fix: RESTORE across an ADD CONSTRAINT must not
    resurrect rows a STANDING committed CHECK forbids — the
    constraint rolls back with the data (and a dropped-then-restored
    constraint comes back)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "cons_restore")
    spark.createDataFrame(
        [(1, -5), (2, 3)], "k long, x long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.delete_where(spark, base, F.col("x") < 0)  # v1: clean
    lakelog.add_constraint(spark, base, "x_pos", "x >= 0")  # v2
    res = lakelog.restore_table(spark, base, 0)  # resurrects x=-5
    assert res["version"] is not None
    assert "x_pos" not in lakelog.table_constraints(base)
    assert (
        lakelog.read_snapshot(spark, base).filter(F.col("x") < 0).count()
        == 1
    )
    # and the other direction: restore back to v2 re-adds it
    lakelog.restore_table(spark, base, 2)
    assert lakelog.table_constraints(base) == {"x_pos": "x >= 0"}


def test_table_changes_mapped_across_rename(spark, tmp_path):
    """CDF × column mapping: change records and data files carry
    immutable PHYSICAL names; serving projects them onto the mapping
    as of the requested version — appends before a RENAME surface
    under the NEW logical name, and a column added later reads NULL
    from older records."""
    import pytest
    from pyspark.sql import functions as F

    base = str(tmp_path / "map_cdf")
    spark.createDataFrame(
        [(k, k * 100) for k in range(4)], "k__p0 long, cents__p0 long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(
        base,
        0,
        [
            lakelog.mapping_action(
                [("k", "k__p0", "bigint"), ("cents", "cents__p0", "bigint")]
            ),
            {"add": "s0"},
        ],
    )
    spark.createDataFrame(
        [(10, 1000)], "k__p0 long, cents__p0 long"
    ).coalesce(1).write.parquet(f"{base}/s1")
    lakelog.commit(base, 1, [{"add": "s1"}])  # v1: insert commit
    lakelog.rename_column(base, "cents", "price_cents")  # v2
    lakelog.add_column(base, "note", "string")  # v3
    # v4: append under the post-rename mapping (same physical names,
    # plus the new column's fresh physical name)
    spark.createDataFrame(
        [(20, 2000, "late")],
        "k__p0 long, cents__p0 long, note__p3 string",
    ).coalesce(1).write.parquet(f"{base}/s4")
    lakelog.commit(base, 4, [{"add": "s4"}])
    got = lakelog.table_changes_mapped(spark, base, 0, 4)
    assert set(got.columns) == {
        "k", "price_cents", "note", "_change_type", "_commit_version",
    }
    rows = sorted(
        (r.k, r.price_cents, r.note, r._change_type, r._commit_version)
        for r in got.collect()
    )
    assert rows == [
        (10, 1000, None, "insert", 1),
        (20, 2000, "late", "insert", 4),
    ]
    # serving under the PRE-rename mapping (version 1) keeps the old
    # logical names — each version reads under its own mapping
    old = lakelog.table_changes_mapped(spark, base, 0, 1, version=1)
    assert set(old.columns) == {
        "k", "cents", "_change_type", "_commit_version",
    }
    # unmapped table refuses
    plain = str(tmp_path / "map_cdf_plain")
    spark.createDataFrame([(1,)], "k long").coalesce(1).write.parquet(
        f"{plain}/s0"
    )
    lakelog.commit(plain, 0, [{"add": "s0"}])
    with pytest.raises(ValueError, match="no column mapping"):
        lakelog.table_changes_mapped(spark, plain, -1, 0)


def test_restore_rolls_back_column_mapping(spark, tmp_path):
    """RESTORE × column mapping: restoring to a pre-rename version
    re-emits the target's mapping action (Delta restores schema with
    data); restoring to a version that predates mapping enablement
    refuses (last-wins metadata cannot be unset)."""
    import pytest
    from pyspark.sql import functions as F

    base = str(tmp_path / "map_restore")
    spark.createDataFrame(
        [(k, k * 100) for k in range(4)], "k__p0 long, cents__p0 long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])  # v0: pre-mapping
    lakelog.commit(
        base,
        1,
        [
            lakelog.mapping_action(
                [("k", "k__p0", "bigint"), ("cents", "cents__p0", "bigint")]
            )
        ],
    )  # v1: mapping enabled
    lakelog.rename_column(base, "cents", "price_cents")  # v2
    spark.createDataFrame(
        [(10, 1000)], "k__p0 long, cents__p0 long"
    ).coalesce(1).write.parquet(f"{base}/s3")
    lakelog.commit(base, 3, [{"add": "s3"}])  # v3: post-rename data
    res = lakelog.restore_table(spark, base, 1)
    assert res["n_meta_restored"] == 1
    assert res["n_removed"] == 1  # s3 gone with the rollback
    cur = lakelog.read_snapshot_mapped(spark, base)
    assert set(cur.columns) == {"k", "cents"}  # rename rolled back
    assert cur.count() == 4
    # the pre-restore history still reads under ITS mapping
    old = lakelog.read_snapshot_mapped(spark, base, 3)
    assert set(old.columns) == {"k", "price_cents"}
    assert old.count() == 5
    # restoring to the pre-mapping version refuses, loudly
    with pytest.raises(ValueError, match="predates columnMapping"):
        lakelog.restore_table(spark, base, 0)


def test_gdpr_purge_recovers_mid_swap_crash(spark, tmp_path):
    """Round-9 review regression: a crash BETWEEN the purge's two
    renames leaves the record only as <rel>.old (original) plus
    <rel>.purge_tmp (purged copy) with the base dir absent. The next
    purge must RECOVER the record — restore it and re-purge — not
    reclaim both copies as debris (which destroyed the only copies:
    non-subject rows were lost forever and table_changes over that
    commit broke). Plain-file debris must also actually be removed
    (rmtree silently no-ops on files)."""
    import os as _os
    import shutil as _sh

    from pyspark.sql import functions as F

    base = str(tmp_path / "gdpr_crash")
    spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    lakelog.merge_upsert(
        spark,
        base,
        spark.createDataFrame([(1, 99), (2, 88)], "k long, c long"),
        ["k"],
        cdf=True,
    )  # v1: image pairs for k=1 (subject) and k=2 (bystander)
    rec = f"{base}/_cdc/cdc_00000001"
    # simulate the crash window: purged copy staged, original parked,
    # base dir gone
    purged = (
        spark.read.parquet(rec).filter(F.col("k") != 1)
    )
    purged.write.parquet(rec + ".purge_tmp")
    _os.rename(rec, rec + ".old")
    assert not _os.path.exists(rec)
    # plus a stray plain-file debris entry (old code's rmtree
    # silently failed on files)
    stray = f"{base}/_cdc/cdc_00000000.old"
    with open(stray, "w") as fh:
        fh.write("stray")
    res = lakelog.gdpr_purge_change_records(
        spark, base, F.col("k") == 1
    )
    # the record was recovered and THIS run purged the subject from it
    assert res["n_rows_purged"] == 2
    assert _os.path.isdir(rec)
    assert not _os.path.exists(rec + ".old")
    assert not _os.path.exists(rec + ".purge_tmp")
    assert not _os.path.exists(stray)
    left = spark.read.parquet(rec)
    assert left.filter(F.col("k") == 1).count() == 0
    # the bystander's change rows survived the recovery
    assert left.filter(F.col("k") == 2).count() == 2
    served = lakelog.table_changes(spark, base, 0, 1)
    assert sorted(r.k for r in served.collect()) == [2, 2]
    _sh.rmtree(base, ignore_errors=True)


def test_find_orphans_resolves_nested_rels(spark, tmp_path):
    """Round-10 fix: orphan detection recurses into directories that
    are ancestors of referenced rels (multi-table subtrees, hidden
    partition parents), so a replayed streaming epoch's abandoned
    nested write (view/v_x) is reclaimed while committed siblings
    and the subtree holder survive. Previously only top-level
    entries were classified and nested debris accumulated
    invisibly."""
    import os as _os

    base = str(tmp_path / "nested_orphans")
    one = spark.createDataFrame([(1, 1)], "k long, c long").coalesce(1)
    one.write.parquet(f"{base}/view/v_00000_live")
    one.write.parquet(f"{base}/support/s_00000_live")
    lakelog.commit(
        base,
        0,
        [{"add": "view/v_00000_live"}, {"add": "support/s_00000_live"}],
    )
    # debris: a replayed epoch's abandoned nested writes + a stray
    # top-level dir (the old behavior's only catch)
    one.write.parquet(f"{base}/view/v_00000_replay")
    one.write.parquet(f"{base}/support/s_00000_replay")
    one.write.parquet(f"{base}/stray_top")
    got = set(lakelog.find_orphans(base))
    assert got == {
        "view/v_00000_replay",
        "support/s_00000_replay",
        "stray_top",
    }
    res = lakelog.remove_orphans(base)
    assert res["n_removed"] == 3
    assert _os.path.isdir(f"{base}/view/v_00000_live")
    assert _os.path.isdir(f"{base}/support/s_00000_live")
    assert not _os.path.exists(f"{base}/view/v_00000_replay")
    # both member tables still read
    assert lakelog.read_table_snapshot(spark, base, "view").count() == 1
    assert (
        lakelog.read_table_snapshot(spark, base, "support").count() == 1
    )


def test_gdpr_erasure_end_to_end_zero_subject_bytes(spark, tmp_path):
    """VERDICT r9 item 7: retention × GDPR as one recipe, proven
    FROM THE ARTIFACT (the round-6 lake_stats_only_agg discipline
    applied to erasure): the subject's marker string is spread
    across change records that fall BELOW the CDF retention horizon
    (reclaimed wholesale by vacuum) AND records ABOVE it (rewritten
    in place by the purge), plus the pre-delete data files (vacuumed
    past the snapshot horizon). After DELETE → purge → vacuum, a
    filesystem-level walk reads EVERY remaining file under the table
    — parquet values and log/metadata bytes alike — and finds zero
    subject bytes, zero swap debris."""
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    marker = "subject-erase-me@example.invalid"
    base = str(tmp_path / "gdpr_e2e")
    rows = [
        (k, marker if k % 10 == 7 else f"user-{k}@example.invalid", k * 10)
        for k in range(40)
    ]
    spark.createDataFrame(
        rows, "k long, email string, cents long"
    ).coalesce(2).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    subj = F.col("email") == marker
    o0 = lakelog.read_snapshot(spark, base, 0)
    # v1: update touching the SUBJECT (cdc_1 carries the marker) —
    # this record will fall BELOW the retention horizon
    lakelog.merge_upsert(
        spark,
        base,
        o0.filter(subj).select("k", "email", (F.col("cents") + 1).alias("cents")),
        ["k"],
        cdf=True,
    )
    # v2, v3: unrelated churn (keep the horizon moving)
    lakelog.merge_upsert(
        spark,
        base,
        o0.filter(F.col("k") % 10 == 2).select(
            "k", "email", (F.col("cents") * 3).alias("cents")
        ),
        ["k"],
        cdf=True,
    )
    lakelog.delete_where(spark, base, F.col("k") % 10 == 4, cdf=True)
    # v4: another subject-touching update — this record stays ABOVE
    # the horizon and must be rewritten in place by the purge
    lakelog.merge_upsert(
        spark,
        base,
        lakelog.read_snapshot(spark, base)
        .filter(subj)
        .select("k", "email", (F.col("cents") + 2).alias("cents")),
        ["k"],
        cdf=True,
    )
    # --- the erasure recipe ---
    lakelog.delete_where(spark, base, subj, cdf=True)  # v5: step 1
    # v6: unrelated churn after the subject left — the retained
    # window must keep serving REAL rows post-erasure
    lakelog.merge_upsert(
        spark,
        base,
        lakelog.read_snapshot(spark, base)
        .filter(F.col("k") % 10 == 6)
        .select("k", "email", (F.col("cents") * 5).alias("cents")),
        ["k"],
        cdf=True,
    )
    res = lakelog.gdpr_purge_change_records(spark, base, subj)  # step 2
    assert res["n_rows_purged"] > 0  # v4's and v5's records rewritten
    stats = lakelog.vacuum(
        base, retain_versions=1, cdf_retain_versions=2
    )  # step 3: cdc_1 (marker-bearing) reclaimed WHOLESALE, pre-
    # delete data dirs past the snapshot horizon reclaimed
    assert stats["n_cdc_records_deleted"] >= 1
    assert stats["n_dirs_deleted"] >= 1
    # the live table still serves, subject-free
    live = lakelog.read_snapshot(spark, base)
    assert live.filter(subj).count() == 0
    assert live.count() == 32  # 40 - 4 (%10==4) - 4 (subject)
    # --- prove it from the artifact: walk EVERYTHING left on disk
    hits, n_parquet, n_meta = [], 0, 0
    for root, _dirs, files in _os.walk(base):
        for fname in files:
            full = _os.path.join(root, fname)
            assert not fname.endswith((".old", ".purge_tmp"))
            if fname.endswith(".parquet"):
                n_parquet += 1
                tbl = _pq.read_table(full)
                for col in tbl.column_names:
                    vals = tbl.column(col).to_pylist()
                    if any(v == marker for v in vals if isinstance(v, str)):
                        hits.append((full, col))
            elif fname.endswith(".json"):
                n_meta += 1
                with open(full) as fh:
                    if marker in fh.read():
                        hits.append((full, "<log>"))
    assert n_parquet > 0 and n_meta > 0  # the walk saw real content
    assert hits == [], f"subject bytes survived erasure: {hits}"
    # retained, subject-free serving is intact: the retained window
    # still answers (refusing only the reclaimed range) — cdc_5 is
    # the purged-to-empty subject delete, cdc_6 the unrelated churn
    served = lakelog.table_changes(spark, base, 4, 6)
    assert served.filter(subj).count() == 0
    assert served.count() > 0


def test_purge_crash_then_publish_still_recovers_nested_rel(
    spark, tmp_path
):
    """Round-10 review regression (second order): a purge crashes
    mid-swap on a nested STAGED rel, then publish_staged commits the
    batch and deletes the tag. Tag-only recovery coverage would
    strand the committed rel's only copy as .old forever (every
    snapshot read failing); recovery must also derive parents from
    the HEAD SNAPSHOT's referenced nested rels."""
    import os as _os

    from pyspark.sql import functions as F

    base = str(tmp_path / "crash_then_publish")
    spark.createDataFrame(
        [(k, k) for k in range(4)], "k long, c long"
    ).coalesce(1).write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    rel = f"{base}/era/part=1"
    spark.createDataFrame(
        [(1, 11), (5, 55)], "k long, c long"
    ).coalesce(1).write.parquet(rel)
    lakelog.stage(base, "t_pub", [{"add": "era/part=1"}])
    # crash window: original parked as .old, base gone
    spark.read.parquet(rel).filter(F.col("k") != 1).write.parquet(
        rel + ".purge_tmp"
    )
    _os.rename(rel, rel + ".old")
    # the operator publishes anyway — tag deleted, actions committed
    lakelog.publish_staged(base, "t_pub")
    assert not _os.path.exists(rel)
    # vacuum's recovery pass must restore the committed rel from the
    # head snapshot's reference, not from the (gone) staged tag
    lakelog.vacuum(base, retain_versions=1)
    assert _os.path.isdir(rel)
    assert not _os.path.exists(rel + ".old")
    got = sorted(
        tuple(r)
        for r in lakelog.read_snapshot(spark, base)
        .filter(F.col("k") >= 1)
        .collect()
    )
    assert (5, 55) in got and (1, 11) in got  # nothing lost


def test_find_orphans_still_reclaims_root_underscore_debris(
    spark, tmp_path
):
    """Round-10 review regression: the Hadoop-marker skip must not
    shadow TABLE-ROOT underscore debris — an unreferenced _tmp_stage1
    at the root is writer debris the old code reclaimed and the new
    nested walk must keep reclaiming."""
    import os as _os

    base = str(tmp_path / "root_underscore")
    one = spark.createDataFrame([(1,)], "k long").coalesce(1)
    one.write.parquet(f"{base}/s0")
    lakelog.commit(base, 0, [{"add": "s0"}])
    one.write.parquet(f"{base}/_tmp_stage1")
    assert lakelog.find_orphans(base) == ["_tmp_stage1"]
    lakelog.remove_orphans(base)
    assert not _os.path.exists(f"{base}/_tmp_stage1")
