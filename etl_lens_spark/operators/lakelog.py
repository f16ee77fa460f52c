"""Minimal lakehouse transaction log: Delta-style versioned commits
over plain parquet files (public Delta Lake PROTOCOL.md semantics,
re-implemented from scratch — no table-format library needed).

On-disk layout of a table directory:

- ``_log/{v:08d}.json`` — commit ``v``, a JSON list of actions:
  ``{"add": rel, ...}`` (plus optional stats, ``num_records``,
  ``spec_id``, ``dv``, ``data_change``), ``{"remove": rel}``,
  ``txn``, the metadata families ``metaData`` / ``columnMapping`` /
  ``partitionSpec`` / ``constraint`` / ``dropConstraint``, ``cdc``,
  and markers (``op``, ``wap``, ``restore``, ``gdprPurge``).
  Created with O_EXCL; read only through ``commit_actions``. Every
  add that a writer (``merge_upsert``, ``delete_where``,
  ``apply_cdc``, ``optimize_compact``,
  ``materialize_deletion_vectors``, ``rewrite_minus_ids``,
  ``constrained_append``) makes for a rel it just wrote carries
  ``num_records``, read from the written parquet footers, so
  ``optimize_compact`` sizes those files from the log with no scan.
- ``_log/{v:08d}.checkpoint.json`` — the folded state at ``v``: the
  active ``add`` actions in first-added order, then
  ``{"txns": {appId: version}}`` when any app committed one, then
  ``{"metaState": {...}}``. Written tmp + rename; read only through
  ``_checkpoint``. Commit files at or below a checkpoint may be
  retired.
- ``_log/_staged/{tag}.json`` — a write-audit-publish batch,
  ``{"base_version": v, "actions": [...]}``.
- ``_dv/*.json`` — deletion-vector sidecars,
  ``{physical_rel: [row positions]}``.
- ``_cdc/cdc_{v:08d}/`` — commit ``v``'s row-level change record
  (parquet carrying ``_change_type``).
- every other entry — parquet data referenced by add actions.

The table state at version V is the newest checkpoint ≤ V plus the
commits after it, folded once by ``_fold`` into the active file set,
the txn high-water marks and the metadata state. This gives the three
lakehouse properties the CDC family (operators/cdc.py) tracks at ROW
level, at FILE level instead:

- **snapshot isolation** — a reader lists the log once and reads a
  consistent file set; concurrent writers never corrupt a read.
- **optimistic concurrency** — commit N is created with os O_EXCL;
  two writers racing to the same version: exactly one wins, the
  loser re-reads and retries (test-pinned).
- **time travel** — any historical version is reconstructable while
  its commits and files survive (``vacuum`` sets the horizon).

Scale posture: the log is O(commits) tiny JSON on the driver-visible
store; data files are never rewritten on commit (append/remove are
metadata). Reading version V = ``_read_active``: one
``scan(spark, active_files)``, a plain parquet read of the active
files whose schema comes from the first file's memoized footer, so
it runs no schema-inference job — pushdown/pruning apply per file
exactly as on a plain directory. Every snapshot reader (plain,
staged, pruned, bloom, hidden-partition, multi-table, evolved,
mapped) goes through it, so every one applies deletion vectors: the
dead row positions of DV files are anti-joined away, and a DV-free
set is the plain scan alone. Only writers that rewrite or reference
raw parquet (``shallow_clone``, and the one copy-on-write path,
``_copy_on_write``, behind ``merge_upsert``, ``delete_where`` and
``apply_cdc``) refuse DV files — materialize first.
The reference has no storage management at all (it re-scans one .etl
file per query, src/main.cpp:1081); this is [L]/[N] lakehouse surface
Spark users expect from an analytics engine.
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from etl_lens_spark.operators.staging import stage as stage_frame


class CommitConflict(Exception):
    """Another writer already created this version."""


def _log_dir(table_dir: str) -> str:
    d = os.path.join(table_dir, "_log")
    os.makedirs(d, exist_ok=True)
    return d


def _versions(table_dir: str, suffix: str) -> list[int]:
    """Versions of the ``_log/{v:08d}{suffix}`` files on disk."""
    n = len(suffix)
    return [
        int(f[:-n])
        for f in os.listdir(_log_dir(table_dir))
        if f.endswith(suffix) and f[:-n].isdigit()
    ]


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "_log", f"{version:08d}.json")


def commit(table_dir: str, version: int, actions: list[dict]) -> None:
    """Write commit ``version`` atomically; O_EXCL enforces optimistic
    concurrency (raises CommitConflict on a lost race)."""
    path = _commit_path(table_dir, version)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError as e:
        raise CommitConflict(f"version {version} already committed") from e
    with os.fdopen(fd, "w") as f:
        json.dump(actions, f)


def commit_actions(table_dir: str, version: int) -> list[dict]:
    """The actions of commit ``version`` — the one reader of commit
    files. A missing file raises: the log has a hole there, or the
    commit was retired after a checkpoint, and either way its actions
    are unknowable."""
    try:
        with open(_commit_path(table_dir, version)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"missing commit {version}: the log has a hole, or the "
            "file was retired after a checkpoint"
        ) from None


def _checkpoint(
    table_dir: str, version: int
) -> tuple[int, Iterator[dict]]:
    """The newest checkpoint at or before ``version`` and its entries
    — the one reader of checkpoint files; ``(-1, <empty>)`` when there
    is none. The entries are read on first iteration, so a caller that
    only needs the checkpoint's version opens nothing."""
    cv = max(
        (c for c in _versions(table_dir, ".checkpoint.json")
         if c <= version),
        default=-1,
    )

    def entries() -> Iterator[dict]:
        if cv >= 0:
            name = f"{cv:08d}.checkpoint.json"
            with open(os.path.join(_log_dir(table_dir), name)) as f:
                loaded = json.load(f)
            yield from loaded

    return cv, entries()


class _LogState(NamedTuple):
    active: dict[str, dict]  # rel → add action, first-added order
    txns: dict[str, int]  # appId → latest txn version
    meta: dict  # metaData / columnMapping / partitionSpecs / constraints
    start: int  # first commit replayed after the checkpoint
    n_replayed: int


def _fold(table_dir: str, version: int | None = None) -> _LogState:
    """Table state at ``version`` (default: latest) in one pass: the
    newest checkpoint ≤ version, then every commit after it (a
    missing one raises). The active set maps each live rel to its add
    action; ``txns`` holds each app's latest ``txn`` version; ``meta``
    is the last-wins state of every metadata family::

        {"metaData": fields|None, "columnMapping": fields|None,
         "partitionSpecs": {spec_id: spec}, "constraints": {name: expr}}

    Cost is O(commits since the checkpoint), and pre-checkpoint commit
    files are never opened, so they may be retired."""
    if version is None:
        version = latest_version(table_dir)
    active: dict[str, dict] = {}
    txns: dict[str, int] = {}
    meta: dict = {
        "metaData": None,
        "columnMapping": None,
        "partitionSpecs": {},
        "constraints": {},
    }
    cv, entries = _checkpoint(table_dir, version)
    for e in entries:
        if "add" in e:
            active[e["add"]] = e
        elif "txns" in e:
            txns.update({a: int(v) for a, v in e["txns"].items()})
        elif "metaState" in e:
            s = e["metaState"]
            meta["metaData"] = s.get("metaData")
            meta["columnMapping"] = s.get("columnMapping")
            meta["partitionSpecs"] = {
                int(k): v for k, v in s.get("partitionSpecs", {}).items()
            }
            meta["constraints"] = dict(s.get("constraints", {}))
    for v in range(cv + 1, version + 1):
        for a in commit_actions(table_dir, v):
            if "add" in a:
                active[a["add"]] = a
            elif "remove" in a:
                active.pop(a["remove"], None)
            elif a.get("txn"):
                txns[a["txn"]["appId"]] = int(a["txn"]["version"])
            elif "metaData" in a:
                meta["metaData"] = a["metaData"]["fields"]
            elif "columnMapping" in a:
                meta["columnMapping"] = a["columnMapping"]["fields"]
            elif "partitionSpec" in a:
                s = a["partitionSpec"]
                meta["partitionSpecs"][int(s["spec_id"])] = s
            elif "constraint" in a:
                c = a["constraint"]
                meta["constraints"][c["name"]] = c["expr"]
            elif "dropConstraint" in a:
                meta["constraints"].pop(a["dropConstraint"], None)
    return _LogState(active, txns, meta, cv + 1, version - cv)


def try_commit_rebase(
    table_dir: str,
    base_version: int,
    actions: list[dict],
    read_files: set[str] | None = None,
) -> dict:
    """Optimistic concurrency with LOGICAL conflict detection — the
    Delta commit protocol on top of the O_EXCL physical race guard:
    ``actions`` were prepared against ``base_version``; if other
    writers landed commits since, replay them and compare file sets.
    Disjoint files → REBASE (this commit is still valid, retry at
    the next version number, no recompute needed). Any intervening
    commit touching a conflicting file → raise CommitConflict (the
    caller must recompute against the new snapshot).
    Returns {'version', 'n_rebased'} on success.

    Isolation level is the caller's choice, mirroring Delta's two
    documented levels:

    - Default (``read_files=None``) = **WriteSerializable**: the
      conflict check covers only this transaction's WRITE set (files
      it adds/removes). A transaction whose *inputs* were replaced by
      an intervening commit touching disjoint files rebases silently
      with stale reads — write-skew is permitted, exactly as in
      Delta's default level.
    - Pass ``read_files`` (the snapshot files the transaction READ,
      e.g. ``set(snapshot_actions(dir, base_version))``) =
      **Serializable**: any intervening add/remove overlapping the
      read set also conflicts, so stale-read rebases are refused.

    At 100 TB this is what lets hundreds of concurrent writers
    append/compact different partitions of one table without locks:
    conflict checks are O(intervening actions) metadata, never data.
    """
    mine = {
        a.get("add") or a.get("remove")
        for a in actions
        if "add" in a or "remove" in a
    }
    if read_files:
        mine = mine | set(read_files)
    while True:
        head = latest_version(table_dir)
        n_rebased = 0
        for v in range(base_version + 1, head + 1):
            theirs = {
                a.get("add") or a.get("remove")
                for a in commit_actions(table_dir, v)
                if "add" in a or "remove" in a
            }
            overlap = mine & theirs
            if overlap:
                raise CommitConflict(
                    f"files {sorted(overlap)} were modified by commit "
                    f"{v} after base {base_version} — recompute required"
                )
            n_rebased += 1
        try:
            commit(table_dir, head + 1, actions)
            return {"version": head + 1, "n_rebased": n_rebased}
        except CommitConflict:
            continue  # lost the physical race; re-run the logical check


def change_feed(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two versions — the Delta
    CDF read (`table_changes`): diff the snapshots keyed by
    ``key_cols`` and label every changed row `insert` / `delete` /
    `update_preimage` / `update_postimage` in a ``_change_type``
    column. This is the PRODUCER dual of apply_cdc (which consumes
    such feeds): downstream incremental jobs read the feed instead
    of diffing 100 TB themselves.

    Plan: one full-outer join of the two snapshots on the key
    (both sides pre-projected; a changed row is detected by md5 over
    the canonical concat of non-key columns), then updates explode
    into their pre/post image pair. Cost is O(|old| + |new|) with
    one key-partitioned shuffle — and in production the log's
    add/remove lists first prune both reads to files touched between
    the versions, so the join sees changed files only.

    The join is NULL-SAFE on the key (``eqNullSafe``): a row whose
    key contains NULL still matches itself across versions, so an
    unchanged NULL-key row is suppressed rather than emitted as a
    spurious delete+insert pair — apply_cdc-produced tables can
    carry nullable keys."""
    import functools

    from pyspark.sql import functions as F

    old = read_snapshot(spark, table_dir, v_from)
    new = read_snapshot(spark, table_dir, v_to)
    val_cols = [c for c in old.columns if c not in key_cols]

    def canon(df):
        # concat_ws silently SKIPS nulls, which would hash
        # (NULL, 'x') and ('x', NULL) identically and drop real
        # updates — encode NULL as a sentinel no real value contains
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in val_cols
        ]
        h = F.md5(F.concat_ws("\x1f", *cols).cast("binary"))
        return df.withColumn("__h", h)

    o = canon(old).select(
        *[F.col(k).alias(f"__ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"__old_{c}") for c in val_cols],
        F.col("__h").alias("__old_h"),
    )
    n = canon(new).select(
        *[F.col(k).alias(f"__nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"__new_{c}") for c in val_cols],
        F.col("__h").alias("__new_h"),
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [
            F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
            for k in key_cols
        ],
    )
    j = o.join(n, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
            for k in key_cols
        ],
        *[F.col(f"__old_{c}") for c in val_cols],
        *[F.col(f"__new_{c}") for c in val_cols],
        "__old_h",
        "__new_h",
    )
    kind = (
        F.when(F.col("__old_h").isNull(), F.array(F.lit("insert")))
        .when(F.col("__new_h").isNull(), F.array(F.lit("delete")))
        .when(
            F.col("__old_h") != F.col("__new_h"),
            F.array(
                F.lit("update_preimage"), F.lit("update_postimage")
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    exploded = j.withColumn(
        "_change_type", F.explode(kind)
    )
    outs = [
        F.when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.col(f"__old_{c}"),
        )
        .otherwise(F.col(f"__new_{c}"))
        .alias(c)
        for c in val_cols
    ]
    return exploded.select(*key_cols, *outs, "_change_type")


def shallow_clone(
    src_dir: str, dst_dir: str, version: int | None = None
) -> dict:
    """Zero-copy CLONE (the Delta SHALLOW CLONE): the clone's v0 add
    actions REFERENCE the source snapshot's data files by relative
    path ("../src/f") — no bytes move, the clone is O(files)
    metadata, and it then evolves independently under its own log
    (CoW DML in the clone writes replacement files into the CLONE's
    directory and drops the reference; the source never changes).
    Stats metadata rides along, so zone-map skipping works on the
    clone immediately.

    The documented Delta caveat applies identically: VACUUMing the
    SOURCE can delete files the clone still references (clone-side
    vacuum is safe — it only scans the clone's own directory).
    At 100 TB this is how dev/test tables, experiment branches and
    reproducible-snapshot handoffs are made: instant, free, isolated.
    """
    state = _fold(src_dir, version)
    _assert_no_dv(state.active, "shallow_clone")
    # carry the folded table metadata — schema, column mapping,
    # partition specs and constraints: a clone without them would
    # read renamed columns under their physical names, fall back to
    # the physical parquet schema and accept rows the source's
    # constraints refuse, diverging from Delta SHALLOW CLONE semantics
    actions = _meta_actions(state.meta)
    n_meta = len(actions)
    for rel, action in state.active.items():
        new = dict(action)
        new["add"] = os.path.relpath(
            os.path.normpath(os.path.join(src_dir, rel)), dst_dir
        )
        actions.append(new)
    os.makedirs(dst_dir, exist_ok=True)
    commit(dst_dir, 0, actions)
    return {
        "n_files_referenced": len(actions) - n_meta,
        "schema_cloned": state.meta["metaData"] is not None,
    }


def _meta_actions(meta: dict) -> list[dict]:
    """Actions that recreate a folded metadata state (``_fold``) as
    the first commit of a fresh log."""
    actions = []
    if meta["metaData"] is not None:
        actions.append({"metaData": {"fields": meta["metaData"]}})
    if meta["columnMapping"] is not None:
        actions.append({"columnMapping": {"fields": meta["columnMapping"]}})
    actions += [{"partitionSpec": s} for s in meta["partitionSpecs"].values()]
    actions += [
        {"constraint": {"name": name, "expr": expr}}
        for name, expr in meta["constraints"].items()
    ]
    return actions


def latest_version(table_dir: str) -> int:
    return max(_versions(table_dir, ".json"), default=-1)


def write_checkpoint(table_dir: str, version: int | None = None) -> dict:
    """Delta-style LOG CHECKPOINT: consolidate the table state at
    ``version`` into ``_log/{version}.checkpoint.json`` — the full
    active action set (adds with their stats) as one file. Readers
    thereafter start from the newest checkpoint ≤ their target and
    replay only the commits after it, turning snapshot construction
    from O(commits since table creation) into O(commits since last
    checkpoint). At 100 TB with streaming writers landing a commit a
    minute, an uncheckpointed log is 10⁵ files per read after ten
    weeks — this is the feature that keeps metadata reads O(1)."""
    if version is None:
        version = latest_version(table_dir)
    state = _fold(table_dir, version)
    log = _log_dir(table_dir)
    path = os.path.join(log, f"{version:08d}.checkpoint.json")
    # write-then-rename so a concurrent reader (the module's headline
    # story) can never json.load a truncated checkpoint: os.rename
    # within one directory is atomic on POSIX — readers see either no
    # checkpoint or a complete one, never a partial write
    tmp = os.path.join(log, f".{version:08d}.checkpoint.json.tmp")
    entries = list(state.active.values())
    # txn HIGH-WATER MARKS consolidate too (the Delta checkpoint
    # carries setTransaction actions for exactly this reason): the
    # streaming exactly-once check (txn_version) then answers from
    # the newest checkpoint + tail instead of walking the whole log
    if state.txns:
        entries.append({"txns": state.txns})
    # table METADATA consolidates too (Delta checkpoints carry
    # metaData for the same reason): schema / column-mapping /
    # partition-spec / constraint resolution then starts from the
    # checkpoint — O(tail) per read instead of O(log), and still
    # answerable after pre-checkpoint commit files are retired
    entries.append({"metaState": state.meta})
    with open(tmp, "w") as f:
        json.dump(entries, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    return {
        "version": version,
        "n_active_files": len(state.active),
        "n_txn_apps": len(state.txns),
    }


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``_``/``.`` prefixes, unless
    a ``_`` name holds a partition ``=``, and in-flight copies)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(paths: list[str]) -> str | None:
    """The file whose footer alone decides Spark's inferred schema for
    ``spark.read.parquet(*paths)`` with mergeSchema off: the first
    data file, in path order, over every path's listing (absolute,
    normalized, hidden names skipped). None where that rule is not the
    whole story or cannot be checked here: a glob pattern, a path
    ``os.stat`` cannot reach, a hidden root file, a summary file
    (``_metadata``/``_common_metadata``), or a subdirectory (partition
    discovery)."""
    files: list[str] = []
    for p in paths:
        if any(c in p for c in "*?[]{}"):
            return None
        full = os.path.normpath(os.path.abspath(p))
        if os.path.isfile(full):
            if _hidden(os.path.basename(full)):
                return None
            files.append(full)
            continue
        try:
            entries = list(os.scandir(full))
        except OSError:
            return None
        for e in entries:
            if e.name.startswith(("_metadata", "_common_metadata")):
                return None
            if _hidden(e.name):
                continue
            if e.is_dir():
                return None
            files.append(e.path)
    return min(files) if files else None


def scan(
    spark: SparkSession, paths: list[str], *, merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference job
    — the one way this module reads its own parquet. Spark infers a
    multi-path read's schema from the first data file's footer
    (``_first_data_file``); that file's schema comes from the
    ``load_table`` footer memo (a Spark-written footer carries it, so
    no job), and the read runs with it as the user schema, which is
    the same answer. With ``merge_schema`` (or the session's
    ``spark.sql.parquet.mergeSchema``) every footer counts, so the
    read stays Spark's own merging one, as it does when no first file
    can be named."""
    from etl_lens_spark.sources.tables import parquet_schema

    paths = list(paths)
    reader = spark.read
    conf_merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif conf_merge.lower() != "true":
        first = _first_data_file(paths)
        if first is not None:
            reader = reader.schema(parquet_schema(spark, first))
    return reader.parquet(*paths)


def _replay(
    table_dir: str, version: int
) -> tuple[dict[str, dict], int, int]:
    """Active action set at ``version`` (see ``_fold``). Returns
    (active, start_version, n_commits_replayed)."""
    state = _fold(table_dir, version)
    return state.active, state.start, state.n_replayed


def snapshot_files(table_dir: str, version: int | None = None) -> list[str]:
    """Replay the log through ``version`` (default: latest) into the
    active file set, in first-added order — starting from the newest
    checkpoint ≤ version when one exists (write_checkpoint)."""
    if version is None:
        version = latest_version(table_dir)
    active = _replay(table_dir, version)[0]
    return [os.path.join(table_dir, p) for p in active]


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read through ``_read_active``: deletion vectors
    apply, and a DV-free snapshot is one plain ``scan``."""
    if version is None:
        version = latest_version(table_dir)
    active = _replay(table_dir, version)[0]
    if not active:
        raise ValueError("empty snapshot")
    return _read_active(spark, table_dir, active)


def _assert_no_dv(active: dict[str, dict], op: str) -> None:
    """Guard for the writers that rewrite or reference raw parquet
    (``_copy_on_write``, behind ``merge_upsert``, ``delete_where`` and
    ``apply_cdc``; ``shallow_clone``) and would silently resurrect
    MOR-deleted rows; materialize first. Every snapshot reader applies
    DVs instead."""
    dvd = sorted(r for r, a in active.items() if a.get("dv"))
    if dvd:
        raise ValueError(
            f"{op} does not support deletion-vector files {dvd} — "
            "run materialize_deletion_vectors first"
        )


# ---------------------------------------------------------------------------
# Copy-on-write DML (Delta-style MERGE / DELETE / VACUUM)
#
# The public Delta Lake pattern: DML never edits parquet in place.
# A write (1) PRUNES — finds the files that contain any affected row,
# (2) REWRITES only those files (survivors + new rows into a fresh
# file), (3) COMMITS a metadata swap (remove touched, add rewritten).
# Untouched files — at 100 TB, almost all of them — are never read by
# the rewrite job and never rewritten; the commit is O(touched)
# metadata. The reference has no DML at all (SURVEY §2.2 row "Tx/DML"
# — its SQLite is unwired); this closes that row with the only shape
# that works at scale.
#
# ``_copy_on_write`` is the one such writer: ``merge_upsert``,
# ``delete_where`` and ``apply_cdc`` only name the rows they hit and
# the rows they add. A row hits by key (``_key_hits``: broadcast
# left-semi join on the distinct keys) or by predicate
# (``_predicate_hits``), and the survivors are the other side of the
# same split, so every row of a touched file is hit or kept. A row
# whose predicate is NULL is kept, as SQL DELETE and
# ``delete_where_mor`` keep it.
# ---------------------------------------------------------------------------


def _rel_file_expr(table_dir: str, rels: list[str]):
    """Column mapping each row to the add-action relpath it was read
    from, via ``input_file_name`` — file identity without
    one-DataFrame-per-file plans (which would be O(files) plan
    nodes).

    ``rels`` are the add paths of the files read; identity is
    resolved by the file's parent-directory ABSOLUTE path through a
    literal map — correct even when a shallow clone references files
    outside ``table_dir`` (add = "../src/f"). The map is O(active
    files) literals; production at 10⁵ files swaps it for a broadcast
    join — same plan role, fixture file counts are ≤ hundreds."""
    from pyspark.sql import functions as F

    pairs = []
    for r in rels:
        abs_dir = os.path.normpath(os.path.join(table_dir, r))
        pairs += [F.lit(abs_dir), F.lit(r)]
    parent = F.regexp_replace(
        F.regexp_replace(F.input_file_name(), "^file:/*", "/"),
        "/[^/]*$",
        "",
    )
    return F.create_map(*pairs)[parent]


def _next_version(table_dir: str) -> int:
    return latest_version(table_dir) + 1


def _written_add(table_dir: str, rel: str, **extra) -> dict:
    """The add action for a rel this writer just wrote, carrying its
    ``num_records`` from the written files' parquet footers — no Spark
    job — so OPTIMIZE sizes it from the log instead of scanning it."""
    import pyarrow.parquet as pq

    n = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _list_parquet_files(os.path.join(table_dir, rel))
    )
    return {"add": rel, "num_records": n, **extra}


def _adds_unless_empty(table_dir: str, rel: str) -> list[dict]:
    """``[add]`` for a rewrite rel just written, or ``[]`` with the rel
    removed when it holds no rows — a rewrite whose every row was
    deleted leaves no empty-file litter."""
    add = _written_add(table_dir, rel)
    if add["num_records"]:
        return [add]
    import shutil

    shutil.rmtree(os.path.join(table_dir, rel))
    return []


def _write_cdc(
    spark: SparkSession,
    table_dir: str,
    version: int,
    changes: DataFrame,
) -> dict:
    """Persist a commit's row-level change record under ``_cdc/`` and
    return the {"cdc": rel} action to ride in the commit — the Delta
    ``_change_data`` mechanism: for DML whose row-level effect is not
    derivable from add/remove actions alone (MERGE, predicate
    DELETE), the WRITER records the changes so CDF readers never
    re-diff snapshots. ``changes`` must carry the table columns plus
    ``_change_type``."""
    rel = f"_cdc/cdc_{version:08d}"
    cols = [c for c in changes.columns if c != "_change_type"]
    changes.select(*cols, "_change_type").write.mode("overwrite").parquet(
        os.path.join(table_dir, rel)
    )
    return {"cdc": rel}


def _key_hits(keys: DataFrame, key_cols: list[str]):
    """Row split by key: ``hits(df)`` keeps the rows of ``df`` whose
    ``key_cols`` appear in ``keys`` (distinct, broadcast), and
    ``hits(df, False)`` the rest."""
    from pyspark.sql import functions as F

    def hits(df: DataFrame, hit: bool = True) -> DataFrame:
        how = "left_semi" if hit else "left_anti"
        return df.join(F.broadcast(keys), key_cols, how)

    return hits


def _predicate_hits(condition):
    """Row split by predicate: ``hits(df)`` keeps the rows of ``df``
    where ``condition`` is true, and ``hits(df, False)`` the rest —
    including the rows where it is NULL, which a DELETE keeps (as
    ``delete_where_mor`` does)."""
    from pyspark.sql import functions as F

    cond = F.coalesce(condition, F.lit(False))

    def hits(df: DataFrame, hit: bool = True) -> DataFrame:
        return df.filter(cond if hit else ~cond)

    return hits


def _copy_on_write(
    spark: SparkSession,
    table_dir: str,
    hits: Callable[..., DataFrame],
    *,
    writer: str,
    empty: str,
    prefix: str,
    new_rows: DataFrame | None = None,
    changes: Callable[[DataFrame | None], DataFrame] | None = None,
    op: str | None = None,
) -> tuple[int, int, int, int]:
    """Prune → rewrite → commit for every CoW writer: fold the
    snapshot (refusing DV files, and an empty one with message
    ``empty``), collect the files holding a ``hits`` row, write their
    other rows plus ``new_rows`` under ``<prefix>_<version:08d>``,
    record ``changes(old)`` as the ``_cdc`` file (``old``: the touched
    files' rows, None when none was touched), and commit the removes,
    the add, the cdc record and the ``op`` stamp, in that order. With
    no file touched and no ``new_rows`` only the stamp is committed.
    Returns (version, n_active, n_touched, n_added)."""
    active = snapshot_actions(table_dir)
    _assert_no_dv(active, writer)
    if not active:
        raise ValueError(empty)
    snap = scan(spark, [os.path.join(table_dir, r) for r in active])
    tagged = snap.withColumn("_file", _rel_file_expr(table_dir, list(active)))
    touched = [
        r[0] for r in hits(tagged).select("_file").distinct().collect()
    ]
    version = _next_version(table_dir)
    paths = [os.path.join(table_dir, r) for r in touched]
    out = hits(scan(spark, paths), False) if touched else None
    if new_rows is not None:
        out = new_rows if out is None else out.unionByName(new_rows)
    adds: list[dict] = []
    cdc: list[dict] = []
    if out is not None:
        rel = f"{prefix}_{version:08d}"
        out.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
        adds = _adds_unless_empty(table_dir, rel)
        if changes is not None:
            old = scan(spark, paths) if touched else None
            cdc = [_write_cdc(spark, table_dir, version, changes(old))]
    stamp = [{"op": op}] if op else []
    commit(
        table_dir,
        version,
        [{"remove": r} for r in touched] + adds + cdc + stamp,
    )
    return version, len(active), len(touched), len(adds)


def _key_changes(
    changes: DataFrame, key_cols: list[str], op_col: str | None
):
    """A keyed change set for ``_copy_on_write``: ``(hits, upserts,
    record)``. Every change key hits its table rows; the rows whose
    ``op_col`` is 'D' only delete, and every other row — all of them
    when ``op_col`` is None (``merge_upsert``) — is upserted.

    ``record(old)`` is the outgoing change feed: matched old rows are
    ``update_preimage`` (an upserted key) or ``delete`` (a deleted
    one), the upserts of matched keys ``update_postimage`` and the
    rest ``insert``. Without an ``op_col`` the delete branch is not
    built."""
    from pyspark.sql import functions as F

    # the distinct change keys feed the prune semi-join, the rewrite
    # anti-join and (under cdf) the change classification — stage
    # them once instead of re-running the distinct per broadcast
    # (they are O(|change keys|), already required to fit as a
    # broadcast)
    keys = stage_frame(
        changes.select(*key_cols).distinct(), "merge_source_keys"
    )
    hits = _key_hits(keys, key_cols)
    if op_col is None:
        upserts, upserted = changes, hits
    else:
        is_delete = _predicate_hits(F.col(op_col) == "D")
        upserts = is_delete(changes, False).drop(op_col)
        upserted = _key_hits(upserts.select(*key_cols).distinct(), key_cols)
    ct = "_change_type"

    def record(old: DataFrame | None) -> DataFrame:
        if old is None:
            return upserts.withColumn(ct, F.lit("insert"))
        pre = upserted(old)
        rec = pre.withColumn(ct, F.lit("update_preimage"))
        if op_col is not None:
            # a key that both deletes and upserts NETS to an update —
            # emitting its old row as delete AND update_preimage would
            # double-count it in any downstream multiset audit
            rec = rec.unionByName(
                upserted(hits(old), False).withColumn(ct, F.lit("delete"))
            )
        matched = _key_hits(pre.select(*key_cols).distinct(), key_cols)
        return rec.unionByName(
            matched(upserts).withColumn(ct, F.lit("update_postimage"))
        ).unionByName(
            matched(upserts, False).withColumn(ct, F.lit("insert"))
        )

    return hits, upserts, record


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    cdf: bool = False,
) -> dict:
    """Copy-on-write MERGE (upsert): rows of ``source`` replace
    table rows with matching ``key_cols``; unmatched source rows are
    inserted. Prune → rewrite-touched-only → metadata commit — the
    upsert-only case of ``apply_cdc``.

    Scale posture: the prune step is a left-semi join of the snapshot
    against the (broadcastable) distinct source keys, aggregated to
    DISTINCT file names — executors see each touched file once and
    only file names cross to the driver. The rewrite reads ONLY the
    touched files; at 100 TB with key-clustered data that is a tiny
    fraction of the table. Source rows travel once.

    With ``cdf=True`` the commit also records its row-level change
    feed (matched old rows → ``update_preimage``, their source rows →
    ``update_postimage``, unmatched source rows → ``insert``) as a
    ``_cdc`` file — O(|source| + rows-in-touched-files) extra work
    against the SAME touched-file reads, never the whole table — so
    table_changes / the CDF streaming source can serve this commit
    without diffing snapshots (a CoW rewrite commit without a change
    record is not CDF-servable, exactly as in Delta).
    """
    hits, _, record = _key_changes(source, key_cols, None)
    version, n_active, n_touched, _ = _copy_on_write(
        spark, table_dir, hits,
        writer="merge_upsert", empty="merge into empty snapshot",
        prefix="merge", new_rows=source,
        changes=record if cdf else None, op="MERGE",
    )
    return {
        "version": version,
        "n_files_before": n_active,
        "n_files_rewritten": n_touched,
    }


def delete_where(
    spark: SparkSession, table_dir: str, condition, cdf: bool = False
) -> dict:
    """Copy-on-write DELETE: prune to the files containing any row
    matching ``condition`` (a Column), rewrite only those files with
    the survivors, commit the swap. A row whose ``condition`` is NULL
    survives. A file whose rows are all deleted is removed with no
    replacement (no empty-file litter). With ``cdf=True`` the deleted
    rows are recorded as a ``_cdc`` change file (``_change_type`` =
    delete) riding the same touched-file read, so CDF consumers can
    serve the commit (see merge_upsert)."""
    from pyspark.sql import functions as F

    hits = _predicate_hits(condition)
    version, _, n_touched, n_added = _copy_on_write(
        spark, table_dir, hits,
        writer="delete_where", empty="delete from empty snapshot",
        prefix="delete",
        changes=(
            (lambda old: hits(old).withColumn("_change_type", F.lit("delete")))
            if cdf else None
        ),
        op="DELETE",
    )
    return {
        "version": version,
        "n_files_touched": n_touched,
        "n_files_rewritten": n_added,
    }


# ---------------------------------------------------------------------------
# Per-file column stats + data skipping (Delta-style file pruning)
#
# An add action may carry {"stats": {col: [min, max]}}. A pruned read
# intersects the predicate range with each file's stats BEFORE Spark
# ever lists the files — the log-level analog of parquet row-group
# skipping, and the mechanism that makes a point query on a 100 TB
# log-structured table open O(matching files), not O(all files).
# Files without stats are kept (conservative), so stats are an
# optimization, never a correctness dependency.
# ---------------------------------------------------------------------------


def file_stats(spark: SparkSession, path: str, cols: list[str]) -> dict:
    """``file_stats_with_count`` without the count."""
    return file_stats_with_count(spark, path, cols)[0]


def file_stats_with_count(
    spark: SparkSession, path: str, cols: list[str]
) -> tuple[dict, int]:
    """Genuine min/max per column collected from the written file,
    plus its row count — the Delta ``numRecords`` field. One agg job
    per file at write time (in production this rides the writer)
    buys metadata-only COUNT/MIN/MAX forever after."""
    from pyspark.sql import functions as F

    df = scan(spark, [path])
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return (
        {c: [row[f"mn_{c}"], row[f"mx_{c}"]] for c in cols},
        int(row["__n"]),
    )


def stats_only_agg(
    table_dir: str, cols: list[str], version: int | None = None
) -> dict:
    """Answer COUNT(*)/MIN/MAX purely from add-action metadata —
    ZERO data files opened. The Delta/Iceberg footer-only trick: on
    a 100 TB table a dashboard's COUNT/MIN/MAX is 10⁵ file opens as
    a scan but a single log read as metadata, because every add
    action already carries numRecords + per-column [min, max] and
    COUNT/MIN/MAX distribute over the file partition of the table.

    Raises if any active file lacks stats for a requested column —
    metadata answering is only sound when the stats cover every
    file; the caller falls back to a real scan in that case (the
    same contract Delta's ``OPTIMIZE``-collected stats have)."""
    active = snapshot_actions(table_dir, version)
    n_rows = 0
    mins: dict = {c: None for c in cols}
    maxs: dict = {c: None for c in cols}
    for rel, action in active.items():
        if action.get("dv"):
            # a deletion vector makes the file's write-time stats
            # stale (numRecords counts dead rows; min/max may be a
            # deleted row's value) — metadata answering is unsound
            raise ValueError(
                f"{rel}: has a deletion vector — stats are stale, "
                "fall back to a scan or materialize the DV first"
            )
        nr = action.get("num_records")
        if nr is None:
            raise ValueError(
                f"{rel}: no num_records — metadata-only agg unsound"
            )
        n_rows += int(nr)
        for c in cols:
            st = action.get("stats", {}).get(c)
            if st is None or st[0] is None or st[1] is None:
                raise ValueError(
                    f"{rel}: no [min,max] for {c!r} — fall back to scan"
                )
            mins[c] = st[0] if mins[c] is None else min(mins[c], st[0])
            maxs[c] = st[1] if maxs[c] is None else max(maxs[c], st[1])
    return {
        "n_files": len(active),
        "n_rows": n_rows,
        "min": mins,
        "max": maxs,
    }


def snapshot_actions(
    table_dir: str, version: int | None = None
) -> dict[str, dict]:
    """Active file set with each file's add-action metadata (stats),
    checkpoint-aware (see write_checkpoint)."""
    if version is None:
        version = latest_version(table_dir)
    return _replay(table_dir, version)[0]


def _read_kept(
    spark: SparkSession,
    table_dir: str,
    version: int | None,
    keep: Callable[[dict], bool],
    what: str,
) -> tuple[DataFrame, int, int]:
    """The pruned readers' shared step: read the files of ``version``
    whose add action ``keep`` accepts, through ``_read_active`` (so
    deletion vectors apply). Returns ``(df, n_files_total,
    n_files_scanned)``; raises when ``what`` prunes every file.

    Pruning stays sound on DV files: an add action keeps its
    write-time stats and bloom bits when a vector is attached, and
    dead rows can only make those wider than the live rows, never
    narrower — so a file whose live rows could match is never
    skipped."""
    active = snapshot_actions(table_dir, version)
    kept = {r: a for r, a in active.items() if keep(a)}
    if not kept:
        raise ValueError(f"{what} prunes every file")
    return _read_active(spark, table_dir, kept), len(active), len(kept)


def read_snapshot_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Read only the files whose ``col`` [min, max] intersects
    [lo, hi] (missing stats → conservatively kept) — the one-column
    case of ``read_snapshot_pruned_2d``. Returns ``(df,
    n_files_total, n_files_scanned)``. The caller still applies the
    row-level predicate — pruning is file-granular."""
    return read_snapshot_pruned_2d(
        spark, table_dir, {col: (lo, hi)}, version
    )


def read_snapshot_pruned_2d(
    spark: SparkSession,
    table_dir: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Multi-column zone-map pruning: keep a file only if EVERY
    predicated column's [min, max] intersects its [lo, hi] — the
    conjunction a 2-D box query needs, and the read path that makes
    Z-order/Hilbert clustering pay off (after a curve-clustered
    write each file has a tight bounding BOX, so both dimensions
    prune; on a linear sort only the lead key does). Missing stats
    → conservatively kept. Deletion vectors apply, and pruning by
    write-time stats stays sound on DV files (see ``_read_kept``)."""

    def keep(action: dict) -> bool:
        for col, (lo, hi) in preds.items():
            mn, mx = action.get("stats", {}).get(col) or (None, None)
            if mn is not None and mx is not None and (mx < lo or mn > hi):
                return False
        return True

    return _read_kept(spark, table_dir, version, keep, "predicate")


def apply_cdc(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    cdf: bool = False,
) -> dict:
    """Apply a CDC change feed in ONE copy-on-write pass: rows with
    ``op_col`` = 'D' delete their match, anything else upserts. The
    prune step finds files touched by ANY change key; the rewrite
    drops all matched rows and appends only the upsert rows — one
    file-identity join, one rewrite job, one commit, regardless of
    how the feed mixes operations. This is the Delta
    CHANGE-DATA-FEED apply shape: feed size bounds the work, table
    size never does.

    With ``cdf=True`` the commit also records its OUTGOING row-level
    change feed (see merge_upsert): matched old rows become
    ``update_preimage`` (upsert keys) or ``delete`` (op='D' keys),
    matched upserts ``update_postimage``, unmatched upserts
    ``insert`` — so a CDC-applied table can itself be tailed by
    downstream CDF consumers (feed chaining). A key carrying BOTH a
    delete and an upsert in one feed nets to an update (matched rows
    are dropped once, the upsert appended once), and the change
    record says exactly that — update pre/post, never a
    contradictory delete+preimage pair for one old row. A row whose
    ``op_col`` is NULL is not 'D', so it upserts."""
    hits, upserts, record = _key_changes(changes, key_cols, op_col)
    version, _, n_touched, _ = _copy_on_write(
        spark, table_dir, hits,
        writer="apply_cdc", empty="apply_cdc into empty snapshot",
        prefix="cdc", new_rows=upserts,
        changes=record if cdf else None,
    )
    return {"version": version, "n_files_rewritten": n_touched}


# ---------------------------------------------------------------------------
# Per-file Bloom filter index (point-lookup skipping)
#
# Zone maps (min/max stats above) prune RANGE predicates on clustered
# columns; they are useless for point lookups on high-cardinality,
# unclustered keys. The Delta/Parquet answer is a per-file Bloom
# filter: k seeded hashes of every key set bits in an m-bit filter
# stored in the add action; a point lookup keeps only files whose
# filter has all k bits set (false positives possible — extra scan,
# never wrong results; false negatives impossible). Bits are set via
# Spark-computed xxhash64 so build and probe share one hash.
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 17  # bits per file
_BLOOM_K = 5


def _bloom_positions(col, m: int, k: int):
    from pyspark.sql import functions as F

    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m)) for seed in range(k)]
    )


def file_bloom(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> str:
    """Build the file's Bloom filter over ``col`` and return it
    base64-packed for the commit action. The driver materializes at
    most min(k·distinct, m) bit positions — bounded by the constant
    filter size, not the file size (the production variant ORs
    per-partition bitmaps executor-side; the bound is the same)."""
    import base64

    from pyspark.sql import functions as F

    df = scan(spark, [path])
    positions = [
        r[0]
        for r in df.select(
            F.explode(
                _bloom_positions(F.col(col), m_bits, k)
            ).alias("p")
        )
        .distinct()
        .collect()
    ]
    bits = bytearray(m_bits // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def read_snapshot_bloom_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
    dtype: str = "long",
) -> tuple[DataFrame, int, int]:
    """Point lookup: keep only files whose Bloom filter (key
    ``bloom_<col>`` in the add action) may contain ``value``;
    filter-less files are conservatively kept. ``dtype`` must be the
    column's Spark type — xxhash64 hashes the physical encoding, so
    probing an int64 column with an int32 literal would miss every
    bit. Returns ``(df, n_files_total, n_files_scanned)``. Deletion
    vectors apply, and a DV file's write-time filter stays a sound
    superset of its live keys (see ``_read_kept``)."""
    import base64

    from pyspark.sql import functions as F

    positions = (
        spark.range(1)
        .select(
            _bloom_positions(
                F.lit(value).cast(dtype), _BLOOM_M, _BLOOM_K
            ).alias("p")
        )
        .collect()[0]["p"]
    )

    def keep(action: dict) -> bool:
        b64 = action.get(f"bloom_{col}")
        if b64 is None:
            return True
        bits = base64.b64decode(b64)
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    return _read_kept(spark, table_dir, version, keep, "bloom")


def optimize_compact(
    spark: SparkSession,
    table_dir: str,
    max_small_rows: int | None = None,
) -> dict:
    """OPTIMIZE: rewrite the current snapshot's small files into one
    compacted file and commit the swap — bin-packing maintenance for
    the small-file problem streaming sinks create (one file per
    micro-batch). Logical data is identical before/after; only layout
    changes, so the commit's actions are marked ``data_change: false``
    (Delta's dataChange flag) and streaming consumers tailing the log
    skip the commit entirely. With ``max_small_rows`` set, files
    larger than that stay untouched (compact only the long tail, the
    Delta OPTIMIZE contract). Readers keep snapshot isolation
    throughout: they either see the pre- or post-compaction version,
    never a mix.

    DV-aware since round 8 (purge-on-compact): a file carrying a
    deletion vector compacts through the anti-join read, so its dead
    rows are dropped IN the compaction rewrite and the sidecar
    reference disappears with the file — one pass where
    materialize-then-compact paid two full rewrites (the
    Delta/Iceberg rule: compaction purges DVs). Dead sidecars are
    then vacuum-reclaimable.

    Sizing reads the log's add-action stats (``num_records`` minus
    ``dv_count`` = live rows) — ZERO Spark jobs; only stats-less
    files fall back to ONE scan grouped by file identity (round-8
    review fix: the per-file ``count()`` loop planned O(files) jobs —
    at 10⁵ files, 10⁵ jobs). With stats present the whole operation
    plans exactly one job (the rewrite), pinned in tests."""
    active = snapshot_actions(table_dir)
    if max_small_rows is None:
        small = list(active)
    else:
        sizes: dict[str, int] = {}
        unsized: list[str] = []
        for rel, action in active.items():
            nr = action.get("num_records")
            if nr is not None:
                sizes[rel] = int(nr) - int(action.get("dv_count", 0))
            else:
                unsized.append(rel)
        if unsized:
            from pyspark.sql import functions as F

            counts = (
                scan(spark, [os.path.join(table_dir, r) for r in unsized])
                .withColumn("_file", _rel_file_expr(table_dir, unsized))
                .groupBy("_file")
                .count()
                .collect()
            )
            for r in counts:
                sizes[r["_file"]] = int(r["count"])
            for rel in unsized:  # fully-empty rels group to nothing
                sizes.setdefault(rel, 0)
                # the raw scan counted MOR-dead rows too; size by
                # live rows so purge-on-compact bins correctly
                sizes[rel] = max(
                    0, sizes[rel] - int(active[rel].get("dv_count", 0))
                )
        small = [r for r in active if sizes[r] <= max_small_rows]
    if len(small) < 2:
        return {"n_files_compacted": 0, "version": latest_version(table_dir)}
    version = _next_version(table_dir)
    rel = f"compact_{version:08d}"
    small_active = {r: active[r] for r in small}
    df = _read_active(spark, table_dir, small_active)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(table_dir, rel)
    )
    commit(
        table_dir,
        version,
        [{"remove": r, "data_change": False} for r in small]
        + [_written_add(table_dir, rel, data_change=False)],
    )
    return {
        "n_files_compacted": len(small),
        "version": version,
        "n_dvs_purged": sum(
            1 for a in small_active.values() if a.get("dv")
        ),
    }


def maybe_optimize(
    spark: SparkSession,
    table_dir: str,
    max_files: int,
    max_small_rows: int | None = None,
) -> dict:
    """Auto-OPTIMIZE cadence hook for maintainer loops (round-11
    VERDICT item 7): check the snapshot's active file count from the
    log — pure metadata, ZERO Spark jobs — and run optimize_compact
    only when it exceeds ``max_files``. A minute-cadence maintainer
    that appends one rel per epoch calls this after each commit and
    its table stays at O(max_files) active files forever, instead of
    O(epochs); round-10's OPTIMIZE-invisibility proof
    (data_change: false commits, skipped by CDF maintainers and
    streaming consumers) means the compactions change NOTHING for
    any downstream — same pairs, same top-k, same change feed."""
    n = len(snapshot_actions(table_dir))
    if n <= max_files:
        return {
            "triggered": False,
            "n_files": n,
            "version": latest_version(table_dir),
        }
    res = optimize_compact(
        spark, table_dir, max_small_rows=max_small_rows
    )
    return {"triggered": True, "n_files_before": n, **res}


def optimize_cluster(
    spark: SparkSession,
    table_dir: str,
    col: str,
    bounds: list[tuple],
) -> dict:
    """OPTIMIZE ... ZORDER/CLUSTER BY analog: rewrite the snapshot
    range-clustered on ``col`` (one output file per ``bounds``
    half-open interval), collecting fresh per-file stats into the
    commit. Data is unchanged; layout changes so that zone-map
    skipping starts working — on a hash-scattered table every file
    spans the full key range and min/max stats prune nothing, after
    clustering a range predicate opens only its interval's file.
    (Production uses one repartitionByRange write instead of one
    scan per interval; the commit protocol is identical.)

    DV-aware since round 8 (purge-on-compact, same rule as
    optimize_compact): DV-carrying files re-cluster through the
    anti-join read, dropping dead rows in the rewrite; actions are
    marked ``data_change: false`` so streaming consumers skip the
    commit."""
    active = snapshot_actions(table_dir)
    src = _read_active(spark, table_dir, active)
    from pyspark.sql import functions as F

    version = _next_version(table_dir)
    actions: list[dict] = [
        {"remove": r, "data_change": False} for r in active
    ]
    for i, (lo, hi) in enumerate(bounds):
        rel = f"cluster_{version:08d}_{i}"
        src.filter(
            (F.col(col) >= lo) & (F.col(col) < hi)
        ).write.mode("overwrite").parquet(os.path.join(table_dir, rel))
        actions.append(
            {
                "add": rel,
                "data_change": False,
                "stats": file_stats(
                    spark, os.path.join(table_dir, rel), [col]
                ),
            }
        )
    commit(table_dir, version, actions)
    return {"version": version, "n_files_out": len(bounds)}


def _reclaim_path(path: str) -> None:
    """Remove a debris entry whatever its kind — rmtree silently
    no-ops on plain files, so dispatch (round-9 review fix)."""
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def _recover_purge_debris(dir_path: str) -> None:
    """Recovery pre-pass for the GDPR purge's in-place swap protocol,
    shared by EVERY maintenance entry point that walks a directory
    the purge may have crashed in (the purge itself, vacuum,
    remove_orphans — round-9 review fix: table-root debris from a
    crashed staged-batch rewrite was previously exposed to routine
    vacuum/orphan cleanup, which would have deleted the batch's ONLY
    copies). A ``<rel>.old``/``<rel>.purge_tmp`` entry is debris ONLY
    while its base still exists; when the base is missing (a crash
    landed between the swap's two renames) the base is RESTORED —
    sorted order visits ``.old`` before ``.purge_tmp``, so the
    original wins and the purged copy then reclaims as ordinary
    debris."""
    if not os.path.isdir(dir_path):
        return
    for entry in sorted(os.listdir(dir_path)):
        if not entry.endswith((".purge_tmp", ".old")):
            continue
        full = os.path.join(dir_path, entry)
        suffix = ".purge_tmp" if entry.endswith(".purge_tmp") else ".old"
        base = full[: -len(suffix)]
        if os.path.exists(base):
            _reclaim_path(full)  # base survived the swap: true debris
        else:
            os.rename(full, base)  # crash between renames: recover


def _recover_staged_rel_debris(
    table_dir: str, head_rels: list[str] | None = None
) -> None:
    """Nested-rel debris recovery (round-10 review fix, twice over):
    the purge's in-place swap operates at the FULL rel path, so a
    mid-swap crash on a NESTED rel (e.g. ``era/part=1``) parks
    ``era/part=1.old`` in a directory that neither the table-root
    nor the ``_cdc`` pre-pass visits — the next purge's
    ``os.path.exists`` check would then silently skip the rel
    (reporting success while the subject persists in the ``.old``
    copy) and readers would fail on the missing base. Resolve per
    rel: run the shared base-missing rule in each nested add rel's
    PARENT directory — for rels in CURRENTLY STAGED entries *and*
    for rels the HEAD SNAPSHOT references (second review fix: a
    ``publish_staged`` after the crash commits the actions and
    deletes the tag without checking the base exists, so tag-only
    coverage stranded the committed rel's only copy forever).
    Top-level rels are covered by the root pre-pass; this visits
    only the extra nesting levels, once per distinct parent."""
    rels: set[str] = set()
    for entry in _staged_entries(table_dir).values():
        for a in entry["actions"]:
            if a.get("add"):
                rels.add(a["add"])
    if head_rels is None:
        head = latest_version(table_dir)
        head_rels = list(_replay(table_dir, head)[0]) if head >= 0 else []
    rels |= set(head_rels)
    seen: set[str] = set()
    for rel in rels:
        if "/" not in rel:
            continue
        if rel.split("/", 1)[0] in ("_log", "_dv", "_cdc"):
            continue
        parent = os.path.dirname(os.path.join(table_dir, rel))
        if parent not in seen:
            seen.add(parent)
            _recover_purge_debris(parent)


def vacuum(
    table_dir: str,
    retain_versions: int = 0,
    cdf_retain_versions: int | None = None,
) -> dict:
    """Physically delete data directories referenced by NO retained
    snapshot. ``retain_versions`` is the time-travel horizon (the
    Delta VACUUM retention window expressed in versions instead of
    hours): the union of the active file sets of versions
    ``head − retain_versions .. head`` is protected, so time travel
    within the horizon keeps working byte-for-byte while older
    versions' exclusive files are reclaimed. The default 0 retains
    only the latest snapshot — time travel to pre-vacuum versions is
    intentionally sacrificed, exactly as documented for the real
    thing. The log itself is kept: history metadata (DESCRIBE
    HISTORY) survives even though old data bytes are gone. Returns
    reclaim stats.

    Protected from reclamation regardless of the latest snapshot's
    add list (round-7 review fix — the original basename test would
    have destroyed all three): LIVE ``_dv`` deletion-vector sidecars,
    nested-rel data (hidden-partitioned adds like
    ``era_year/__pk=1997`` whose top-level dir is not itself a
    basename), and batches staged for a WAP audit (visible to the
    auditor, not yet in any numbered commit).

    SUPERSEDED DV sidecars are reclaimed (round-8 review fix): every
    ``delete_where_mor`` against an already-DV'd file writes a new
    merged sidecar and materialize/compact drop the reference — on a
    long-lived table dead sidecars would otherwise accumulate
    unboundedly. A ``_dv`` file survives only while some RETAINED
    snapshot's action (or a staged entry) references it.

    CDF caveat, same as Delta's: serving a historical MOR-delete
    commit needs BOTH adjacent versions' sidecars (the diff), so
    vacuum bounds CDF serving of DV-derived commits to the retention
    horizon — a tail further behind than ``retain_versions`` fails
    on the reclaimed sidecar instead of emitting wrong rows.

    ``_cdc`` change RECORDS are self-contained history and by default
    protected wholesale (``cdf_retain_versions=None``) — but on a
    long-lived streaming table that is the one unbounded-state path
    in the log: a table committing every minute accumulates change
    records forever. ``cdf_retain_versions=N`` mirrors the snapshot
    horizon for recorded change data (Delta expires CDF with the
    table retention): records of commits at or below ``head − N − 1``
    are reclaimed, and ``table_changes`` / the ``lakelog_cdf``
    streaming source REFUSE a range that touches a reclaimed record
    (``commit_change_plan`` raises) instead of silently serving an
    empty or partial feed. Retained-range serving stays
    byte-identical. Note the horizons are independent dials: CDF
    records of a commit can outlive (or predecease) that commit's
    time-travel snapshot."""
    import shutil

    head = latest_version(table_dir)
    # fold once at the window start, then step through each later
    # commit (every commit file opens once): the window's retained
    # actions are the start's active set plus every later add, and
    # the walk ends on head's active set
    active: dict[str, dict] = {}
    retained: list[tuple[str, dict]] = []
    if head >= 0:
        start = max(0, head - retain_versions)
        active = _fold(table_dir, start).active
        retained += active.items()
        for v in range(start + 1, head + 1):
            for a in commit_actions(table_dir, v):
                if "add" in a:
                    active[a["add"]] = a
                    retained.append((a["add"], a))
                elif "remove" in a:
                    active.pop(a["remove"], None)
    # crashed-purge recovery BEFORE any reclamation decision: a
    # mid-swap crash leaves a rel only as .old/.purge_tmp, and the
    # loops below must see the restored base (protected if staged/
    # retained) rather than deletable-looking debris. Running it on
    # _cdc too means a below-horizon record restored from debris is
    # immediately re-reclaimed by the retention pass below — debris
    # can never resurrect a record past its retention decision.
    _recover_purge_debris(table_dir)
    _recover_purge_debris(os.path.join(table_dir, "_cdc"))
    _recover_staged_rel_debris(table_dir, list(active))
    protected = {rel.split("/", 1)[0] for rel, _ in retained}
    # a DV sidecar rel rides in the action dict, not the key
    live_dv = {a["dv"] for _, a in retained if a.get("dv")}
    for entry in _staged_entries(table_dir).values():
        for a in entry["actions"]:
            if "add" in a:
                protected.add(a["add"].split("/", 1)[0])
            if a.get("dv"):
                live_dv.add(a["dv"])
    deleted = kept = 0
    for entry in sorted(os.listdir(table_dir)):
        # _cdc is protected wholesale: change records are HISTORY
        # (like the log itself), never part of the latest snapshot —
        # a retention-0 data vacuum must not sever running CDF tails
        if entry in ("_log", "_dv", "_cdc"):
            continue
        full = os.path.join(table_dir, entry)
        if not os.path.isdir(full):
            continue
        if entry in protected:
            kept += 1
        else:
            shutil.rmtree(full)
            deleted += 1
    n_dv_deleted = 0
    dv_dir = os.path.join(table_dir, "_dv")
    if os.path.isdir(dv_dir):
        for f in sorted(os.listdir(dv_dir)):
            if f"_dv/{f}" not in live_dv:
                os.remove(os.path.join(dv_dir, f))
                n_dv_deleted += 1
    n_cdc_deleted = 0
    if cdf_retain_versions is not None:
        if cdf_retain_versions < 0:
            raise ValueError("cdf_retain_versions must be >= 0")
        cdc_dir = os.path.join(table_dir, "_cdc")
        horizon = head - cdf_retain_versions
        if os.path.isdir(cdc_dir):
            for f in sorted(os.listdir(cdc_dir)):
                # \d{8,}: cdc_{v:08d} grows past 8 digits at v >=
                # 10^8 — an exact-8 match would never reclaim such
                # records (round-10 review fix)
                m = re.fullmatch(r"cdc_(\d{8,})", f)
                if m and int(m.group(1)) < horizon:
                    shutil.rmtree(os.path.join(cdc_dir, f))
                    n_cdc_deleted += 1
    return {
        "n_dirs_deleted": deleted,
        "n_dirs_kept": kept,
        "n_dv_sidecars_deleted": n_dv_deleted,
        "n_cdc_records_deleted": n_cdc_deleted,
    }


# ---------------------------------------------------------------------------
# Multi-table transactions: ONE log governing several table subtrees
# ---------------------------------------------------------------------------


def read_table_snapshot(
    spark: SparkSession,
    parent_dir: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read one member table of a multi-table transaction log: the
    log at ``parent_dir`` carries actions whose relpaths are
    qualified by table subtree (``fact/f0``, ``dim/d1``); a commit
    touching several subtrees is ATOMIC — a reader resolving version
    V sees every member table at V, never a torn mix (the Delta-
    uniform / multi-table-txn property; single-table Delta gets this
    only within one table). State resolution is the same log replay;
    this just projects the active set onto one subtree."""
    active = {
        r: a
        for r, a in snapshot_actions(parent_dir, version).items()
        if r.startswith(table + "/")
    }
    if not active:
        raise ValueError(f"empty snapshot for table {table!r}")
    return _read_active(spark, parent_dir, active)


# ---------------------------------------------------------------------------
# Schema evolution (Delta-style metaData actions)
# ---------------------------------------------------------------------------


def table_schema(
    table_dir: str, version: int | None = None
) -> list[tuple[str, str]] | None:
    """The table schema as of ``version``: the LAST ``metaData``
    action at or before it wins (the Delta protocol's rule). Returns
    ``[(name, sql_type), ...]`` or None if no metaData was ever
    committed (pre-evolution tables keep their physical schema).
    Checkpoint-aware via _fold."""
    fields = _fold(table_dir, version).meta["metaData"]
    return [tuple(x) for x in fields] if fields is not None else None


def read_snapshot_evolved(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read honoring the version's committed schema: files
    written before a column existed surface it as NULL of the
    declared type; columns dropped from the schema disappear even if
    old files still carry them. ``mergeSchema`` unions the physical
    schemas, then the committed schema conforms the frame — the
    read-side half of schema evolution, version-accurate under time
    travel."""
    from pyspark.sql import functions as F

    state = _fold(table_dir, version)
    if not state.active:
        raise ValueError("empty snapshot")
    df = _read_active(spark, table_dir, state.active, merge_schema=True)
    schema = state.meta["metaData"]
    if schema is None:
        return df
    cols = []
    for name, typ in schema:
        if name in df.columns:
            cols.append(F.col(name).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Write-audit-publish (WAP)
#
# The Iceberg/Delta ingestion pattern every production lakehouse uses:
# a writer STAGES its commit out-of-band (data files land on storage,
# the actions land in _log/_staged/<tag>.json — NOT in the numbered
# commit sequence, so no main reader at any version can see them),
# auditors run DQ rules against the staged snapshot (head + staged
# actions), and the batch is then atomically PUBLISHED (the staged
# actions enter the main log through the optimistic-concurrency path,
# rebasing over commits that landed during the audit) or ABORTED
# (staged entry deleted, its data files optionally vacuumed). The
# isolation pin is structural: snapshot_files/_replay only ever read
# numbered commits, so an unpublished batch is invisible by
# construction, not by convention.
# ---------------------------------------------------------------------------


def _staged_dir(table_dir: str) -> str:
    d = os.path.join(_log_dir(table_dir), "_staged")
    os.makedirs(d, exist_ok=True)
    return d


def stage(table_dir: str, tag: str, actions: list[dict]) -> dict:
    """Stage a commit for audit under ``tag``. Records the head
    version the batch was prepared against (publish conflict-checks
    intervening commits from there).

    The entry lands ATOMICALLY (round-8 review fix): content is
    written to a dot-tmp file, fsynced, then ``os.link``ed into
    place — link fails with FileExistsError if the tag exists (the
    same two-writers-one-wins guard O_EXCL gave), and the final
    ``.json`` appears with complete content or not at all, so a
    crash mid-stage can never leave a truncated entry that turns
    vacuum / find_orphans / publish into a JSONDecodeError outage."""
    base = latest_version(table_dir)
    d = _staged_dir(table_dir)
    path = os.path.join(d, f"{tag}.json")
    tmp = os.path.join(d, f".{tag}.json.{os.getpid()}.tmp")
    with open(tmp, "w") as f:
        json.dump({"base_version": base, "actions": actions}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise CommitConflict(f"tag {tag!r} already staged") from e
    finally:
        os.remove(tmp)
    return {"tag": tag, "base_version": base}


def staged_entry(table_dir: str, tag: str) -> dict:
    """The entry staged under ``tag``: FileNotFoundError when none is,
    ValueError when its file does not parse."""
    for entry in _staged_entries(table_dir, tag).values():
        return entry
    raise ValueError(f"staged entry {tag!r} does not parse")


def _staged_entries(
    table_dir: str, tag: str | None = None
) -> dict[str, dict]:
    """Every parseable staged entry (only ``tag``'s when given), keyed
    by its file path, in tag order — the one parser of
    ``_log/_staged/*.json``. Unparseable ``.json`` files (crash debris
    from pre-atomic ``stage`` writers) are skipped defensively so one
    truncated entry can never turn table-wide maintenance (vacuum /
    find_orphans / the GDPR purge) into a JSON outage; since stage()
    became atomic such files cannot be produced anymore. A named tag
    that is not staged raises FileNotFoundError.

    Only PARSE failures are skipped: an entry that cannot even be
    READ (EACCES, I/O error) propagates — deleting data because its
    protection record was temporarily unreadable would be
    fail-unsafe (round-8 review fix)."""
    staged_dir = os.path.join(_log_dir(table_dir), "_staged")
    if tag is not None:
        names = [f"{tag}.json"]
    elif os.path.isdir(staged_dir):
        names = sorted(
            f for f in os.listdir(staged_dir) if f.endswith(".json")
        )
    else:
        names = []
    out: dict[str, dict] = {}
    for f in names:
        path = os.path.join(staged_dir, f)
        try:
            with open(path) as fh:
                out[path] = json.load(fh)
        except (json.JSONDecodeError, UnicodeDecodeError):
            continue
    return out


def read_staged_snapshot(
    spark: SparkSession, table_dir: str, tag: str
) -> DataFrame:
    """The AUDIT view: the current main snapshot with the staged
    actions applied on top — what the table WOULD look like if the
    batch published now. Reading it never mutates the log."""
    active = _replay(table_dir, latest_version(table_dir))[0]
    for action in staged_entry(table_dir, tag)["actions"]:
        if "add" in action:
            active[action["add"]] = action
        elif "remove" in action:
            active.pop(action["remove"], None)
    if not active:
        raise ValueError("empty staged snapshot")
    # an audit over a DV-carrying table must not count dead rows as
    # violations: _read_active applies the vectors
    return _read_active(spark, table_dir, active)


def publish_staged(table_dir: str, tag: str) -> dict:
    """Atomically promote the staged batch into the main log via the
    optimistic-concurrency path (commits that landed during the audit
    are rebased over; conflicting ones raise CommitConflict, leaving
    the batch staged for re-audit). The published commit carries a
    ``{"wap": tag}`` marker, which is what makes retry IDEMPOTENT
    (round-7 review fix): a crash between the commit landing and the
    staged entry's removal leaves both behind — the retry finds the
    marker in the log, cleans up the staged entry, and returns the
    already-published version instead of raising a spurious
    file-overlap CommitConflict against the batch's own commit."""
    entry = staged_entry(table_dir, tag)
    published = _find_wap_commit(table_dir, entry["base_version"], tag)
    if published is not None:
        os.remove(os.path.join(_staged_dir(table_dir), f"{tag}.json"))
        return {"tag": tag, "version": published, "n_rebased": 0,
                "already_published": True}
    result = try_commit_rebase(
        table_dir,
        entry["base_version"],
        [{"wap": tag}, *entry["actions"]],
    )
    os.remove(os.path.join(_staged_dir(table_dir), f"{tag}.json"))
    return {"tag": tag, **result}


def _find_wap_commit(
    table_dir: str, base_version: int, tag: str
) -> int | None:
    """Version of the commit carrying {'wap': tag} after
    ``base_version``, or None if the tag never published."""
    for v in range(base_version + 1, latest_version(table_dir) + 1):
        if any(a.get("wap") == tag for a in commit_actions(table_dir, v)):
            return v
    return None


def abort_staged(
    table_dir: str, tag: str, remove_data: bool = False
) -> dict:
    """Drop the staged batch. With ``remove_data``, also delete the
    data files its add-actions reference (safe: they were never
    visible to any reader — the structural isolation pin)."""
    import shutil

    entry = staged_entry(table_dir, tag)
    n_removed = 0
    if remove_data:
        for action in entry["actions"]:
            if "add" in action:
                p = os.path.join(table_dir, action["add"])
                if os.path.exists(p):
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
                    n_removed += 1
    os.remove(os.path.join(_staged_dir(table_dir), f"{tag}.json"))
    return {"tag": tag, "n_data_files_removed": n_removed}


# ---------------------------------------------------------------------------
# Hidden partitioning & partition evolution (the Iceberg capability
# Delta lacks)
#
# The partition layout is TABLE METADATA, not directory convention: a
# partitionSpec action declares a transform over a source column
# (year/month/day/identity), every add action records the spec it was
# written under plus its partition value, and the spec can CHANGE
# between versions — old files remain readable and are pruned under
# THEIR OWN spec while new files prune under the new one. Queries
# never name partitions ("hidden"): a predicate on the source column
# prunes through whatever transforms the file set carries. Pruning is
# pure driver-side metadata (O(files) interval tests); the scan opens
# only surviving files.
# ---------------------------------------------------------------------------

_TRANSFORMS = ("year", "month", "day", "identity")


def spec_action(spec_id: int, source_col: str, transform: str) -> dict:
    """The partitionSpec action to include in a commit."""
    if transform not in _TRANSFORMS:
        raise ValueError(f"unknown transform {transform!r}")
    return {
        "partitionSpec": {
            "spec_id": spec_id,
            "source": source_col,
            "transform": transform,
        }
    }


def partition_specs(
    table_dir: str, version: int | None = None
) -> dict[int, dict]:
    """All partitionSpec declarations at or before ``version``
    (later re-declaration of an id wins, mirroring metaData).
    Checkpoint-aware via _fold."""
    return _fold(table_dir, version).meta["partitionSpecs"]


def _transform_col(transform: str, col):
    from pyspark.sql import functions as F

    if transform == "year":
        return F.year(col)
    if transform == "month":  # integer month index: year*12 + (m-1)
        return F.year(col) * 12 + F.month(col) - 1
    if transform == "day":  # days since epoch
        return F.datediff(col, F.lit("1970-01-01").cast("date"))
    if transform == "identity":
        return col
    raise ValueError(f"unknown transform {transform!r}")


def write_hidden_partitioned(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    prefix: str,
    spec_id: int,
    source_col: str,
    transform: str,
) -> list[dict]:
    """Write ``df`` laid out by the spec's transform (ONE partitioned
    write job, one output file per partition value) and return the
    add actions — each carrying its spec_id and partition value — for
    the caller to commit (typically alongside spec_action(...) the
    first time the spec is used)."""
    from pyspark.sql import functions as F

    out = os.path.join(table_dir, prefix)
    (
        df.withColumn("__pk", _transform_col(transform, F.col(source_col)))
        .repartition("__pk")
        .write.partitionBy("__pk")
        .parquet(out)
    )
    actions = []
    for entry in sorted(os.listdir(out)):
        if not entry.startswith("__pk="):
            continue
        raw = entry.split("=", 1)[1]
        try:
            # date transforms yield integer keys; identity over a
            # non-integer column (or a NULL source value's
            # __HIVE_DEFAULT_PARTITION__ dir) keeps the raw string —
            # such files are simply unprunable by date-range tests
            pvalue: int | str = int(raw)
        except ValueError:
            pvalue = raw
        actions.append(
            {
                "add": f"{prefix}/{entry}",
                "spec_id": spec_id,
                "pvalue": pvalue,
            }
        )
    return actions


def _partition_interval(transform: str, pvalue: int):
    """[lo, hi) date interval a partition value covers, as ISO
    strings (identity/day handled by the caller's own key space)."""
    import datetime as _dt

    if transform == "year":
        return (
            _dt.date(pvalue, 1, 1),
            _dt.date(pvalue + 1, 1, 1),
        )
    if transform == "month":
        y, m0 = divmod(pvalue, 12)
        lo = _dt.date(y, m0 + 1, 1)
        hi = (
            _dt.date(y + 1, 1, 1)
            if m0 == 11
            else _dt.date(y, m0 + 2, 1)
        )
        return lo, hi
    if transform == "day":
        lo = _dt.date(1970, 1, 1) + _dt.timedelta(days=pvalue)
        return lo, lo + _dt.timedelta(days=1)
    raise ValueError(f"transform {transform!r} has no date interval")


def prune_date_range(
    table_dir: str,
    lo: str,
    hi: str,
    version: int | None = None,
) -> dict:
    """Metadata-only partition pruning for a [lo, hi) date predicate
    on the specs' source column: every active file is tested against
    the interval its OWN spec's transform covers — so a table whose
    spec evolved (year → month) prunes each era correctly. Files
    committed without spec info can't be pruned and always open.
    Returns {'open_rels', 'opened_by_spec', 'pruned_by_spec',
    'n_unprunable'} — O(active files) driver work, zero file opens.
    """
    import datetime as _dt

    if version is None:
        version = latest_version(table_dir)
    specs = partition_specs(table_dir, version)
    plo = _dt.date.fromisoformat(lo)
    phi = _dt.date.fromisoformat(hi)
    open_rels: list[str] = []
    opened_by_spec: dict[int, int] = {}
    pruned_by_spec: dict[int, int] = {}
    n_unprunable = 0
    for rel, action in _replay(table_dir, version)[0].items():
        sid = action.get("spec_id")
        if sid is None or int(sid) not in specs:
            n_unprunable += 1
            open_rels.append(rel)
            continue
        spec = specs[int(sid)]
        # non-date transforms (identity) and non-integer partition
        # values (NULL source rows) carry no date interval: open
        # conservatively instead of raising (round-7 review fix)
        if spec["transform"] not in ("year", "month", "day") or not (
            isinstance(action.get("pvalue"), int)
        ):
            n_unprunable += 1
            open_rels.append(rel)
            continue
        flo, fhi = _partition_interval(
            spec["transform"], int(action["pvalue"])
        )
        if flo < phi and fhi > plo:
            opened_by_spec[int(sid)] = opened_by_spec.get(int(sid), 0) + 1
            open_rels.append(rel)
        else:
            pruned_by_spec[int(sid)] = pruned_by_spec.get(int(sid), 0) + 1
    return {
        "open_rels": open_rels,
        "opened_by_spec": opened_by_spec,
        "pruned_by_spec": pruned_by_spec,
        "n_unprunable": n_unprunable,
    }


def read_hidden_pruned(
    spark: SparkSession,
    table_dir: str,
    lo: str,
    hi: str,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Snapshot read for a date-range predicate with hidden-partition
    pruning applied first; the exact predicate must still be filtered
    by the caller (partition intervals are coarser than row truth).
    The surviving file set reads through ``_read_active``, so
    deletion vectors apply as on every snapshot reader."""
    if version is None:
        version = latest_version(table_dir)
    stats = prune_date_range(table_dir, lo, hi, version)
    if not stats["open_rels"]:
        raise ValueError("every file pruned — empty scan")
    active = _replay(table_dir, version)[0]
    return (
        _read_active(
            spark, table_dir, {r: active[r] for r in stats["open_rels"]}
        ),
        stats,
    )


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE)
#
# The Delta deletion-vector / Iceberg v2 position-delete capability:
# instead of rewriting a 1 GB file to delete 10 of its rows
# (copy-on-write, delete_where), the commit attaches a DELETION
# VECTOR to the file — the positions of its dead rows — and readers
# apply it as an anti-filter. DELETE cost becomes O(rows deleted)
# metadata; the data file is never rewritten. A read whose file set
# holds a DV pays one broadcast anti-join on (physical file, row
# position) over its one scan; a DV-free read runs at full native
# speed. Every row-position join goes through _join_positions, every
# file-set read through _read_active. OPTIMIZE materializes
# accumulated DVs back into clean files when read amplification
# grows. Stored here as sorted position lists in JSON sidecars under
# _dv/ (production would use roaring bitmaps — same semantics).
# ---------------------------------------------------------------------------


def _join_positions(
    spark: SparkSession,
    df: DataFrame,
    rows: list[tuple],
    how: str,
    extra: str = "",
) -> DataFrame:
    """Join a parquet ``scan`` to ``rows`` on physical row position —
    the one place the module reads the scan's hidden ``_metadata``
    column, so every position consumer (DV reads, the MOR delete,
    the CDF delete frames, the restore record) matches rows the same
    way. A row is ``(path, row index, *extra)``; ``extra`` declares
    the extra columns' DDL (``", _change_type string"``). Both sides
    key by the absolute, normalized OS path: ``rows`` paths go
    through ``os.path.abspath`` here (once per distinct path), the
    scan's through Hadoop's own normalization and then URL-decoding,
    since ``_metadata.file_path`` is a URI (a space is ``%20``, a
    ``%`` is ``%25``; a ``+`` stays raw, so it is escaped first or
    ``url_decode`` would turn it into a space). The small side is
    one Arrow table, a local relation: no Python worker and no job
    builds it. It is broadcast; an anti-join with no rows is the
    identity and only tags. The result keeps the tags ``__p`` (path)
    and ``__ri`` (row index) beside ``df``'s columns and the extra
    ones."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    uri = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    path = F.url_decode(F.replace(uri, F.lit("+"), F.lit("%2B")))
    tagged = df.withColumn("__p", path).withColumn(
        "__ri", F.col("_metadata.row_index")
    )
    if not rows and how == "left_anti":
        return tagged
    schema = StructType.fromDDL("__p string, __ri long" + extra)
    norm = {p: os.path.abspath(p) for p in {r[0] for r in rows}}
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema.fields]
    cols[0] = [norm[p] for p in cols[0]]
    keys = spark.createDataFrame(
        pa.table(dict(zip(schema.names, cols))), schema
    )
    return tagged.join(F.broadcast(keys), ["__p", "__ri"], how)


def _load_dv_positions(
    table_dir: str, active: dict[str, dict]
) -> list[tuple[str, int]]:
    """(path, row index) of every dead row across the active file
    set — O(deleted rows), the read-side DV state. Sidecars key their
    files relative to ``table_dir``; the path here is joined onto it,
    as ``_join_positions`` takes it."""
    return [
        (os.path.join(table_dir, phys), p)
        for action in active.values()
        for phys, positions in _dv_positions_by_phys(
            table_dir, action.get("dv")
        ).items()
        for p in positions
    ]


def _read_active(
    spark: SparkSession,
    table_dir: str,
    active: dict[str, dict],
    *,
    merge_schema: bool = False,
) -> DataFrame:
    """Read an active action set — the one way a snapshot reader
    turns a file set into a DataFrame (only the writers guarded by
    ``_assert_no_dv`` still scan raw). One ``scan`` over every file,
    so the schema is the one a DV-free read of the same set gets;
    the dead positions of files carrying deletion vectors are then
    anti-joined away. A DV-free set — at 100 TB, almost every
    snapshot — is exactly ``scan(paths)``: no position tag, no
    join."""
    df = scan(
        spark,
        [os.path.join(table_dir, r) for r in active],
        merge_schema=merge_schema,
    )
    dead = _load_dv_positions(table_dir, active)
    if not dead:
        return df
    return _join_positions(spark, df, dead, "left_anti").select(
        *df.columns
    )


def delete_where_mor(
    spark: SparkSession, table_dir: str, condition
) -> dict:
    """Merge-on-read DELETE: find the LIVE rows matching
    ``condition``, record their (physical file, row position) pairs
    in per-logical-file deletion vectors, and commit add-actions that
    re-point each touched file at its (merged) DV — no data file is
    read-rewritten, the commit is O(rows deleted) metadata. Repeated
    deletes against the same file UNION into one DV.

    Positions are grouped EXECUTOR-SIDE (round-8 review fix): the
    matched rows fold into one sorted position array per physical
    file before anything crosses to the driver, so driver traffic is
    O(files touched) rows — a 100 TB "delete one tenant" collects
    thousands of file rows, not 10⁹ position rows. (The arrays still
    carry the positions — the JSON sidecar is driver-written;
    production would have the same applyInPandas stage write roaring
    bitmaps directly to storage and collect only file→sidecar
    mappings.)

    Not supported on shallow clones whose adds reference files
    outside the table directory (materialize first)."""
    from pyspark.sql import functions as F

    version = _next_version(table_dir)
    active = _replay(table_dir, version - 1)[0]
    if any(rel.startswith("..") for rel in active):
        raise ValueError(
            "MOR delete on out-of-table references (shallow clone) "
            "is unsupported — materialize the clone first"
        )
    # the anti-join against the already-dead positions keeps the
    # position tags (a plain read drops them): the predicate runs on
    # live rows only, and the hits group by physical file
    tagged = _join_positions(
        spark,
        scan(spark, [os.path.join(table_dir, r) for r in active]),
        _load_dv_positions(table_dir, active),
        "left_anti",
    )
    hits = (
        tagged.filter(condition)
        .groupBy("__p")
        .agg(F.sort_array(F.collect_list("__ri")).alias("__pos"))
        .collect()
    )
    if not hits:
        return {"version": None, "n_files_touched": 0, "n_rows_deleted": 0}
    # group dead positions by logical file (the add-action rel is the
    # physical path's directory prefix); sidecars key files relative
    # to the table, one relpath per touched file
    by_rel: dict[str, dict[str, list[int]]] = {}
    rels = sorted(active, key=len, reverse=True)
    for r in hits:
        phys = os.path.relpath(r["__p"], table_dir)
        # an add rel is usually a directory prefix of the physical
        # path; a single-file add equals it exactly (review fix: a
        # miss is a clear error, not a bare StopIteration)
        rel = next(
            (x for x in rels if phys.startswith(x + "/") or phys == x),
            None,
        )
        if rel is None:
            raise ValueError(
                f"physical file {phys!r} matches no active rel"
            )
        by_rel.setdefault(rel, {})[phys] = [int(p) for p in r["__pos"]]
    os.makedirs(os.path.join(table_dir, "_dv"), exist_ok=True)
    actions = []
    n_deleted = 0
    for rel, new_pos in sorted(by_rel.items()):
        merged: dict[str, set[int]] = {
            p: set(v) for p, v in new_pos.items()
        }
        for phys, positions in _dv_positions_by_phys(
            table_dir, active[rel].get("dv")
        ).items():
            merged.setdefault(phys, set()).update(positions)
        dv_rel = f"_dv/{rel.replace('/', '__')}.v{version:08d}.json"
        with open(os.path.join(table_dir, dv_rel), "w") as f:
            json.dump(
                {p: sorted(v) for p, v in sorted(merged.items())}, f
            )
        n_dead = sum(len(v) for v in merged.values())
        n_deleted += sum(len(v) for v in new_pos.values())
        new_action = dict(active[rel])
        new_action["add"] = rel
        new_action["dv"] = dv_rel
        new_action["dv_count"] = n_dead
        actions.append(new_action)
    actions.append({"op": "DELETE (MOR)"})
    commit(table_dir, version, actions)
    return {
        "version": version,
        "n_files_touched": len(by_rel),
        "n_rows_deleted": n_deleted,
    }


def materialize_deletion_vectors(
    spark: SparkSession, table_dir: str
) -> dict:
    """OPTIMIZE for DVs: rewrite every DV-carrying file without its
    dead rows (one combined job), drop the vectors, commit the swap —
    run when accumulated read amplification outweighs the rewrite,
    exactly Delta's REORG TABLE ... APPLY (PURGE)."""
    version = _next_version(table_dir)
    active = _replay(table_dir, version - 1)[0]
    dvd = [r for r, a in active.items() if a.get("dv")]
    if not dvd:
        return {"version": None, "n_files_rewritten": 0}
    live = _read_active(spark, table_dir, {r: active[r] for r in dvd})
    rewrite_rel = f"dvmat_{version:08d}"
    live.write.parquet(os.path.join(table_dir, rewrite_rel))
    # materialization rearranges bytes without changing the logical
    # table (dead rows were already logically deleted when their DV
    # committed) — data_change false, so CDF/streaming consumers
    # skip the commit instead of re-emitting survivors
    actions: list[dict] = [
        {"remove": r, "data_change": False} for r in dvd
    ]
    actions.append(
        _written_add(table_dir, rewrite_rel, data_change=False)
    )
    commit(table_dir, version, actions)
    return {"version": version, "n_files_rewritten": len(dvd)}


# ---------------------------------------------------------------------------
# Idempotent streaming commits (Delta's txn action) + orphan cleanup
# ---------------------------------------------------------------------------


def txn_version(table_dir: str, app_id: str) -> int | None:
    """Most recent transaction version recorded for ``app_id`` —
    Delta's ``txn`` action, the exactly-once handshake between a
    streaming writer and the table. Scans BACKWARD from head and
    stops at the app's first (latest) txn action, so the per-commit
    cost of a healthy stream is O(commits since that app's last
    commit) ≈ O(1), not O(log length) (round-7 review fix — the
    forward full scan made ingestion O(batches²)). Same semantics as
    Delta: the latest writer's version is THE version. The scan stops
    at the newest checkpoint, whose consolidated high-water marks
    cover everything at or before it — no pre-checkpoint commit file
    is ever opened, and the checkpoint itself only when the app has
    not committed since."""
    head = latest_version(table_dir)
    floor, entries = _checkpoint(table_dir, head)
    for v in range(head, floor, -1):
        for a in commit_actions(table_dir, v):
            t = a.get("txn")
            if t and t.get("appId") == app_id:
                return int(t["version"])
    for entry in entries:
        if "txns" in entry:
            v = entry["txns"].get(app_id)
            return int(v) if v is not None else None
    return None


def commit_idempotent(
    table_dir: str, app_id: str, txn_ver: int, actions: list[dict]
) -> dict:
    """Exactly-once commit for streaming sinks: the commit carries a
    ``txn`` action binding (app_id, txn_ver); if the log already
    records a version >= txn_ver for this app, the commit is SKIPPED
    — a restarted micro-batch retry becomes a no-op (its re-written
    data files are left as orphans for find_orphans). The
    check-and-commit is atomic through the O_EXCL race loop: a loser
    re-reads the log INCLUDING the winner's txn action, so two
    concurrent retries of one batch can never both land.

    This is how a Structured Streaming foreachBatch sink gets
    exactly-once on top of the lake log: source progress lives in the
    stream's checkpoint, sink progress in the table's txn actions,
    and a batch replayed after a crash between the two is absorbed
    here instead of duplicating rows."""
    acts = [{"txn": {"appId": app_id, "version": int(txn_ver)}}, *actions]
    while True:
        cur = txn_version(table_dir, app_id)
        if cur is not None and txn_ver <= cur:
            return {"skipped": True, "version": None, "recorded": cur}
        head = latest_version(table_dir)
        try:
            commit(table_dir, head + 1, acts)
            return {"skipped": False, "version": head + 1,
                    "recorded": txn_ver}
        except CommitConflict:
            continue  # lost the race; re-check txn state and retry


def rewrite_minus_ids(
    spark: SparkSession,
    table_dir: str,
    gone: DataFrame,
    id_col: str,
    gone_col: str = "__gone",
) -> dict:
    """Full-table rewrite dropping rows whose ``id_col`` appears in
    ``gone`` (one broadcast anti-join) — the join-based MERGE DELETE
    shape every maintained INDEX table uses when its source's CDF
    reports departures (the LSH band index, the IVF cell index, the
    SRP bucket index). One definition so the maintenance paths
    cannot drift (round-10 review fix: the same six lines were
    copy-pasted per index). O(index) rewrite, O(changes) join
    build-side; at 100 TB you'd shard this by the index's bucket
    column — the anti-join itself already prunes to matching
    partitions when the index is bucketed by id.

    Concurrency: a lost O_EXCL race re-reads the snapshot and
    REDOES the rewrite against the winner's state (the delete must
    subtract from whatever the concurrent committer landed, not
    from the stale snapshot), cleaning up the stranded rel — the
    same retry discipline as commit_idempotent, because a silently
    lost delete is a correctness bug, not a perf nit."""
    import shutil

    from pyspark.sql import functions as F

    while True:
        active = snapshot_actions(table_dir)
        version = _next_version(table_dir)
        rel = f"minus_{version:08d}"
        new = read_snapshot(spark, table_dir).join(
            F.broadcast(gone),
            F.col(id_col) == F.col(gone_col),
            "left_anti",
        )
        new.write.mode("overwrite").parquet(
            os.path.join(table_dir, rel)
        )
        try:
            commit(
                table_dir,
                version,
                [{"remove": r} for r in active]
                + [_written_add(table_dir, rel)],
            )
            return {"version": version, "rel": rel}
        except CommitConflict:
            # lost the race: the written rel reflects a stale
            # snapshot — remove it and rebuild on the new head
            shutil.rmtree(
                os.path.join(table_dir, rel), ignore_errors=True
            )
            continue


def find_orphans(table_dir: str) -> list[str]:
    """Data entries on disk that nothing in the log references
    (failed/retried writer debris — e.g. the files a skipped
    idempotent retry wrote). Referenced means named by:

    - the adds and their ``dv`` sidecars of every checkpoint on
      disk — time travel to a checkpoint's version is served from
      that checkpoint alone, even after the commits around it are
      retired;
    - any action of every surviving commit file (add, remove, dv,
      cdc) — the whole log until commits are retired behind a
      checkpoint;
    - a batch currently STAGED for a WAP audit (the auditor reads it
      and publish will reference it).

    Distinct from vacuum's job (removed-but-once-referenced files,
    bounded by a retention horizon): an orphan is visible at no
    version a surviving commit or checkpoint can still serve, so
    deleting it can break no reader. A file that only retired
    commits named, and that no checkpoint holds, is referenced by
    nothing any more and counts as an orphan.

    NESTED rels are resolved correctly (round-10 fix for multi-table
    logs and hidden-partitioned adds): a directory that is itself an
    ANCESTOR of referenced rels (a multi-table subtree like ``view/``
    or a partition parent like ``era_year/``) is never an orphan —
    the walk recurses into it and applies the same rule one level
    down, so ``view/v_00003_deadbeef`` left by a replayed streaming
    epoch is found while its committed siblings are protected.
    Previously only top-level entries were classified, so such
    debris accumulated invisibly."""
    head = latest_version(table_dir)
    checkpoints = sorted(_versions(table_dir, ".checkpoint.json"))
    floor = max(checkpoints, default=-1)
    # every commit after the newest checkpoint must be present (a
    # hole raises); at or below it, whichever commit files survive
    versions = set(_versions(table_dir, ".json")) | set(
        range(floor + 1, head + 1)
    )
    action_lists = [list(_checkpoint(table_dir, c)[1]) for c in checkpoints]
    action_lists += [commit_actions(table_dir, v) for v in sorted(versions)]
    action_lists += [e["actions"] for e in _staged_entries(table_dir).values()]
    referenced: set[str] = set()
    for actions in action_lists:
        for a in actions:
            for key in ("add", "remove", "dv", "cdc"):
                if key in a:
                    referenced.add(a[key])
    # every strict ancestor of a referenced rel protects a subtree
    ancestors: set[str] = set()
    for r in referenced:
        parts = r.split("/")
        for i in range(1, len(parts)):
            ancestors.add("/".join(parts[:i]))

    orphans: list[str] = []

    def walk(dir_path: str, prefix: str) -> None:
        for entry in sorted(os.listdir(dir_path)):
            rel = prefix + entry
            if prefix == "" and entry in ("_log", "_dv", "_cdc"):
                continue
            if prefix != "" and entry.startswith((".", "_")):
                # Hadoop-invisible markers (_SUCCESS, .crc) inside a
                # rel's parent: writer metadata, never orphan data.
                # At the TABLE ROOT the old semantics stand — an
                # unreferenced _tmp_stage1 is writer debris and must
                # still be reclaimed (round-10 review fix)
                continue
            if entry.endswith((".purge_tmp", ".old")):
                # GDPR-purge swap artifacts, never writer debris:
                # either ordinary debris of a still-present rel or
                # the ONLY copies after a mid-swap crash — recovery
                # (vacuum / the next purge) owns them, orphan
                # cleanup must not (round-9 review fix)
                continue
            if rel in referenced:
                continue  # a live or once-referenced rel: protected
            if rel in ancestors:
                walk(os.path.join(dir_path, entry), rel + "/")
                continue  # subtree holder, judged by its children
            orphans.append(rel)

    walk(table_dir, "")
    return orphans


def remove_orphans(table_dir: str) -> dict:
    """Delete never-referenced data entries (see find_orphans).
    Runs the crashed-purge recovery first — table root, nested
    staged rels, and the parents of every referenced nested rel —
    so a mid-swap crash's ``.old``/``.purge_tmp`` copies are
    restored to their base name (and thereby protected by its
    reference) before anything is classified as deletable."""
    import shutil

    _recover_purge_debris(table_dir)
    _recover_staged_rel_debris(table_dir)

    orphans = find_orphans(table_dir)
    for entry in orphans:
        p = os.path.join(table_dir, entry)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    return {"n_removed": len(orphans), "removed": orphans}


# ---------------------------------------------------------------------------
# Change data feed served PER COMMIT (Delta's table_changes)
#
# change_feed (above) DIFFS two snapshots — O(|old| + |new|) — which
# is the right tool when the log recorded nothing about the change.
# The per-commit CDF below is the production path: each commit is
# classified into a change PLAN whose cost is O(rows actually
# changed), never O(table):
#   - a commit carrying "cdc" actions (written by cdf=True DML) IS
#     its own change record — read those files;
#   - data_change:false everywhere (OPTIMIZE / DV materialization) →
#     no logical change, emit nothing;
#   - pure appends → added files are inserts;
#   - remove-only commits → removed files are deletes;
#   - DV re-points (delete_where_mor) → the sidecar DIFF (newly-dead
#     positions per physical file) are deletes;
#   - a CoW rewrite WITHOUT a cdc record mixes surviving and new
#     rows indistinguishably → raise, exactly Delta's behavior when
#     CDF was not enabled at write time.
# The plan is pure driver-side metadata (os + json, zero Spark jobs)
# so the batch reader (table_changes) and the streaming source
# (sources/pyds.py::LakeLogCDFStreamDataSource) share one
# classification and can never disagree.
# ---------------------------------------------------------------------------


def _list_parquet_files(path: str) -> list[str]:
    """Physical parquet files under an add-rel (file or directory)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in sorted(files)
            if f.endswith(".parquet")
        )
    return sorted(out)


def commit_change_plan(table_dir: str, version: int) -> dict:
    """Classify commit ``version`` for CDF serving (see section
    comment). Returns absolute physical paths::

        {"cdc_files": [path, ...],          # rows carry _change_type
         "insert_files": [path, ...],       # whole file = inserts
         "delete_files": [(path, exclude_positions), ...],
                                            # whole file = deletes,
                                            # minus already-dead rows
         "position_deletes": [(path, positions), ...]}
                                            # listed rows = deletes

    Raises ValueError for a CoW rewrite commit with no cdc record,
    and for a commit whose file is missing (a hole, or retired after
    a checkpoint): CDF can only serve commit ranges whose files
    survive, exactly like Delta after log cleanup.
    """
    # absolute from the start, as the docstring promises, whatever
    # form table_dir takes
    table_dir = os.path.abspath(table_dir)
    actions = commit_actions(table_dir, version)
    plan: dict = {
        "cdc_files": [],
        "insert_files": [],
        "delete_files": [],
        "position_deletes": [],
    }
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    if cdc:
        for rel in cdc:
            full = os.path.join(table_dir, rel)
            if not os.path.isdir(full):
                raise ValueError(
                    f"commit {version}'s change record {rel!r} was "
                    "reclaimed by CDF retention (vacuum "
                    "cdf_retain_versions) — the range is no longer "
                    "servable; start the read above the retention "
                    "horizon (batch: v_from; streaming: the "
                    "starting_version option), exactly like Delta "
                    "after CDF expiry"
                )
            plan["cdc_files"].extend(_list_parquet_files(full))
        return plan
    if any("restore" in a for a in actions):
        raise ValueError(
            f"commit {version} is a RESTORE without a change record "
            "— its row-level effect can include DV resurrections the "
            "add/remove shape cannot express; run restore_table with "
            "cdf=True to serve CDF over it"
        )
    dc = [
        a
        for a in actions
        if ("add" in a or "remove" in a)
        and a.get("data_change") is not False
    ]
    if not dc:
        return plan  # metadata-only or layout-only commit
    prev = _replay(table_dir, version - 1)[0] if version > 0 else {}
    adds_new = [a for a in dc if "add" in a and a["add"] not in prev]
    repoints = [a for a in dc if "add" in a and a["add"] in prev]
    removes = [a for a in dc if "remove" in a]
    if adds_new and removes:
        raise ValueError(
            f"commit {version} rewrote files without a change record "
            "— its row-level changes are not derivable; write it with "
            "cdf=True (merge_upsert/delete_where) to serve CDF"
        )
    def _require_on_disk(rel: str) -> str:
        # round-9 review fix: _list_parquet_files of a vacuumed dir
        # returns [] — an insert/delete-classified commit whose data
        # was reclaimed would otherwise serve SILENTLY EMPTY, the
        # exact partial-feed failure the cdc-record refusal prevents
        full = os.path.join(table_dir, rel)
        if not os.path.exists(full):
            raise ValueError(
                f"commit {version}'s data {rel!r} was vacuumed — its "
                "row-level changes are no longer derivable; CDF "
                "serving of data-derived commits is bounded by the "
                "vacuum retention horizon, exactly like Delta"
            )
        return full

    for a in adds_new:
        if a.get("dv"):
            raise ValueError(
                f"commit {version}: new file {a['add']!r} arrived "
                "with a deletion vector — not CDF-derivable"
            )
        plan["insert_files"].extend(
            _list_parquet_files(_require_on_disk(a["add"]))
        )
    for a in removes:
        old = prev.get(a["remove"], {})
        exclude = _dv_positions_by_phys(table_dir, old.get("dv"))
        base = _require_on_disk(a["remove"])
        for p in _list_parquet_files(base):
            rel_phys = os.path.relpath(p, table_dir)
            plan["delete_files"].append(
                (p, sorted(exclude.get(rel_phys, ())))
            )
    for a in repoints:
        old = prev.get(a["add"], {})
        old_pos = _dv_positions_by_phys(table_dir, old.get("dv"))
        new_pos = _dv_positions_by_phys(table_dir, a.get("dv"))
        for phys, positions in sorted(new_pos.items()):
            fresh = sorted(set(positions) - set(old_pos.get(phys, ())))
            if fresh:
                plan["position_deletes"].append(
                    (os.path.join(table_dir, phys), fresh)
                )
    return plan


def _dv_positions_by_phys(
    table_dir: str, dv_rel: str | None
) -> dict[str, list[int]]:
    """A deletion-vector sidecar's dead positions per physical file —
    the one reader of ``_dv`` files; ``{}`` for no sidecar."""
    if not dv_rel:
        return {}
    with open(os.path.join(table_dir, dv_rel)) as f:
        return {p: [int(x) for x in v] for p, v in json.load(f).items()}


def _commit_change_frames(
    spark: SparkSession, table_dir: str, v: int
) -> list[DataFrame]:
    """One commit's change rows as DataFrames (table columns +
    ``_change_type`` + ``_commit_version``), served from its plan.
    Factored out of table_changes so the column-mapped reader can
    project each commit's frame from physical to logical names
    BEFORE the cross-era union."""
    from pyspark.sql import functions as F

    plan = commit_change_plan(table_dir, v)
    ver = F.lit(v).cast("long").alias("_commit_version")
    parts: list[DataFrame] = []
    if plan["cdc_files"]:
        parts.append(
            scan(spark, plan["cdc_files"]).select("*", ver)
        )
    if plan["insert_files"]:
        parts.append(
            scan(spark, plan["insert_files"]).select(
                "*",
                F.lit("insert").alias("_change_type"),
                ver,
            )
        )
    full_deletes = [p for p, ex in plan["delete_files"] if not ex]
    excl_deletes = [(p, ex) for p, ex in plan["delete_files"] if ex]
    if full_deletes:
        parts.append(
            scan(spark, full_deletes).select(
                "*",
                F.lit("delete").alias("_change_type"),
                ver,
            )
        )
    # removed files minus their already-dead rows, and the rows a DV
    # repoint newly kills: both are position joins
    for files, how in (
        (excl_deletes, "left_anti"),
        (plan["position_deletes"], "left_semi"),
    ):
        if files:
            df = scan(spark, sorted({p for p, _ in files}))
            rows = [(p, pos) for p, positions in files for pos in positions]
            parts.append(
                _join_positions(spark, df, rows, how).select(
                    *df.columns, F.lit("delete").alias("_change_type"), ver
                )
            )
    return parts


def table_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Batch CDF read over commits (``v_from``, ``v_to``] served from
    the per-commit plans — the Delta ``table_changes`` shape. Output:
    the table columns + ``_change_type`` + ``_commit_version``. Cost
    is O(rows changed in the range): only cdc/added/removed/DV-hit
    files are opened, untouched files never are."""
    parts: list[DataFrame] = []
    for v in range(v_from + 1, v_to + 1):
        parts.extend(_commit_change_frames(spark, table_dir, v))
    if not parts:
        raise ValueError(
            f"no changes recorded in ({v_from}, {v_to}]"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_changes_mapped(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    version: int | None = None,
) -> DataFrame:
    """CDF read over a COLUMN-MAPPED table: each commit's change rows
    (data files and ``_cdc`` records alike carry PHYSICAL column
    names — immutable, never rewritten) are projected onto the
    LOGICAL names of the mapping as of ``version`` (default: the
    current head) BEFORE the cross-era union, so records written
    before a RENAME surface under the current logical name, columns
    dropped from the mapping disappear, and columns added after a
    record was written surface as NULL of the declared type —
    exactly how ``read_snapshot_mapped`` treats data files. Delta
    parity: table_changes on a column-mapping table serves history
    under the CURRENT schema.

    Cost shape is table_changes' own (O(rows changed), per-commit
    plans); the mapping projection is a zero-cost select. The
    ``_change_type`` / ``_commit_version`` columns ride outside the
    mapping, like Delta's CDF metadata columns."""
    fields = column_mapping(table_dir, version)
    if fields is None:
        raise ValueError("table has no column mapping enabled")
    parts: list[DataFrame] = []
    for v in range(v_from + 1, v_to + 1):
        parts.extend(
            _project_mapping(
                df, fields, ["_change_type", "_commit_version"]
            )
            for df in _commit_change_frames(spark, table_dir, v)
        )
    if not parts:
        raise ValueError(
            f"no changes recorded in ({v_from}, {v_to}]"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Column mapping: RENAME / DROP / ADD COLUMN as O(1) metadata
#
# The Delta column-mapping ('name' mode) / Iceberg name-mapping
# capability — the schema-evolution piece metaData actions alone
# cannot give: a columnMapping action binds LOGICAL column names
# (what queries see) to immutable PHYSICAL names (what parquet files
# carry). RENAME edits the logical side of one mapping entry; DROP
# removes the entry; ADD binds a fresh logical name to a NEVER-USED
# physical name. No data file is ever rewritten — old files stay
# readable under whatever mapping is current, and time travel reads
# each version under ITS OWN mapping (the same spec-versioning
# pattern as hidden partitioning above). The never-reuse rule for
# physical names is what makes drop-then-re-add safe: the re-added
# column reads NULL from old files instead of resurrecting the
# dropped column's bytes — exactly Delta's semantics.
# ---------------------------------------------------------------------------


def mapping_action(fields: list[tuple[str, str, str]]) -> dict:
    """The columnMapping action for a commit: ``fields`` is
    [(logical, physical, sql_type), ...]."""
    return {"columnMapping": {"fields": [list(f) for f in fields]}}


def column_mapping(
    table_dir: str, version: int | None = None
) -> list[tuple[str, str, str]] | None:
    """The mapping as of ``version``: the LAST columnMapping action
    at or before it wins (same rule as metaData / partitionSpec).
    None if the table never enabled mapping."""
    fields = _fold(table_dir, version).meta["columnMapping"]
    return [tuple(x) for x in fields] if fields is not None else None


def _commit_mapping(table_dir: str, fields) -> dict:
    res = try_commit_rebase(
        table_dir, latest_version(table_dir), [mapping_action(fields)]
    )
    return {"version": res["version"], "fields": fields}


def rename_column(table_dir: str, old: str, new: str) -> dict:
    """RENAME COLUMN — one metadata commit, zero file rewrites: the
    mapping entry's logical name changes, its physical name (what
    every existing file carries) never does."""
    fields = column_mapping(table_dir)
    if fields is None:
        raise ValueError("table has no column mapping enabled")
    if any(logical == new for logical, _, _ in fields):
        raise ValueError(f"column {new!r} already exists")
    if not any(logical == old for logical, _, _ in fields):
        raise ValueError(f"no such column {old!r}")
    out = [
        (new if logical == old else logical, phys, typ)
        for logical, phys, typ in fields
    ]
    return _commit_mapping(table_dir, out)


def drop_column(table_dir: str, name: str) -> dict:
    """DROP COLUMN — one metadata commit: the mapping entry is
    removed; old files keep the physical bytes but no read under
    this or any later mapping selects them."""
    fields = column_mapping(table_dir)
    if fields is None:
        raise ValueError("table has no column mapping enabled")
    if not any(logical == name for logical, _, _ in fields):
        raise ValueError(f"no such column {name!r}")
    out = [f for f in fields if f[0] != name]
    return _commit_mapping(table_dir, out)


def _file_columns(table_dir: str, rels) -> set[str]:
    """Column names in the parquet footers of the data entries
    ``rels`` (a file, or a directory of part files)."""
    import pyarrow.parquet as pq

    cols: set[str] = set()
    for rel in rels:
        path = os.path.join(table_dir, rel)
        parts = [path] if os.path.isfile(path) else [
            os.path.join(d, f)
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        for part in parts:
            cols.update(pq.read_schema(part).names)
    return cols


def add_column(table_dir: str, name: str, sql_type: str) -> dict:
    """ADD COLUMN — one metadata commit binding the logical name to a
    FRESH physical name (``<name>__p<version>``), so files written
    before the add surface it as NULL and a column dropped earlier
    under the same logical name can never resurrect its old bytes.
    The version alone does not make the name fresh: a shallow clone
    numbers its own log from 0 yet reads the source's files, whose
    dropped columns may carry that very name. So the name must also
    be absent from every live file's footer."""
    state = _fold(table_dir)
    fields = state.meta["columnMapping"]
    if fields is None:
        raise ValueError("table has no column mapping enabled")
    if any(logical == name for logical, _, _ in fields):
        raise ValueError(f"column {name!r} already exists")
    phys = f"{name}__p{latest_version(table_dir) + 1}"
    used = {p for _, p, _ in fields} | _file_columns(
        table_dir, state.active
    )
    while phys in used:  # physical names are never reused
        phys += "_"
    fields = [tuple(f) for f in fields]
    return _commit_mapping(table_dir, [*fields, (name, phys, sql_type)])


def _project_mapping(
    df: DataFrame, fields, extra_cols: list[str] = ()
) -> DataFrame:
    """Reader-side translation, shared by read_snapshot_mapped and
    table_changes_mapped so the snapshot and CDF readers can never
    diverge on the same mapping (round-9 review fix): each mapping
    entry's PHYSICAL column projects to its LOGICAL name (cast to
    the declared type); a physical column absent from ``df`` (older
    files) surfaces as NULL of that type; physical columns outside
    the mapping (dropped) disappear. ``extra_cols`` ride through
    unmapped (CDF metadata columns)."""
    from pyspark.sql import functions as F

    cols = []
    for logical, phys, typ in fields:
        if phys in df.columns:
            cols.append(F.col(phys).cast(typ).alias(logical))
        else:
            cols.append(F.lit(None).cast(typ).alias(logical))
    return df.select(*cols, *extra_cols)


def to_physical(df: DataFrame, fields) -> DataFrame:
    """Writer-side translation: project the logical frame onto
    physical column names for a parquet write into a mapped table.
    Mapped columns absent from ``df`` are simply not written (old
    readers conform them to NULL)."""
    from pyspark.sql import functions as F

    cols = [
        F.col(logical).cast(typ).alias(phys)
        for logical, phys, typ in fields
        if logical in df.columns
    ]
    return df.select(*cols)


def read_snapshot_mapped(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read under the version's column mapping: files are
    read by PHYSICAL name (mergeSchema unions the physical eras),
    then projected onto the mapping's logical names — a physical
    column missing from older files surfaces as NULL of the declared
    type, and physical columns outside the mapping (dropped ones)
    disappear. Version-accurate under time travel: each version
    reads under ITS OWN mapping."""
    state = _fold(table_dir, version)
    fields = state.meta["columnMapping"]
    if fields is None:
        raise ValueError("table has no column mapping enabled")
    if not state.active:
        raise ValueError("empty snapshot")
    return _project_mapping(
        _read_active(spark, table_dir, state.active, merge_schema=True),
        fields,
    )


# ---------------------------------------------------------------------------
# CHECK constraints: data-quality rules as table metadata
#
# The Delta ALTER TABLE ADD CONSTRAINT capability: a constraint
# action binds a name to a SQL boolean expression; ADD scans the
# CURRENT snapshot once and refuses if any existing row violates
# (so a committed constraint is a table-wide invariant, not a
# from-now-on hope); writers validate each batch against the
# constraints as of their snapshot BEFORE committing, so a violating
# batch never becomes visible. Enforcement cost: O(batch) per write
# plus one column of JVM-side predicate evaluation — no extra
# shuffle, no extra scan (the count rides the write's own read).
# Constraints drop by name (metadata-only).
# ---------------------------------------------------------------------------


class ConstraintViolation(Exception):
    """A batch (or the existing table) violates a CHECK constraint."""


def table_constraints(
    table_dir: str, version: int | None = None
) -> dict[str, str]:
    """Active constraints as of ``version``: name → SQL expression
    (constraint adds minus dropConstraint actions, in log order)."""
    return dict(_fold(table_dir, version).meta["constraints"])


def _count_violations(df: DataFrame, constraints: dict[str, str]):
    """One-pass violation counts per constraint (a NULL predicate
    result counts as a violation, matching Delta CHECK semantics:
    the constraint must evaluate TRUE)."""
    from pyspark.sql import functions as F

    aggs = [
        F.sum(
            (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
        ).alias(name)
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: int(row[name] or 0) for name in constraints}


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> dict:
    """ADD CONSTRAINT: validate the CURRENT snapshot (one scan),
    refuse with ConstraintViolation if any row fails, else commit
    the constraint action. The commit passes the validated
    snapshot's file set as its READ SET (serializable isolation,
    round-8 review fix): a data commit landing between the
    validation scan and the metadata commit raises CommitConflict
    instead of rebasing past it — otherwise a concurrently-appended
    violating batch and the constraint could BOTH land, committing
    an invariant existing rows already break. The caller re-runs
    add_constraint to re-validate against the new snapshot."""
    if name in table_constraints(table_dir):
        raise ValueError(f"constraint {name!r} already exists")
    base = latest_version(table_dir)
    counts = _count_violations(
        read_snapshot(spark, table_dir, base), {name: expr}
    )
    if counts[name]:
        raise ConstraintViolation(
            f"cannot add {name!r}: {counts[name]} existing row(s) "
            f"violate ({expr})"
        )
    res = try_commit_rebase(
        table_dir,
        base,
        [{"constraint": {"name": name, "expr": expr}}],
        read_files=set(snapshot_actions(table_dir, base)),
    )
    return {"version": res["version"], "name": name}


def drop_constraint(table_dir: str, name: str) -> dict:
    if name not in table_constraints(table_dir):
        raise ValueError(f"no such constraint {name!r}")
    res = try_commit_rebase(
        table_dir, latest_version(table_dir), [{"dropConstraint": name}]
    )
    return {"version": res["version"], "name": name}


def constrained_append(
    spark: SparkSession, table_dir: str, df: DataFrame, rel: str
) -> dict:
    """Append a batch under the table's constraints: validate BEFORE
    any commit — a violating batch raises ConstraintViolation with
    per-constraint counts and never becomes visible (its parquet is
    removed if it was already staged). The violation counts ride one
    aggregate over the batch itself; the table is never re-scanned.

    Race-closed against concurrent ADD CONSTRAINT (round-8 review
    fix, the mirror of add_constraint's serializable read set): the
    commit loop re-reads the constraint set at the head it is about
    to commit onto and re-validates any constraints that appeared
    since the last check — so a batch can never slip in under a rule
    committed during its own validation."""
    import shutil

    validated: dict[str, str] = {}

    def _check(constraints: dict[str, str]) -> None:
        fresh = {
            n: e for n, e in constraints.items() if n not in validated
        }
        if fresh:
            counts = _count_violations(df, fresh)
            bad = {n: c for n, c in counts.items() if c}
            if bad:
                raise ConstraintViolation(
                    f"append rejected: violations {bad}"
                )
            validated.update(fresh)

    _check(table_constraints(table_dir))  # fast-path, before any write
    add: dict | None = None  # set once the batch is written
    while True:
        head = latest_version(table_dir)
        try:
            _check(table_constraints(table_dir, head))
        except ConstraintViolation:
            if add is not None:
                shutil.rmtree(
                    os.path.join(table_dir, rel), ignore_errors=True
                )
            raise
        if add is None:
            df.write.parquet(os.path.join(table_dir, rel))
            add = _written_add(table_dir, rel)
        try:
            commit(table_dir, head + 1, [add])
            return {"version": head + 1, "rel": rel}
        except CommitConflict:
            continue  # lost the race; re-check constraints and retry


# ---------------------------------------------------------------------------
# RESTORE (time-travel rollback) + queryable metadata tables
#
# Delta's RESTORE TABLE ... TO VERSION AS OF v: a new commit whose
# actions reset the ACTIVE SET to what it was at v — re-add the files
# that v had and head lost, remove the files head gained, repoint
# files whose action changed in between (a DV that grew since v
# shrinks back by re-committing v's action). No parquet is read or
# written unless the caller asks for the row-level change record —
# rollback of a 100 TB table is O(files changed) metadata. History
# after a restore keeps ALL versions: restore is a new commit, not a
# log truncation, so the mistake stays auditable and time travel to
# the pre-restore head still works.
# ---------------------------------------------------------------------------


def restore_table(
    spark: SparkSession,
    table_dir: str,
    to_version: int,
    cdf: bool = False,
) -> dict:
    """Roll the table back to ``to_version`` as a NEW commit.

    With ``cdf=True`` the restore also writes the row-level change
    record CDF consumers need (Delta emits change data for RESTORE
    when CDF is enabled): rows of re-added files are inserts, rows of
    removed files are deletes (minus rows already dead under head's
    DVs — they were never visible, so they don't "un-delete"), and
    rows resurrected by a shrinking deletion vector are inserts read
    back by position. Without ``cdf`` the commit carries only the
    metadata swap and ``table_changes`` over it refuses — same rule
    as a CoW rewrite without a record.

    METADATA rolls back with the data (Delta parity: RESTORE
    "restores the table to an earlier state including data and
    schema"): when the target version's columnMapping or metaData
    state differs from head's, the restore commit re-emits the
    TARGET's action so later reads (read_snapshot_mapped,
    table_schema) see the pre-restore-point definitions — a RESTORE
    across a RENAME rolls the rename back. CHECK constraints roll
    back the same way (drop what head added since the target, re-add
    what head dropped): restoring across an ADD CONSTRAINT must not
    leave a standing constraint that the resurrected rows violate. One stricter stance,
    documented: a target that predates mapping/schema ENABLEMENT
    cannot be expressed (last-wins metadata has no "unset" action —
    the same reason Delta cannot disable column mapping), so that
    restore refuses rather than leaving head's metadata silently in
    force. Partition specs are NOT rolled back: files carry their
    spec_id permanently (spec-versioned reads), so old specs stay
    correct without any rollback.

    Raises if any file ``to_version`` needs was vacuumed away — the
    restore window is bounded by the vacuum retention horizon,
    exactly like Delta."""
    head = latest_version(table_dir)
    if to_version < 0 or to_version > head:
        raise ValueError(
            f"restore target {to_version} outside log [0, {head}]"
        )
    state_t = _fold(table_dir, to_version)
    state_h = _fold(table_dir, head)
    target, current = state_t.active, state_h.active
    re_add = {
        r: a for r, a in target.items() if r not in current
    }
    removes = sorted(r for r in current if r not in target)
    repoints = {
        r: a
        for r, a in target.items()
        if r in current and current[r] != a
    }
    meta_t, meta_h = state_t.meta, state_h.meta
    meta_actions: list[dict] = []
    for key, action_key in (
        ("columnMapping", "columnMapping"),
        ("metaData", "metaData"),
    ):
        if meta_t[key] != meta_h[key]:
            if meta_t[key] is None:
                raise ValueError(
                    f"cannot restore to version {to_version}: it "
                    f"predates {key} enablement and last-wins "
                    "metadata cannot be unset (the same reason "
                    "Delta cannot disable column mapping) — "
                    "restore to a version at or after enablement"
                )
            meta_actions.append({action_key: {"fields": meta_t[key]}})
    # constraints roll back too (round-9 review fix: restoring
    # across an ADD CONSTRAINT would otherwise resurrect rows that
    # violate a STANDING committed CHECK — the "table-wide
    # invariant" contract silently broken). Unlike mapping/metaData,
    # constraints have drop actions, so any target state is
    # expressible: drop what head added since the target, re-add
    # what head dropped (target-time expressions win on change).
    cons_t, cons_h = meta_t["constraints"], meta_h["constraints"]
    for name in sorted(set(cons_h) - set(cons_t)):
        meta_actions.append({"dropConstraint": name})
    for name in sorted(cons_t):
        if cons_h.get(name) != cons_t[name]:
            meta_actions.append(
                {"constraint": {"name": name, "expr": cons_t[name]}}
            )
    if not re_add and not removes and not repoints and not meta_actions:
        return {
            "version": None,
            "n_readded": 0,
            "n_removed": 0,
            "n_repointed": 0,
            "n_meta_restored": 0,
        }
    missing = sorted(
        r
        for r, a in {**re_add, **repoints}.items()
        if not os.path.exists(os.path.join(table_dir, r))
        or (
            a.get("dv")
            and not os.path.exists(os.path.join(table_dir, a["dv"]))
        )
    )
    if missing:
        raise ValueError(
            f"cannot restore to version {to_version}: files {missing} "
            "were vacuumed — the restore window is bounded by the "
            "vacuum retention horizon"
        )
    version = head + 1
    actions: list[dict] = [
        {"restore": {"from": head, "to": to_version}}
    ]
    if cdf:
        record = _restore_change_record(
            spark, table_dir, re_add, removes, repoints, current
        )
        actions.append(_write_cdc(spark, table_dir, version, record))
    actions.extend(meta_actions)
    actions.extend(dict(re_add[r]) for r in sorted(re_add))
    actions.extend({"remove": r} for r in removes)
    actions.extend(dict(repoints[r]) for r in sorted(repoints))
    commit(table_dir, version, actions)
    return {
        "version": version,
        "n_readded": len(re_add),
        "n_removed": len(removes),
        "n_repointed": len(repoints),
        "n_meta_restored": len(meta_actions),
    }


def _restore_change_record(
    spark: SparkSession,
    table_dir: str,
    re_add: dict[str, dict],
    removes: list[str],
    repoints: dict[str, dict],
    current: dict[str, dict],
) -> DataFrame:
    """Row-level changes a restore implies, reading ONLY the files
    the restore touches (O(changed data), never the table); a
    restore with no row-level effect returns an empty frame (the
    cdc action is ALWAYS written under cdf=True)."""
    from pyspark.sql import functions as F

    parts: list[DataFrame] = []
    if re_add:
        parts.append(
            _read_active(spark, table_dir, re_add).withColumn(
                "_change_type", F.lit("insert")
            )
        )
    if removes:
        parts.append(
            _read_active(
                spark, table_dir, {r: current[r] for r in removes}
            ).withColumn("_change_type", F.lit("delete"))
        )
    # DV repoints, BOTH directions (a prior restore can shrink a
    # vector, so neither side's dead set need contain the other):
    # positions dead at head but alive at the target resurrect as
    # inserts; positions alive at head but dead at the target emit
    # as deletes — one-directional diffing here silently omitted the
    # delete rows and poisoned every CDF consumer (review fix).
    labelled: list[tuple[str, int, str]] = []
    rels: set[str] = set()
    for r, tgt_action in repoints.items():
        head_pos = _dv_positions_by_phys(
            table_dir, current[r].get("dv")
        )
        tgt_pos = _dv_positions_by_phys(table_dir, tgt_action.get("dv"))
        for phys in set(head_pos) | set(tgt_pos):
            h = set(head_pos.get(phys, ()))
            t = set(tgt_pos.get(phys, ()))
            path = os.path.join(table_dir, phys)
            labelled += [(path, p, "insert") for p in sorted(h - t)]
            labelled += [(path, p, "delete") for p in sorted(t - h)]
            if h != t:
                rels.add(r)
    if labelled:
        # ONE scan serves both directions (the two position sets are
        # disjoint — a position cannot resurrect and re-die in the
        # same restore): scan only the rels that own a contributing
        # physical file, inner-join the broadcast labelled set
        raw = scan(spark, [os.path.join(table_dir, r) for r in sorted(rels)])
        parts.append(
            _join_positions(
                spark, raw, labelled, "inner", ", _change_type string"
            ).select(*raw.columns, "_change_type")
        )
    if not parts:
        # cdf=True with no row-level changes (e.g. a repoint whose
        # action differs only in metadata): record an EMPTY change
        # set rather than omitting the cdc action — a later CDF read
        # over the commit must serve zero rows, not refuse
        some_rel = next(iter({**re_add, **repoints, **current}))
        return (
            scan(spark, [os.path.join(table_dir, some_rel)])
            .limit(0)
            .withColumn("_change_type", F.lit("insert"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a DataFrame — one row per surviving commit
    file: (version, operation, n_add, n_remove, n_meta, data_change,
    has_cdc). Operation is classified from the actions themselves
    (marker actions first, then add/remove shape), so history needs
    no writer cooperation and is O(log) driver-side metadata — the
    Delta/Iceberg history and snapshots metadata-table shape."""
    rows = [
        (v, *_classify_commit(commit_actions(table_dir, v)))
        for v in sorted(_versions(table_dir, ".json"))
    ]
    return spark.createDataFrame(
        rows,
        "version int, operation string, n_add int, n_remove int, "
        "n_meta int, data_change boolean, has_cdc boolean",
    )


_META_KEYS = (
    "metaData",
    "columnMapping",
    "partitionSpec",
    "constraint",
    "dropConstraint",
    "txn",
)


def _classify_commit(
    actions: list[dict],
) -> tuple[str, int, int, int, bool, bool]:
    adds = [a for a in actions if "add" in a]
    rems = [a for a in actions if "remove" in a]
    metas = [
        a for a in actions if any(k in a for k in _META_KEYS)
    ]
    has_cdc = any("cdc" in a for a in actions)
    data_change = any(
        a.get("data_change") is not False for a in adds + rems
    )
    stamped = [a["op"] for a in actions if "op" in a]
    if stamped:
        # writer-stamped verb (merge_upsert/delete_where/
        # delete_where_mor) — the shape heuristic below cannot tell a
        # cdf=True DELETE's rewrite from a MERGE's (review fix)
        op = stamped[0]
    elif any("restore" in a for a in actions):
        op = "RESTORE"
    elif any("wap" in a for a in actions):
        op = "WAP PUBLISH"
    elif any("constraint" in a for a in actions):
        op = "ADD CONSTRAINT"
    elif any("dropConstraint" in a for a in actions):
        op = "DROP CONSTRAINT"
    elif any("columnMapping" in a for a in actions):
        op = "ALTER COLUMNS"
    elif any("partitionSpec" in a for a in actions):
        op = "SET PARTITION SPEC"
    elif adds and rems and not data_change:
        op = "OPTIMIZE"
    elif adds and rems:
        op = "MERGE" if has_cdc else "REWRITE"
    elif rems and has_cdc:
        op = "DELETE"
    elif rems and any(a.get("dv") for a in rems):  # pragma: no cover
        op = "DELETE"
    elif adds and any(a.get("dv") for a in adds):
        op = "DELETE (MOR)"
    elif adds:
        op = "WRITE"
    elif rems:
        op = "DELETE FILES"
    else:
        op = "METADATA"
    return (
        op,
        len(adds),
        len(rems),
        len(metas),
        bool(data_change),
        bool(has_cdc),
    )


def table_files(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The files metadata table — one row per ACTIVE add action at
    ``version``: (rel, n_records from write-time stats or -1 when the
    writer recorded none, dv_count, spec_id). Pure log replay, zero
    parquet opens — the Iceberg ``table$files`` / Delta detail shape,
    and the same numbers OPTIMIZE's zero-job sizing reads."""
    if version is None:
        version = latest_version(table_dir)
    active = _replay(table_dir, version)[0]
    rows = []
    for rel in sorted(active):
        a = active[rel]
        n = a.get("num_records")
        # the action's dv_count field first (pure log replay, the
        # same number the zero-job OPTIMIZE sizing reads); parse the
        # sidecar only for legacy actions that never recorded it
        dv_count = int(a.get("dv_count", 0))
        if not dv_count and a.get("dv"):
            for positions in _dv_positions_by_phys(
                table_dir, a["dv"]
            ).values():
                dv_count += len(positions)
        rows.append(
            (
                rel,
                int(n) if n is not None else -1,
                dv_count,
                int(a.get("spec_id", 0)),
            )
        )
    return spark.createDataFrame(
        rows, "rel string, n_records long, dv_count long, spec_id int"
    )


# ---------------------------------------------------------------------------
# GDPR: purge a subject's rows from recorded change data
# ---------------------------------------------------------------------------


def gdpr_purge_change_records(
    spark: SparkSession, table_dir: str, condition
) -> dict:
    """Right-to-be-forgotten for the CHANGE DATA FEED: rewrite every
    recorded ``_cdc`` change file dropping rows matching
    ``condition`` (a Column over the table's columns), in place —
    log references stay valid, surviving rows keep serving, and a
    marker commit (``{"gdprPurge": {...}}``, data_change false, op
    "GDPR PURGE") audits THAT a purge happened without re-recording
    any row content. This is the piece plain DML cannot reach: a
    cdf=True DELETE of the subject writes a change record that
    itself CARRIES the subject's data, and time travel keeps serving
    every older record.

    The full GDPR recipe, in order (each step covers what the others
    cannot):
    1. ``delete_where(..., cdf=True)`` — removes the subject from
       the live table;
    2. this function — removes the subject from every recorded
       change file, INCLUDING step 1's own delete record (with CDF
       retention in force — ``vacuum(cdf_retain_versions=N)`` — only
       the retained window still holds records to rewrite; expired
       records were already reclaimed wholesale);
    3. ``vacuum`` past the retention horizon — reclaims pre-delete
       data files that time travel could still read. Derived CDF
       rows (deletion-vector diffs) read from DATA files, not
       records, so step 3 is what erases them.

    Cost: O(change records), two jobs per record holding a match
    (count + rewrite); untouched records are read once and left
    byte-identical. Never touches COMMITTED data files or the main
    log chain. STAGED WAP batches are the one exception (round-9
    review fix): a batch staged for audit but never published is
    invisible to committed readers yet its files can carry the
    subject, and nothing else would ever erase it — the purge
    rewrites each staged entry's add rels in place too (full rel
    paths; staged cdc rels live under ``_cdc`` where the wholesale
    walk already covers them; rels also present in the head snapshot
    are skipped: live data belongs to steps 1 and 3; a rewritten
    rel's staged action drops its stats-bearing keys so a later
    publish cannot serve pre-purge counts). ``read_staged_snapshot``
    after a purge serves the staged batch without the subject.

    Review-hardened: the purge walks the ``_cdc`` DIRECTORY, not the
    surviving log files — records of commits retired behind a
    checkpoint would otherwise be skipped while vacuum protects
    ``_cdc`` wholesale, leaving the subject on disk forever. The
    in-place swap parks the old record as ``<rel>.old`` before
    renaming the rewrite in (a crash window leaves BOTH versions on
    disk rather than neither). A recovery pre-pass runs BEFORE the
    purge walk: a ``.old``/``.purge_tmp`` entry is debris ONLY while
    its base record still exists — when the base is missing (a crash
    landed between the two renames), the pre-pass RESTORES it
    (``.old`` renamed back, else a completed ``.purge_tmp`` promoted)
    so the record re-enters this run's purge instead of being
    reclaimed into nonexistence; debris removal dispatches on
    file-vs-directory so a plain-file leftover is actually removed.
    The pre-pass covers the table ROOT unconditionally (round-10
    fix: root debris whose staged tag was since removed must not
    wait for vacuum) and every NESTED staged rel's parent directory
    (round-10 fix: the swap operates at the full rel path, so
    ``era/part=1.old`` lives where no directory-level pass looks).
    The audit marker commit retries through CommitConflict so a
    concurrent writer cannot leave a completed purge unaudited."""
    import shutil

    from pyspark.sql import functions as F

    # NULL-safe: a NULL predicate result must neither purge the row
    # nor drop it from the kept set
    cond = F.coalesce(condition, F.lit(False))

    def _purge_dir(full: str) -> int:
        # handles dir AND plain-file rels (the log supports both —
        # round-9 review fix: the isdir-only sweep silently skipped
        # single-file staged adds, leaving the subject on disk while
        # reporting success); a purged file rel becomes a dir rel,
        # which every reader already handles via _list_parquet_files
        df = scan(spark, [full])
        hits = df.filter(cond).count()
        if not hits:
            return 0
        keep = df.filter(~cond)
        tmp = full + ".purge_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        keep.write.parquet(tmp)
        old = full + ".old"
        _reclaim_path(old)
        os.rename(full, old)
        os.rename(tmp, full)
        _reclaim_path(old)
        return int(hits)

    total = 0
    n_files = 0
    cdc_dir = os.path.join(table_dir, "_cdc")
    # Recovery pre-pass BEFORE the purge walk — unconditional for the
    # table root too (round-10 review fix: root-level debris from a
    # crashed staged-rel purge whose staged entry was since removed
    # must not wait for vacuum), and per-parent for NESTED staged
    # rels, whose debris lives where no directory-level pass looks.
    _recover_purge_debris(cdc_dir)
    _recover_purge_debris(table_dir)
    _recover_staged_rel_debris(table_dir)
    entries = sorted(os.listdir(cdc_dir)) if os.path.isdir(cdc_dir) else []
    for entry in entries:
        full = os.path.join(cdc_dir, entry)
        if entry.endswith((".purge_tmp", ".old")):
            continue  # unreachable after the pre-pass; never purge data
        if not os.path.isdir(full):
            continue
        hits = _purge_dir(full)
        if hits:
            total += hits
            n_files += 1
    # Staged WAP sweep (round-9 review fix): a batch staged for audit
    # but never published is invisible to every committed reader, yet
    # its data files can carry the subject — and neither vacuum (which
    # protects staged adds) nor DML (which never sees them) would ever
    # erase it. Rewrite each staged entry's FULL add rel in place with
    # the same swap protocol (full rel, not its top segment — a
    # truncated nested rel would rewrite the wrong directory, and a
    # staged 'cdc' rel lives under _cdc where the wholesale walk
    # above already covered it). Rels that ALSO appear in the head
    # snapshot are skipped (live data belongs to steps 1 and 3 of the
    # recipe, never to this function). A rewritten rel's staged
    # action drops its stats-bearing keys — write-time num_records/
    # stats describe the pre-purge bytes and a later publish must not
    # serve them (stats-only reads would report purged rows).
    n_staged = 0
    live = set(_replay(table_dir, latest_version(table_dir))[0])
    for path, entry in _staged_entries(table_dir).items():
        rewritten_rels: set[str] = set()
        for a in entry["actions"]:
            rel = a.get("add")
            if (
                not rel
                or rel in live
                or rel.split("/", 1)[0] in ("_log", "_dv", "_cdc")
            ):
                continue
            full = os.path.join(table_dir, rel)
            if not os.path.exists(full):
                continue
            hits = _purge_dir(full)
            if hits:
                total += hits
                n_staged += 1
                rewritten_rels.add(rel)
        if rewritten_rels:
            for a in entry["actions"]:
                if a.get("add") in rewritten_rels:
                    a.pop("num_records", None)
                    a.pop("stats", None)
            tmp = path + ".purging"
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)
    while True:
        head = latest_version(table_dir)
        try:
            commit(
                table_dir,
                head + 1,
                [
                    {
                        "gdprPurge": {
                            "n_rows": int(total),
                            "n_records": n_files,
                            "n_staged_rels": n_staged,
                        }
                    },
                    {"op": "GDPR PURGE"},
                ],
            )
            break
        except CommitConflict:
            continue  # metadata-only marker: safe to retry at new head
    return {
        "version": head + 1,
        "n_rows_purged": int(total),
        "n_records_rewritten": n_files,
        "n_staged_rels_rewritten": n_staged,
    }
