"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``) — the
user-defined-source extension point, the true Spark analog of SQLite's
loadable virtual tables (``sqlite3.h:7586-7592``: a module that
surfaces arbitrary external data as a relation).

``SynthEventsDataSource`` fabricates a deterministic keyed relation
WITHOUT any backing file: N partitions each generate a contiguous id
slice executor-side, so the source scales horizontally exactly like a
file scan (every partition is independent work). Payload columns are
md5-derived, so an oracle in any engine can recompute the identical
relation — the registration/partition/read plumbing is what's under
test, not the data.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10000))
        self.n_parts = max(1, int(options.get("n_parts", 8)))

    def partitions(self):
        if self.n_rows <= 0:
            # pyspark rejects an empty partition list (ValueError) —
            # an empty relation is one empty slice
            return [_Slice(0, 0)]
        step = (self.n_rows + self.n_parts - 1) // self.n_parts
        return [
            _Slice(i, min(i + step, self.n_rows))
            for i in range(0, self.n_rows, step)
        ]

    def read(self, partition):
        import hashlib

        for rid in range(partition.start, partition.end):
            h = int(
                hashlib.md5(f"pyds{rid}".encode()).hexdigest()[:8], 16
            )
            yield (rid, h, h % 5, (h % 1000) / 100.0)


class SynthEventsDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synth_events"

    def schema(self):
        return "rid long, h long, category long, score double"

    def reader(self, schema):
        return SynthEventsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming Python DataSource — the executor-parallel streaming-source
# extension point (Spark 4 DataSourceStreamReader): the kafka-shaped
# contract (latestOffset -> partitions -> parallel read -> commit)
# implemented in pure Python. The micro-batch planner asks the DRIVER
# only for offset arithmetic; row generation happens executor-side,
# one task per split, exactly like a kafka topic's partition fetch.
# Rows use the same md5-derived formula as the batch source above, so
# any engine can recompute the identical relation — replay-to-batch
# equivalence is the oracle.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (
    DataSourceStreamReader,
    DataSourceWriter,
    WriterCommitMessage,
)


def _synth_row(rid: int):
    import hashlib

    h = int(hashlib.md5(f"pyds{rid}".encode()).hexdigest()[:8], 16)
    return (rid, h, h % 5, (h % 1000) / 100.0)


class SynthTickStreamReader(DataSourceStreamReader):
    """Bounded deterministic tick stream: advances ``batch_rows`` ids
    per micro-batch until ``n_rows``, then reports an unchanged
    latest offset (so ``processAllAvailable`` drains and returns).
    Offsets are ``{"pos": int}`` — restart-safe: Spark re-plans any
    uncommitted range via ``partitions(start, end)`` and the
    generation is a pure function of the id range."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10000))
        self.batch_rows = int(options.get("batch_rows", 1000))
        self.n_parts = int(options.get("n_parts", 4))
        self._pos = 0

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        self._pos = min(self._pos + self.batch_rows, self.n_rows)
        return {"pos": self._pos}

    def partitions(self, start, end):
        s, e = int(start["pos"]), int(end["pos"])
        if e <= s:
            return []
        step = max(1, (e - s + self.n_parts - 1) // self.n_parts)
        return [_Slice(i, min(i + step, e)) for i in range(s, e, step)]

    def read(self, partition):
        for rid in range(partition.start, partition.end):
            yield _synth_row(rid)

    def commit(self, end):
        pass


class SynthTickStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synth_ticks"

    def schema(self):
        return "rid long, h long, category long, score double"

    def streamReader(self, schema):
        return SynthTickStreamReader(self.options)


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, rel: str, count: int):
        self.rel = rel
        self.count = count


class JsonLinesWriter(DataSourceWriter):
    """Executor-side task writer with the real commit protocol:
    every task streams its partition to a STAGED file (unique name —
    speculative/ retried tasks can never collide) and returns a
    commit message; only the driver's ``commit`` publishes the staged
    files by rename plus a manifest, and ``abort`` removes them — so
    a failed job leaves no partial output visible. On object storage
    the rename becomes a manifest-only commit (the lakelog pattern);
    the protocol is identical."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        import json
        import os
        import uuid

        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        rel = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(stage_dir, rel), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(rel, n)

    def commit(self, messages):
        import json
        import os
        import shutil

        total = 0
        published = []
        for m in messages:
            src = os.path.join(self.path, "_staging", m.rel)
            dst = os.path.join(self.path, m.rel)
            shutil.move(src, dst)
            published.append({"file": m.rel, "rows": m.count})
            total += m.count
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump({"total_rows": total, "files": published}, f)
        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )

    def abort(self, messages):
        import shutil
        import os

        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class JsonLinesSinkDataSource(DataSource):
    """User-defined Python DataSource WRITER (Spark 4 DataSource
    write path) — the sink-side twin of SynthEventsDataSource /
    SynthTickStreamDataSource, completing the Python DSv2 surface
    (batch read, streaming read, batch write)."""

    @classmethod
    def name(cls):
        return "jsonl_sink"

    def writer(self, schema, overwrite):
        return JsonLinesWriter(self.options)


# ---------------------------------------------------------------------------
# The lake log as a STREAMING SOURCE ("Delta as a source"): offsets
# are commit versions; each micro-batch reads the rows of the files
# ADDED by exactly one commit. This is how incremental consumers
# (downstream aggregations, CDC appliers, index maintainers) tail a
# lakehouse table without re-scanning it — the streaming dual of
# lakelog.change_feed's batch diff.
#
# Both lake-log readers plan a micro-batch as physical-file slices and
# pack them into at most one partition per usable core, balanced by
# file bytes; a task reads its slices with pyarrow and yields Arrow
# record batches cast to the declared schema — no per-row Python.
# ---------------------------------------------------------------------------


class _FileSlice:
    """One physical parquet file of a micro-batch and what to emit from
    it. ``change_type`` is the literal ``_change_type`` of its rows;
    ``None`` means a cdc record that carries its own (or, in the plain
    lake stream, no change columns at all). ``take`` keeps only the
    listed row positions (deletion-vector-derived deletes); ``drop``
    removes them (rows already dead when their file was removed)."""

    def __init__(self, path, version, change_type=None, take=None,
                 drop=()):
        self.path = path
        self.version = version
        self.change_type = change_type
        self.take = take
        self.drop = drop


class _PackedSlices(InputPartition):
    """One Spark task's share of a micro-batch's file slices."""

    def __init__(self, slices: list[_FileSlice]):
        self.slices = slices


def _pack(slices: list[_FileSlice]) -> list[_PackedSlices]:
    """Pack slices into at most ``len(os.sched_getaffinity(0))``
    partitions balanced by file bytes: the largest file goes first onto
    the lightest partition. Every Python task costs a worker round trip
    however small its file, so one task per file (a typical
    change-feed drain has dozens of few-row files) paid that cost per
    file. Within a partition the slices keep their planned order."""
    import heapq
    import os

    if not slices:
        return []
    sizes = [os.path.getsize(s.path) for s in slices]
    n = min(len(slices), len(os.sched_getaffinity(0)))
    loads = [(0, i) for i in range(n)]
    bins: list[list[int]] = [[] for _ in range(n)]
    for j in sorted(range(len(slices)), key=lambda j: -sizes[j]):
        load, i = heapq.heappop(loads)
        bins[i].append(j)
        heapq.heappush(loads, (load + sizes[j], i))
    return [_PackedSlices([slices[j] for j in sorted(b)]) for b in bins]


def _conform(col, typ):
    """Cast one column to the Arrow type of its declared Spark type.
    Spark checks only the first batch's column count and names, so a
    type mismatch would otherwise reach the engine unnoticed.
    Nanosecond timestamps are floored to µs (Spark holds µs; the same
    rule ``load_table`` applies to ``events.ts``); a naive value read
    as ``timestamp`` is taken as UTC, the session time zone."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if (
        pa.types.is_timestamp(col.type)
        and col.type.unit == "ns"
        and pa.types.is_timestamp(typ)
    ):
        col = pc.floor_temporal(col, unit="microsecond")
    return col.cast(typ)


def _slice_batches(s: _FileSlice, target, cdf: bool):
    """The record batches of one slice, in the ``target`` Arrow schema:
    the data columns, then (``cdf``) ``_change_type`` and
    ``_commit_version``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = target.names[:-2] if cdf else target.names
    own_type = cdf and s.change_type is None
    t = pq.read_table(
        s.path, columns=cols + ["_change_type"] if own_type else cols
    )
    if s.take is not None:
        t = t.take(s.take)
    if s.drop:
        keep = np.ones(t.num_rows, dtype=bool)
        keep[s.drop] = False
        t = t.filter(keep)
    if cdf:
        if not own_type:
            t = t.append_column(
                "_change_type", pa.repeat(s.change_type, t.num_rows)
            )
        t = t.append_column(
            "_commit_version",
            pa.repeat(pa.scalar(s.version, pa.int64()), t.num_rows),
        )
    t = pa.Table.from_arrays(
        [_conform(t.column(f.name), f.type) for f in target],
        schema=target,
    )
    yield from t.to_batches()


class LakeLogStreamReader(DataSourceStreamReader):
    """Offsets are ``{"version": V}`` (initial = -1); latestOffset
    advances up to ``max_commits_per_batch`` commits per micro-batch
    (default 1 — version-by-version consumption; raise it so a
    consumer starting against a deep commit backlog catches up in
    O(backlog / N) micro-batches instead of one batch per commit,
    mirroring maxFilesPerTrigger).

    Restart-safe (round-8 review fix — the in-memory cursor seeded
    at -1 used to climb back through versions BELOW the
    checkpoint's committed offset, regressing the offset log and
    re-emitting already-delivered commits): the cursor starts
    UNKNOWN; a fresh query (Spark calls ``initialOffset``) paces
    from -1 as before, while a restarted query (Spark reads the
    checkpoint instead — ``initialOffset`` never fires) answers its
    first ``latestOffset`` with head, which is always ≥ committed
    progress since the log never shrinks — one possibly-large
    catch-up batch, never a duplicate. Thereafter the cursor clamps
    up to every (start, end] bound ``partitions`` observes, so an
    uncommitted-batch replay also re-anchors pacing correctly.

    Engine caveat (observed live, round-8 review): under
    ``Trigger.AvailableNow`` Spark logs "source does not support
    Trigger.AvailableNow. Falling back to single batch execution"
    for Python sources without admission control and asks
    latestOffset ONCE without calling initialOffset — the reader
    takes the restart path and the whole backlog drains as one
    batch. That matches AvailableNow's documented fallback semantics
    (process everything present, then stop); pacing applies under
    continuous / processAllAvailable triggers, where initialOffset
    does fire first on a fresh query (pinned live by
    streaming_lake_source_live's hash-matched oracle, which consumed
    its three commits version-by-version).
    Contract mirrors Delta's streaming
    source: the table must be APPEND-ONLY over the consumed range —
    a remove action raises unless ``ignore_changes=true`` (then adds
    from that commit still emit, with Delta's documented
    ignoreChanges caveat: rewritten rows may re-emit); data-
    preserving commits (``data_change: false`` — OPTIMIZE) never
    emit and never raise; deletion-vector actions always raise.

    Reading: ``partitions`` plans one slice per physical parquet file
    of the range's adds and packs the slices into at most
    ``len(os.sched_getaffinity(0))`` partitions balanced by file bytes
    (one Spark task each). ``read`` yields pyarrow record batches cast
    to the declared schema — the one Spark passes to ``streamReader``
    — so values reach Spark typed; nanosecond timestamps are floored
    to µs and naive ones read as UTC (see ``_conform``). Executors
    read the files directly — no driver fan-in."""

    _CDF = False  # append _change_type / _commit_version columns

    def __init__(self, options, schema):
        self.table_dir = options["path"]
        self.schema = schema
        self.ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )
        self.max_commits = int(options.get("max_commits_per_batch", 1))
        if self.max_commits < 1:
            raise ValueError("max_commits_per_batch must be >= 1")
        # Delta's startingVersion (round-9 review fix): after
        # vacuum(cdf_retain_versions=N) reclaims a record, a fresh
        # consumer pacing from -1 would plan the reclaimed commit
        # and raise forever — this is the documented way to start
        # the read above the retention horizon. The first served
        # commit is starting_version + 1 (offsets are exclusive
        # lower bounds, matching table_changes' v_from).
        self.starting_version = int(options.get("starting_version", -1))
        self._pos: int | None = None  # unknown until initial/partitions

    def initialOffset(self):
        # only a FRESH query reaches here (a restart reads the
        # checkpoint instead) — safe to pace from the declared start
        self._pos = self.starting_version
        return {"version": self.starting_version}

    def latestOffset(self):
        from etl_lens_spark.operators import lakelog

        head = lakelog.latest_version(self.table_dir)
        if self._pos is None:
            # restarted query, committed progress not yet observed:
            # any paced offset below it would regress the offset log
            # and re-emit commits — head is always >= committed
            self._pos = head
        else:
            self._pos = min(self._pos + self.max_commits, head)
        return {"version": self._pos}

    def partitions(self, start, end):
        s, e = int(start["version"]), int(end["version"])
        # clamp the pacing cursor to observed progress: an
        # uncommitted-batch replay after restart re-anchors here
        self._pos = max(self._pos if self._pos is not None else -1, s, e)
        slices: list[_FileSlice] = []
        for v in range(s + 1, e + 1):
            slices.extend(self._commit_slices(v))
        return _pack(slices)

    def _commit_slices(self, v: int) -> list[_FileSlice]:
        import os

        from etl_lens_spark.operators import lakelog

        actions = lakelog.commit_actions(self.table_dir, v)
        if actions and all(
            a.get("data_change") is False
            for a in actions
            if "add" in a or "remove" in a
        ):
            # a data-preserving commit (OPTIMIZE compaction /
            # re-clustering) rearranges bytes without changing the
            # logical table: nothing to emit, nothing to violate —
            # exactly Delta's dataChange=false rule
            return []
        for a in actions:
            if a.get("dv"):
                raise ValueError(
                    f"commit {v} attached a deletion vector — not an "
                    "append; stream from a materialized table"
                )
            if "remove" in a and not self.ignore_changes:
                raise ValueError(
                    f"commit {v} removed {a['remove']!r}: the "
                    "streamed range must be append-only (set "
                    "ignore_changes=true to accept Delta's "
                    "ignoreChanges caveat)"
                )
        slices = []
        for a in actions:
            if "add" in a:
                full = os.path.join(self.table_dir, a["add"])
                if not os.path.exists(full):
                    raise ValueError(
                        f"commit {v}'s data {a['add']!r} is missing"
                    )
                slices.extend(
                    _FileSlice(p, v)
                    for p in lakelog._list_parquet_files(full)
                )
        return slices

    def read(self, partition):
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        for s in partition.slices:
            yield from _slice_batches(s, target, self._CDF)

    def commit(self, end):
        pass


class LakeLogStreamDataSource(DataSource):
    """``readStream.format("lakelog_stream").option("path", dir)
    .option("schema_ddl", "k long, v string")`` — the lake log as a
    streaming source (see LakeLogStreamReader)."""

    @classmethod
    def name(cls):
        return "lakelog_stream"

    def schema(self):
        return self.options["schema_ddl"]

    def streamReader(self, schema):
        return LakeLogStreamReader(self.options, schema)


# ---------------------------------------------------------------------------
# The change data feed as a STREAMING SOURCE ("CDF as a source"): the
# streaming dual of lakelog.table_changes, and the completion of the
# lake → CDF → incrementally-maintained-consumer loop (the batch SCD2
# maintainer operators/cdc.py::scd2_apply_changes consumes exactly
# this row vocabulary). Offsets are commit versions with the same
# pacing / restart-safety as LakeLogStreamReader; each micro-batch
# emits the ROW-LEVEL changes of its commits — inserts from appends,
# update pre/post-images and predicate-delete rows from cdc records,
# deletes derived from deletion-vector sidecar diffs — with
# _change_type and _commit_version columns appended. Classification
# is lakelog.commit_change_plan, shared verbatim with the batch
# reader, so the two can never disagree; a CoW rewrite commit
# without a cdc record raises there (Delta's rule when CDF was not
# enabled at write time), and data_change:false commits (OPTIMIZE,
# DV materialization) emit nothing.
# ---------------------------------------------------------------------------


class LakeLogCDFStreamReader(LakeLogStreamReader):
    """Same offsets, pacing, packing and Arrow reads as
    LakeLogStreamReader; the slices come from
    ``lakelog.commit_change_plan`` and every batch carries
    ``_change_type`` and ``_commit_version``.

    Timestamps: the stream casts to the declared type, so a file of
    nanosecond timestamps streamed as ``timestamp`` / ``timestamp_ntz``
    yields the values floored to µs. ``table_changes`` reads the same
    file through Spark's parquet reader, which returns such a column
    as ``bigint`` nanoseconds under
    ``spark.sql.legacy.parquet.nanosAsLong`` (set by ``get_spark``,
    and by ``load_table`` when it reads ``events``); µs files agree
    with it exactly."""

    _CDF = True

    def _commit_slices(self, v: int) -> list[_FileSlice]:
        from etl_lens_spark.operators import lakelog

        plan = lakelog.commit_change_plan(self.table_dir, v)
        return (
            [_FileSlice(p, v) for p in plan["cdc_files"]]
            + [_FileSlice(p, v, "insert") for p in plan["insert_files"]]
            + [
                _FileSlice(p, v, "delete", drop=exclude)
                for p, exclude in plan["delete_files"]
            ]
            + [
                _FileSlice(p, v, "delete", take=positions)
                for p, positions in plan["position_deletes"]
            ]
        )


class LakeLogCDFStreamDataSource(DataSource):
    """``readStream.format("lakelog_cdf").option("path", dir)
    .option("schema_ddl", "k long, v string")`` — row-level change
    feed as a streaming source; result schema appends
    ``_change_type string, _commit_version long``."""

    @classmethod
    def name(cls):
        return "lakelog_cdf"

    def schema(self):
        return (
            self.options["schema_ddl"]
            + ", _change_type string, _commit_version long"
        )

    def streamReader(self, schema):
        return LakeLogCDFStreamReader(self.options, schema)
