"""``lake_churn``: writes beside reads on one lake-log table.

One client, closed loop. The table is sf0.1 ``orders`` (150k rows) as 16
key-clustered files, committed as version 0. Each block is one episode
on a fresh zero-copy clone of that table:

- 5 writes, each followed by a read (1:1): a ``merge_upsert(cdf=True)``
  of 400 rows with keys skewed to recent orders, an append (a parquet
  write plus ``commit``), a predicate ``delete_where(cdf=True)``, a
  second append, and a merge with keys spread uniformly, which rewrites
  every file;
- each write ends the way a maintainer loop commits: ``write_checkpoint``
  after every second write, then ``maybe_optimize`` (more than 15
  active files compacts the files of at most 2000 rows). The second
  append always passes the threshold with two small files, so every
  episode compacts once, and the write that triggers it pays for it;
- reads are a latest-snapshot aggregate, time travel to a seeded older
  version, or ``table_changes`` over the last three versions;
- after the writes the ``lakelog_cdf`` stream is drained with
  ``availableNow`` and a last read follows.

The batch sizes (400-row merges, 300-row appends, deletes over 1/50 of
the key range) are assumptions sized for this machine, not taken from a
measured workload.

A pandas replay of the seeded operation list gives every expected
result: after the loop, each read, each episode's final snapshot and
the streamed change feed (as a multiset, against ``table_changes``) are
checked.
"""

from __future__ import annotations

import io
import os
import shutil
import statistics
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_lens_spark.operators import lakelog
from perfbench import datagen
from perfbench.common import latency_summary, log

N_FILES = 16
MERGE_ROWS = 400
APPEND_ROWS = 300
CHECKPOINT_EVERY = 2
MAX_FILES = 15
SMALL_ROWS = 2_000
DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)
COLS = [c.split()[0] for c in DDL.split(", ")]


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _parquet_bytes(pdf: pd.DataFrame) -> int:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
    return buf.tell()


def _agg_expected(state: pd.DataFrame) -> dict:
    g = state.groupby("o_orderstatus")
    return {
        s: (int(n), float(p), int(k))
        for s, n, p, k in zip(
            g.size().index, g.size(), g["o_totalprice"].sum(), g["o_orderkey"].sum()
        )
    }


def _same_agg(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    return all(
        got[s][0] == want[s][0]
        and got[s][2] == want[s][2]
        and abs(got[s][1] - want[s][1]) <= 1e-6 * max(1.0, abs(want[s][1]))
        for s in want
    )


class Episode:
    """One clone of the base table plus its pandas replay."""

    def __init__(self, table: str, state: pd.DataFrame):
        self.table = table
        self.state = state
        self.version = 0
        self.aggs = {0: _agg_expected(state)}  # version → expected aggregate
        self.changes: dict[int, dict] = {}  # version → expected change agg
        self.reads: list[tuple[str, dict, dict]] = []  # (what, got, want)
        self.streamed: list[tuple] = []
        self.drained_to = 0
        self.source_bytes = 0
        self.writes = self.checkpoints = self.compactions = 0
        self.full = False  # a whole loop block, not the warm-up's start


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data = ctx.path("data")
        self.base = ctx.path("lake", "base")
        self.rng = ctx.rng
        self.episodes: list[Episode] = []
        self.amp: list[tuple[float, float]] = []
        self.n_drains = 0
        self.base_state: pd.DataFrame | None = None

    def generate(self) -> None:
        datagen.generate(self.data, self.ctx.sf, self.ctx.seed)
        orders = pq.read_table(os.path.join(self.data, "orders.parquet")).to_pandas()
        # a date, not a timestamp: the CDF stream source emits naive values
        orders["o_orderdate"] = orders["o_orderdate"].dt.date
        self.base_state = orders.sort_values("o_orderkey").reset_index(drop=True)
        self.next_key = int(self.base_state["o_orderkey"].max()) + 1

    # -- table building ------------------------------------------------

    def prepare(self) -> None:
        """Write the key-clustered files and commit them as version 0."""
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        actions = []
        bounds = np.linspace(0, len(self.base_state), N_FILES + 1).astype(int)
        for i in range(N_FILES):
            part = self.base_state.iloc[bounds[i]:bounds[i + 1]]
            rel = f"part_{i:03d}"
            os.makedirs(os.path.join(self.base, rel))
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(self.base, rel, "part-00000.parquet"),
            )
            actions.append({"add": rel, "num_records": len(part)})
        lakelog.commit(self.base, 0, actions + [{"op": "CREATE"}])
        lakelog.read_snapshot(self.ctx.spark, self.base).schema

    def _episode(self) -> Episode:
        table = self.ctx.path("lake", f"ep{len(self.episodes):04d}")
        lakelog.shallow_clone(self.base, table)
        ep = Episode(table, self.base_state.copy())
        self.episodes.append(ep)
        return ep

    # -- operations (each returns after its Spark work completes) -------

    def _rows(self, keys: np.ndarray) -> pd.DataFrame:
        rng, n = self.rng, len(keys)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pd.to_datetime(
                datagen.EPOCH_1995_US + rng.integers(0, 2404, n) * datagen.DAY_US,
                unit="us",
            ).date,
            "o_orderpriority": np.array(datagen.PRIORITIES)[rng.integers(0, 5, n)],
        })

    def _commit_done(self, ep: Episode, changes: dict, res: tuple | None) -> None:
        """Record the expected state at the write's version and, when the
        write's ``maybe_optimize`` compacted, at the compaction's version
        (no data change). ``res`` is ``None`` when the write failed."""
        if res is None:
            ep.version = lakelog.latest_version(ep.table)
        else:
            ep.version = res[0]["version"]
        ep.aggs[ep.version] = _agg_expected(ep.state)
        ep.changes[ep.version] = changes
        if res is not None and res[1].get("n_files_compacted", 0) > 0:
            ep.compactions += 1
            ep.version = res[1]["version"]
            ep.aggs[ep.version] = ep.aggs[ep.version - 1]
            ep.changes[ep.version] = {}

    @staticmethod
    def _change_agg(frames: dict[str, pd.DataFrame]) -> dict:
        return {
            ct: (len(f), float(f["o_totalprice"].sum()), int(f["o_orderkey"].sum()))
            for ct, f in frames.items()
            if len(f)
        }

    def merge(self, ep: Episode, spread: bool = False) -> None:
        rng = self.rng
        top = self.next_key
        if spread:
            keys = rng.choice(top, MERGE_ROWS, replace=False)
        else:
            lo = int(top * 0.95)
            keys = rng.choice(np.arange(lo, top + MERGE_ROWS // 4), MERGE_ROWS, replace=False)
        self.next_key = max(self.next_key, int(keys.max()) + 1)
        src = self._rows(keys)
        ep.source_bytes += _parquet_bytes(src)
        sdf = self.ctx.spark.createDataFrame(src, DDL)
        st = ep.state.set_index("o_orderkey")
        matched = st.index.isin(src["o_orderkey"])
        hit = src["o_orderkey"].isin(st.index)
        changes = self._change_agg({
            "update_preimage": st[matched].reset_index(),
            "update_postimage": src[hit],
            "insert": src[~hit],
        })
        res = self.ctx.timed("merge", self._write, ep, "lakelog.merge_upsert",
                             lakelog.merge_upsert, self.ctx.spark, ep.table,
                             sdf, ["o_orderkey"], cdf=True)
        ep.state = pd.concat([st[~matched].reset_index(), src], ignore_index=True)
        self._commit_done(ep, changes, res)
        if res is not None:
            self._rewrite_counts(ep, res[0]["n_files_rewritten"], "merge", MERGE_ROWS)

    def delete(self, ep: Episode) -> None:
        top = self.next_key
        lo = int(self.rng.integers(int(top * 0.5), int(top * 0.97)))
        hi, r = lo + top // 50, int(self.rng.integers(0, 7))
        key = F.col("o_orderkey")
        cond = (key >= lo) & (key < hi) & (key % 7 == r)
        k = ep.state["o_orderkey"]
        gone = (k >= lo) & (k < hi) & (k % 7 == r)
        changes = self._change_agg({"delete": ep.state[gone]})
        res = self.ctx.timed("delete", self._write, ep, "lakelog.delete_where",
                             lakelog.delete_where, self.ctx.spark, ep.table, cond, cdf=True)
        n_gone = int(gone.sum())
        ep.state = ep.state[~gone].reset_index(drop=True)
        self._commit_done(ep, changes, res)
        if res is not None:
            self._rewrite_counts(ep, res[0]["n_files_touched"], "delete", n_gone)

    def append(self, ep: Episode) -> None:
        keys = np.arange(self.next_key, self.next_key + APPEND_ROWS)
        self.next_key += APPEND_ROWS
        src = self._rows(keys)
        ep.source_bytes += _parquet_bytes(src)
        sdf = self.ctx.spark.createDataFrame(src, DDL)
        res = self.ctx.timed("append", self._write, ep, "lakelog.append",
                             self._append, ep, sdf)
        ep.state = pd.concat([ep.state, src], ignore_index=True)
        self._commit_done(ep, self._change_agg({"insert": src}), res)
        self.ctx.tracer.count("lakelog.files_rewritten", 0)

    def _append(self, ep: Episode, sdf) -> dict:
        version = lakelog.latest_version(ep.table) + 1
        rel = f"append_{version:08d}"
        sdf.write.mode("overwrite").parquet(os.path.join(ep.table, rel))
        lakelog.commit(ep.table, version, [
            {"add": rel, "num_records": APPEND_ROWS}, {"op": "WRITE"},
        ])
        return {"version": version}

    def _write(self, ep: Episode, span: str, fn, *a, **k) -> tuple[dict, dict]:
        """One write as a maintainer loop commits it: the write, a
        checkpoint every ``CHECKPOINT_EVERY`` writes, then the
        auto-optimize check."""
        res = self._traced(span, fn, *a, **k)
        ep.writes += 1
        if ep.writes % CHECKPOINT_EVERY == 0:
            self._traced("lakelog.write_checkpoint", lakelog.write_checkpoint, ep.table)
            ep.checkpoints += 1
        opt = self._traced("lakelog.maybe_optimize", lakelog.maybe_optimize,
                           self.ctx.spark, ep.table, MAX_FILES, SMALL_ROWS)
        return res, opt

    def _rewrite_counts(self, ep: Episode, files: int, op: str, changed: int) -> None:
        """Traced runs: files rewritten and rows written per row changed."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        tr.count("lakelog.files_rewritten", files)
        rel = f"{op}_{ep.version:08d}"
        path = os.path.join(ep.table, rel)
        written = 0
        if os.path.isdir(path):
            written = sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path) if f.endswith(".parquet")
            )
        tr.count("lakelog.rows_rewritten_per_row_changed", written / max(changed, 1))

    def _traced(self, span: str, fn, *a, **k):
        with self.ctx.tracer.span(span):
            return fn(*a, **k)

    def _agg(self, df) -> dict:
        rows = df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("p"),
            F.sum("o_orderkey").alias("k"),
        ).collect()
        return {r[0]: (int(r[1]), float(r[2]), int(r[3])) for r in rows}

    def read(self, ep: Episode, kind: str = "latest") -> None:
        spark = self.ctx.spark
        if kind == "latest":
            got = self.ctx.timed("read_latest", lambda: self._agg(self._traced(
                "lakelog.read_snapshot", lakelog.read_snapshot, spark, ep.table)))
            ep.reads.append(("latest", got, ep.aggs[ep.version]))
        elif kind == "time_travel":
            v = int(self.rng.integers(max(0, ep.version - 8), ep.version))
            got = self.ctx.timed("read_time_travel", lambda: self._agg(self._traced(
                "lakelog.read_snapshot", lakelog.read_snapshot, spark, ep.table, v)))
            ep.reads.append((f"version {v}", got, ep.aggs[v]))
        else:
            v0 = max(0, ep.version - 3)

            def changes():
                df = self._traced("lakelog.table_changes", lakelog.table_changes,
                                  spark, ep.table, v0, ep.version)
                rows = df.groupBy("_change_type").agg(
                    F.count(F.lit(1)), F.sum("o_totalprice"), F.sum("o_orderkey"),
                ).collect()
                return {r[0]: (int(r[1]), float(r[2]), int(r[3])) for r in rows}

            got = self.ctx.timed("read_changes", changes)
            out: dict = {}
            for v in range(v0 + 1, ep.version + 1):
                for ct, (n, p, k) in ep.changes.get(v, {}).items():
                    a = out.get(ct, (0, 0.0, 0))
                    out[ct] = (a[0] + n, a[1] + p, a[2] + k)
            ep.reads.append((f"changes ({v0}, {ep.version}]", got, out))
        if self.ctx.tracer.enabled and got is not None:
            n_files = len(self._untraced(lakelog.snapshot_actions, ep.table))
            self.ctx.tracer.count("lakelog.files_active", n_files)

    def drain(self, ep: Episode) -> None:
        from etl_lens_spark.streaming import stream_ops

        spark = self.ctx.spark
        self.n_drains += 1
        name = f"cdf_drain_{self.n_drains}"
        stream = (
            spark.readStream.format("lakelog_cdf")
            .option("path", ep.table)
            .option("schema_ddl", DDL)
            .option("starting_version", str(ep.drained_to))
            .option("max_commits_per_batch", "64")
            .load()
        )
        out = self.ctx.timed("cdf_drain", self._traced, "streaming.drain",
                             stream_ops.run_to_memory, stream, name, available_now=True)
        if out is not None:
            ep.streamed.extend(tuple(r) for r in out.collect())
            spark.sql(f"DROP VIEW IF EXISTS {name}")
        ep.drained_to = ep.version

    # -- harness hooks -----------------------------------------------

    def warmup(self) -> None:
        from etl_lens_spark.sources.pyds import LakeLogCDFStreamDataSource

        self.ctx.spark.dataSource.register(LakeLogCDFStreamDataSource)
        if self.ctx.traced:
            self._listen()
        ep = self._episode()
        for op in (self.merge, self.read):
            op(ep)
        # warm-up operations are not timed samples
        self.ctx.ops.clear()
        self.ctx.op_traced.clear()

    def block(self) -> None:
        ep = self._episode()
        ep.full = True
        # a fixed shape (the seed only picks keys, values and versions);
        # the spread merge touches every file, so it comes last
        order = [self.merge, self.append, self.delete, self.append,
                 lambda ep: self.merge(ep, spread=True)]
        reads = ("latest", "time_travel", "changes", "latest", "time_travel")
        for write, read in zip(order, reads):
            write(ep)
            self.read(ep, read)
        self.drain(ep)
        self.read(ep)
        live = sum(_dir_bytes(f) for f in self._untraced(lakelog.snapshot_files, ep.table))
        written = _dir_bytes(ep.table)
        self.amp.append((
            written / max(ep.source_bytes, 1),
            (written + _dir_bytes(self.base)) / max(live, 1),
        ))

    def _untraced(self, fn, *a):
        """Benchmark bookkeeping through the engine, kept out of the trace."""
        enabled, self.ctx.tracer.enabled = self.ctx.tracer.enabled, False
        try:
            return fn(*a)
        finally:
            self.ctx.tracer.enabled = enabled

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self.ctx.tracer

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                tracer.count("streaming.trigger_ms", d.get("triggerExecution", 0))
                tracer.count("streaming.get_batch_ms", d.get("getBatch", 0))
                tracer.count("sources.pyds_ms", d.get("latestOffset", 0) + d.get("getBatch", 0))
                tracer.count("streaming.input_rows", p.numInputRows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.ctx.spark.streams.addListener(Progress())

    def verify(self) -> None:
        for n, ep in enumerate(self.episodes):
            for what, got, want in ep.reads:
                if self.ctx.corrupt and n == 0:
                    want = {k: (v[0] + 1, v[1], v[2]) for k, v in want.items()}
                self.ctx.check(got is not None and _same_agg(got, want),
                               f"episode {n} read {what}: {got} != {want}")
            try:
                snapshot_ok, cdf_ok = self._verify_table(ep)
            except Exception as e:  # a failing read is a wrong result
                snapshot_ok = cdf_ok = False
                log(f"episode {n} verification raised {e!r}")
            self.ctx.check(snapshot_ok, f"episode {n} final snapshot")
            if ep.full:
                self.ctx.check(ep.compactions >= 1, f"episode {n}: maybe_optimize never compacted")
            if ep.drained_to:
                self.ctx.check(cdf_ok, f"episode {n} streamed CDF != table_changes")

    def _verify_table(self, ep: Episode) -> tuple[bool, bool]:
        spark = self.ctx.spark
        snap = lakelog.read_snapshot(spark, ep.table).toPandas()
        got = snap[COLS].sort_values("o_orderkey").reset_index(drop=True)
        want = ep.state[COLS].sort_values("o_orderkey").reset_index(drop=True)
        snapshot_ok = len(got) == len(want) and all(got[c].equals(want[c]) for c in COLS)
        if not ep.drained_to:
            return snapshot_ok, True
        batch = lakelog.table_changes(spark, ep.table, 0, ep.drained_to).select(
            *COLS, "_change_type", "_commit_version"
        )
        cdf_ok = Counter(tuple(r) for r in batch.collect()) == Counter(ep.streamed)
        return snapshot_ok, cdf_ok

    def detail(self) -> dict:
        def kinds(*names):
            return [ms for k, ms in self.ctx.ops if k in names]

        reads = ("read_latest", "read_time_travel", "read_changes")
        w = latency_summary(kinds("merge", "delete", "append"))
        return {
            "write_p50_ms": w["p50"], "write_tail_ms": w["tail"],
            "write_tail_pct": w["tail_pct"], "write_samples": w["n"],
            "read_p50_ms": latency_summary(kinds(*reads))["p50"],
            "cdf_batch_p50_ms": latency_summary(kinds("cdf_drain"))["p50"],
            "write_amp": statistics.median(a for a, _ in self.amp) if self.amp else 0.0,
            "space_amp": statistics.median(s for _, s in self.amp) if self.amp else 0.0,
            "episodes": len(self.amp),
            "checkpoints": sum(ep.checkpoints for ep in self.episodes),
            "compactions": sum(ep.compactions for ep in self.episodes),
        }
