"""In-session maintained-index state for live (streaming) index
maintainers — the bookkeeping the round-9/10 live twins share:
per-epoch checkpointed index delta frames plus delete tombstones,
held as ONE ORDERED event list so a tombstone folds over only the
parts that PRECEDE it (a key deleted then re-inserted survives — the
routine CDF case), and FOLDED into a single re-checkpointed frame
whenever the event count exceeds ``compact_every`` (the round-8
log-checkpointing precedent applied to in-session state: without
compaction a long-lived stream accumulates O(epochs) unions plus one
anti-join per tombstone batch in every probe's plan; with it,
amortized O(index/K) per epoch and plan depth bounded by K for any
stream length).

The durable production shape persists the same state as lake tables
(append per epoch + anti-join rewrites, exactly-once via
commit_idempotent — warehouse_ivm_restartable proves that half);
this class is the bounded in-session analog the live twins use so
their pins can spend themselves on the maintenance algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_lens_spark.operators.staging import freeze

# The CDF → index-maintenance rule mapping every maintainer shares:
# an upsert's postimage row is an insert of the new value and its
# preimage a delete of the old one, so a maintainer that handles
# (insert, delete) handles the full merge_upsert(cdf=True) surface
# by this fold. Anything else is a protocol we don't know — raise,
# never silently drop change rows.
_DELETE_TYPES = ("delete", "update_preimage")
_INSERT_TYPES = ("insert", "update_postimage")


def split_version_changes(
    vdf: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(deletes, inserts) for ONE commit version of a CDF frame.

    Deletes come FIRST in the tuple because they must be applied
    before the version's inserts: a same-key replace expressed as
    delete+insert inside one commit must tombstone only the rows
    that preceded the commit, never the rows the same commit is
    appending (LiveIndexState folds a tombstone over all preceding
    parts, so insert-then-delete would eat the fresh rows).
    Unknown ``_change_type`` values raise instead of being filtered
    away — a maintainer that silently drops change rows corrupts
    its index without any test noticing.
    """
    kinds = {
        r[0] for r in vdf.select("_change_type").distinct().collect()
    }
    unknown = kinds - set(_DELETE_TYPES) - set(_INSERT_TYPES)
    if unknown:
        raise ValueError(
            "unexpected _change_type values "
            f"{sorted(unknown)}; maintainers understand "
            f"{sorted(_DELETE_TYPES + _INSERT_TYPES)} only"
        )
    dels = vdf.filter(F.col("_change_type").isin(*_DELETE_TYPES))
    ins = vdf.filter(F.col("_change_type").isin(*_INSERT_TYPES))
    return dels, ins


def per_version_sink(apply_version):
    """A ``foreachBatch`` sink that freezes each micro-batch (its frames
    outlive the batch in the index state) and hands ``apply_version``
    one commit version at a time, in commit order."""

    def sink(batch_df, epoch_id):
        b = freeze(batch_df, "outlives its batch")
        versions = sorted(
            r[0] for r in b.select("_commit_version").distinct().collect()
        )
        for v in versions:
            apply_version(b.filter(F.col("_commit_version") == v))

    return sink


class LiveIndexState:
    """Ordered parts + tombstones with bounded plan depth.

    ``id_col`` is the index rows' key column; ``delete`` takes a
    one-column frame named ``gone_col``. Frames passed to ``append``
    /``delete`` should already be ``freeze``-d (the caller owns epoch
    materialization so it can batch it with its other state).
    """

    def __init__(
        self,
        id_col: str,
        gone_col: str = "__gone",
        compact_every: int = 8,
    ) -> None:
        self.id_col = id_col
        self.gone_col = gone_col
        self.compact_every = compact_every
        self.events: list[tuple[str, DataFrame]] = []

    @property
    def index_parts(self) -> list[DataFrame]:
        return [f for kind, f in self.events if kind == "part"]

    @property
    def tombstones(self) -> list[DataFrame]:
        return [f for kind, f in self.events if kind == "gone"]

    def view(self) -> DataFrame | None:
        view: DataFrame | None = None
        for kind, frame in self.events:
            if kind == "part":
                view = frame if view is None else view.unionByName(frame)
            elif view is not None:
                view = view.join(
                    F.broadcast(frame),
                    F.col(self.id_col) == F.col(self.gone_col),
                    "left_anti",
                )
        return view

    def append(self, part: DataFrame) -> None:
        self.events.append(("part", part))
        self._maybe_compact()

    def delete(self, gone: DataFrame) -> None:
        if not self.index_parts:
            return  # nothing indexed yet, nothing to drop
        self.events.append(("gone", gone))
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        if len(self.events) > self.compact_every:
            view = self.view()
            self.events = (
                [("part", freeze(view, "compaction truncates lineage"))]
                if view is not None
                else []
            )
