"""Every materialization in the engine, under one of two intents.

``stage(df, label)`` is for SPEED: a frame with two or more consumers
(a self-join, a count plus a join, a loop input) is computed once
instead of once per consumer. Results never depend on it, and the
mode comes from session conf, ``spark.etl_lens.stage.mode``:
  - ``localCheckpoint`` (default): lazy, non-replicated executor-local
    blocks — cheapest, but an executor loss on a cluster kills the job;
  - ``persist``: MEMORY_AND_DISK, lineage kept, so a lost executor
    recomputes. The frames stay in the session's cache manager until
    the session ends (a lazily returned plan can never unpersist
    them), so this mode is for one-shot runs;
  - ``none``: pass-through; every consumer recomputes.
A frame with ONE consumer is not staged: that saves no recomputation.

``freeze(df, reason)`` is for CORRECTNESS: it ignores the mode and
checkpoints eagerly, so the frame is computed exactly once, now. Use
it to truncate an iterative loop's lineage, pin a non-deterministic
column (``spark_partition_id``), fire an in-plan ``raise_error``
inside the ``try`` that translates it, pin a view later DML must not
leak into, keep memory-sink / ``foreachBatch`` frames alive past
their table or batch, and keep ``@bench_setup`` work out of the timed
region. ``reason`` names the invariant at the call site.

``capture()`` records every ``stage()``'d frame before
materialization, so tests can pin the interior plan shape upstream
of the truncation point.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_MODE_CONF = "spark.etl_lens.stage.mode"

# (label, DataFrame) pairs recorded while capture is enabled
_captured: list[tuple[str, DataFrame]] = []
_capture_on = False


def stage(df: DataFrame, label: str = "") -> DataFrame:
    """Materialize a multiply-consumed frame once, per the session's
    stage mode. Corpus-sized frames use an explicit, managed
    ``persist`` instead (see text/pipeline.py::segment_dedup)."""
    if _capture_on:
        _captured.append((label, df))
    mode = df.sparkSession.conf.get(_MODE_CONF, "localCheckpoint")
    if mode == "none":
        return df
    if mode == "persist":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.localCheckpoint(eager=False)


def freeze(df: DataFrame, reason: str) -> DataFrame:
    """Compute ``df`` exactly once, now, whatever the stage mode —
    for a frame whose recomputation would be wrong, not just slow.
    ``reason`` names the invariant the pin keeps."""
    return df.localCheckpoint(eager=True)


@contextmanager
def capture():
    """Record every stage()'d frame (pre-materialization) so tests
    can pin the INTERIOR plan shape that the checkpoint truncates
    out of the returned plan. Yields the live list; entries are
    (label, DataFrame)."""
    global _capture_on
    _captured.clear()
    _capture_on = True
    try:
        yield _captured
    finally:
        _capture_on = False
        _captured.clear()
