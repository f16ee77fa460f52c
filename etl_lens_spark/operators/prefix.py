"""Distributed prefix aggregation over a total order — the two-pass
range-partition pattern that replaces `Window.orderBy(...)` (which
funnels every row through ONE reducer) for global running sums and
global ranks.

How it scales: ``repartitionByRange`` puts each key range on its own
partition (boundaries from a deterministic reservoir sample — ordered
partition i holds keys <= partition i+1's); every partition then
computes its LOCAL running sum/rank with an ordinary partitioned
window (parallel, memory-bounded by one partition); per-partition
totals — O(P) rows, not O(N) — turn into starting offsets via a tiny
triangular self-join (no global window anywhere, so the plan carries
zero single-partition WindowExec stages), broadcast back, and each
row adds its partition's offset. Exactly the classic MPP/TeraSort
global-order decomposition.

Determinism: range boundaries are sampled with fixed per-partition
seeds, so the same input produces the same partitioning; callers must
include a unique tie-break column in ``order_by`` (same discipline as
any deterministic global window).

Reference parity: the reference sorts result sets wholesale on one
thread (src/main.cpp multi-key sort paths); this operator is the
scale-safe expression of the same total-order contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_lens_spark.operators.staging import freeze

_PID = "__prefix_pid"
_LOCAL = "__prefix_local"
_OFF = "__prefix_off"
_PTOT = "__prefix_ptot"


def ordered_prefix_sums(
    df: DataFrame,
    order_by: list[Column],
    sums: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Add one running-SUM column per ``sums`` entry (``out_col ->
    value_col``) over the global total order ``order_by`` (inclusive
    of the current row), with no single-reducer stage. All requested
    sums ride ONE range exchange / one local window / one offsets
    broadcast — a two-column ECDF costs the same shuffle as a
    one-column running total.

    The frame is frozen once after the range exchange so the totals
    pass and the main pass read the SAME partition assignment — two
    independent recomputations could otherwise be re-planned (AQE)
    into different pid spaces and corrupt the offsets.
    """
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    d = (
        df.repartitionByRange(n, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .transform(freeze, "pins spark_partition_id")
    )
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d
    for out_col, value_col in sums.items():
        local = local.withColumn(
            f"{_LOCAL}_{out_col}", F.sum(value_col).over(w_local)
        )
    totals = d.groupBy(_PID).agg(
        *[
            F.sum(value_col).alias(f"{_PTOT}_{out_col}")
            for out_col, value_col in sums.items()
        ]
    )
    # starting offset per partition = sum of totals of all EARLIER
    # partitions: a triangular self-join over O(P) rows — deliberately
    # not a window (a global window over totals would re-introduce the
    # single-partition WindowExec this operator exists to remove)
    a = totals.select(F.col(_PID).alias("__a_pid"))
    b = totals.select(
        F.col(_PID).alias("__b_pid"),
        *[f"{_PTOT}_{out_col}" for out_col in sums],
    )
    offsets = (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(
            *[
                F.coalesce(F.sum(f"{_PTOT}_{out_col}"), F.lit(0)).alias(
                    f"{_OFF}_{out_col}"
                )
                for out_col in sums
            ]
        )
    )
    res = local.join(
        F.broadcast(offsets.withColumnRenamed("__a_pid", _PID)), _PID
    )
    drop = [_PID]
    for out_col in sums:
        res = res.withColumn(
            out_col,
            F.col(f"{_OFF}_{out_col}") + F.col(f"{_LOCAL}_{out_col}"),
        )
        drop += [f"{_OFF}_{out_col}", f"{_LOCAL}_{out_col}"]
    return res.drop(*drop)


def ordered_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-column convenience wrapper over ``ordered_prefix_sums``."""
    return ordered_prefix_sums(
        df, order_by, {out_col: value_col}, num_partitions
    )


def ordered_global_rank(
    df: DataFrame,
    order_by: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = global ROW_NUMBER over ``order_by`` (1-based)
    with no single-reducer stage — ``ordered_prefix_sum`` over a
    constant 1 per row, expressed directly so the local pass uses
    ``row_number`` instead of materializing a ones column."""
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    d = (
        df.repartitionByRange(n, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .transform(freeze, "pins spark_partition_id")
    )
    w_local = Window.partitionBy(_PID).orderBy(*order_by)
    local = d.withColumn(_LOCAL, F.row_number().over(w_local))
    totals = d.groupBy(_PID).agg(
        F.count(F.lit(1)).cast("long").alias(_PTOT)
    )
    a = totals.select(F.col(_PID).alias("__a_pid"))
    b = totals.select(F.col(_PID).alias("__b_pid"), _PTOT)
    offsets = (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(F.coalesce(F.sum(_PTOT), F.lit(0)).alias(_OFF))
    )
    return (
        local.join(
            F.broadcast(offsets.withColumnRenamed("__a_pid", _PID)), _PID
        )
        .withColumn(
            out_col, (F.col(_OFF) + F.col(_LOCAL)).cast("long")
        )
        .drop(_PID, _LOCAL, _OFF)
    )


def ordered_prefix_max(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str,
    inclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running MAX over a global total order, same zero-single-reducer
    decomposition as ``ordered_prefix_sums``: range exchange → local
    cummax per partition → per-partition full maxes → triangular join
    for earlier-partition offsets → ``greatest`` (null-skipping)
    combine. ``inclusive=False`` gives the STRICTLY-EARLIER prefix
    (frame ends at -1 row) — the dominance test a distributed skyline
    needs; with ties in ``order_by`` callers should pre-reduce to
    distinct keys, as row-strictness is not key-strictness."""
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    d = (
        df.repartitionByRange(n, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .transform(freeze, "pins spark_partition_id")
    )
    end = 0 if inclusive else -1
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = d.withColumn(f"{_LOCAL}_mx", F.max(value_col).over(w_local))
    totals = d.groupBy(_PID).agg(F.max(value_col).alias(f"{_PTOT}_mx"))
    a = totals.select(F.col(_PID).alias("__a_pid"))
    b = totals.select(F.col(_PID).alias("__b_pid"), f"{_PTOT}_mx")
    offsets = (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(F.max(f"{_PTOT}_mx").alias(f"{_OFF}_mx"))
    )
    res = local.join(
        F.broadcast(offsets.withColumnRenamed("__a_pid", _PID)), _PID
    )
    return res.withColumn(
        out_col, F.greatest(F.col(f"{_OFF}_mx"), F.col(f"{_LOCAL}_mx"))
    ).drop(_PID, f"{_OFF}_mx", f"{_LOCAL}_mx")
