"""Partitioning helpers — the knobs that make a plan survive a 100x
scale-up.

Parquet scans parallelize by file splits (``maxPartitionBytes``),
which is right for scan-bound work but starves compute-bound stages
on small-but-expensive inputs (a 2 MB file of 5k documents reads as
ONE partition; a MinHash pass over it then runs on one core). The
inverse problem — thousands of tiny partitions after a selective
filter — wastes task overhead. These helpers normalize both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parallelize_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy downstream stage has at least
    ``min_partitions`` (default: cluster default parallelism).

    A round-robin repartition: one cheap shuffle of the *input* rows
    (pre-explosion, pre-UDF) buys full-core utilization of the
    expensive stage. No-op when the input is already parallel enough
    — so it's safe to leave in place for the 100 TB run, where scans
    already produce thousands of partitions.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: identical result to
    ``left.join(right, on, how)``, but a hot key's rows no longer land
    in a single reducer.

    Left rows get a random salt in [0, salt); the (smaller) right side
    is replicated ``salt`` times with every salt value; the join key
    becomes (keys…, salt) so each hot key fans out over ``salt``
    reducers. Classic trade: salt× replication of the right side buys
    salt× better worst-case parallelism — use when one side is small
    enough to replicate and AQE's skew-split (which handles most cases
    by itself) can't, e.g. a skewed *aggregation-feeding* join where
    the hot partition exceeds what AQE can split.

    Supported ``how``: inner / left (semantics where salting is sound
    without dedup — each left row matches exactly the replicas with
    its own salt value).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join does not support how={how!r}")
    salted_l = left.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(salt - 1))
    ).alias("__salt")
    salted_r = right.select("*", salts)
    out = salted_l.join(salted_r, [*on, "__salt"], how)
    return out.drop("__salt")
