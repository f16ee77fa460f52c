"""External connector surface: JDBC readers/writers, Kafka JSON
decode and keyed write
(SURVEY §2.2 sources/sinks row — the analog of SQLite's loadable
virtual-table sources, ``third_party/sqlite3/sqlite3.h:7586-7592``).

The container this repo builds in has no database server, no Kafka
broker, and no JDBC driver jar, so these wrappers cannot be
integration-tested here — the tests skip cleanly when the backing
service is absent (tests/test_external_sources.py). The API shape,
option plumbing, and scale posture are real:

- JDBC reads are PARTITIONED by default arguments: a single-connection
  read (no partitionColumn) funnels the whole table through one task —
  the classic 100 TB mistake. ``read_jdbc`` requires the caller to
  either pass explicit partitioning bounds or opt into single-stream
  mode for genuinely small dimensions.
- JDBC pushdown: Catalyst pushes filters/projections into the remote
  query (``PushedFilters`` in the scan node) — filter EARLY on the
  DataFrame so the database does the scan, not Spark.
- Kafka writes serialize to the (key, value) binary contract the
  broker expects; everything else rides in headers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    allow_single_stream: bool = False,
) -> DataFrame:
    """Read a JDBC table as a partitioned DataFrame.

    With ``partition_column`` (+ bounds), Spark issues
    ``num_partitions`` range-predicated queries in parallel — the only
    shape that scales past a few GB. Without it the whole table comes
    through ONE connection; that's refused unless
    ``allow_single_stream=True`` (small dimension tables only).
    """
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound "
                "(run SELECT min(col), max(col) first)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    elif not allow_single_stream:
        raise ValueError(
            "read_jdbc without partition_column reads the whole table "
            "through one connection; pass partition_column/bounds, or "
            "allow_single_stream=True for a small dimension table"
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """Write a DataFrame to a JDBC table.

    ``batch_size`` controls rows per INSERT round-trip;
    ``num_partitions`` caps concurrent connections (databases fall
    over long before Spark does — coalesce, don't shuffle, to get
    there).
    """
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def decode_kafka_json(df: DataFrame, schema: str) -> DataFrame:
    """Decode Kafka's binary ``value`` as JSON into typed columns
    (key kept as string). JVM-side ``from_json`` — no Python on the
    per-record path."""
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), schema).alias("v"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    ).select("key", "v.*", "topic", "partition", "offset", "kafka_ts")


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
) -> None:
    """Batch-write rows to a Kafka topic as JSON values (key optional).
    The key choice is the partitioning choice: same key → same Kafka
    partition → per-key ordering for downstream consumers."""
    cols = value_cols or [c for c in df.columns if c != key_col]
    out = df.select(
        *(
            [F.col(key_col).cast("string").alias("key")]
            if key_col
            else []
        ),
        F.to_json(F.struct(*cols)).alias("value"),
    )
    (
        out.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
