"""Dataset loading: the driver-provided parquet star schema + event log.

The reference's only source is a sequential scan of one ``.etl`` trace
file (``/root/reference/src/main.cpp:995-1014``). Here the equivalent
source is columnar parquet read through the Spark DataSource V2 path,
which gives us predicate pushdown, column pruning, and partition-level
parallelism for free — the properties the reference's single-threaded
scan lacks and that matter at 100 TB.

Every table read goes through ``_read_parquet``, which memoizes the
schema Spark infers from the parquet footers. Without it each
``spark.read.parquet`` runs a one-task schema-inference job, and in an
interactive session (a click, a SQL statement that registers all ten
views) those jobs cost more than the query itself. What is memoized
is the inferred ``StructType`` only, keyed by the realpath, the
``(st_size, st_mtime_ns, st_ino)`` of the file (of every file under a
directory) and the session values of the confs that change
inference (``_INFERENCE_CONFS``): a rewritten file or a changed conf
re-infers. A hit reads with ``spark.read.schema(memo)``, which runs
no job. A path ``os.stat`` cannot reach (a non-local scheme) is
read plainly. The DataFrame itself is never memoized: two reads
must stay distinct Datasets, or a self-join of two ``load_table``
results fails as ambiguous.

A miss on a single file whose footer carries the schema Spark wrote
(key ``org.apache.spark.sql.parquet.row.metadata``) runs no job
either: Spark's inference returns exactly that schema, made nullable
all the way down, so the memo stores the same from one pyarrow
footer read. Files without the key (written by pyarrow) infer once
per file, as before. The memo grows by one small entry per distinct
path read and is bounded by the files a session touches;
``lakelog.scan`` adds one entry per scan (its first data file).

The CLI answers many actions from one session, as the reference viewer
answers every click from one loaded trace. Its actions read tables
through a per-session handle instead of ``load_table``
(``shared_table``, ``register_views``). A handle is keyed by
(session, table realpath) and holds the footer stamp its frame was
read under (the memo's key above: file stats plus inference confs),
one DataFrame shared by the session's actions, and the temp view it
registered. The frame is read again, through ``load_table``, only when
the file's current stamp differs, so a rewritten file is still served
fresh (and ``_memo_schema`` still refreshes frames cached over its old
bytes). ``register_views`` re-registers a table only when its frame
was read again, or when the session's temp view of that name is no
longer the one the handle registered: another caller replaced or
dropped it, or the same name was registered for another ``sf_dir``.
Otherwise it runs no read, no analysis and no view creation. A reused
``events`` frame keeps the session timezone its ``ts`` cast was
analyzed under (``load_table`` pins UTC on each read). ``load_table``
itself stays fresh per call: a self-join of two of its results needs
two distinct Datasets. A stopped session's handles are dropped when a
new handle is stored. Like the memo, the handles take no lock: two
threads reading one table at once both read it, and the last store
wins.
"""

from __future__ import annotations

import json
import os
import stat
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough (at any realistic scale ratio) to broadcast.
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# session confs that change the schema parquet inference yields
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# the footer key under which Spark's writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# realpath -> (footer stamp, inferred schema); one entry per path. Two
# threads missing at once both infer and store the same value.
_FOOTER_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _footer_stamp(spark: SparkSession, real: str) -> tuple | None:
    """What the inferred schema of ``real`` depends on, or None when
    it cannot be stat'ed locally."""

    def key(st: os.stat_result) -> tuple:
        return st.st_size, st.st_mtime_ns, st.st_ino

    try:
        st = os.stat(real)
        if stat.S_ISDIR(st.st_mode):
            files = sorted(
                os.path.join(d, f) for d, _, fs in os.walk(real) for f in fs
            )
            stats = tuple((f, key(os.stat(f))) for f in files)
        else:
            stats = key(st)
    except OSError:
        return None
    return stats, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every struct field, array element and map value
    nullable, field metadata kept — Spark's ``asNullable``, which its
    parquet reader applies to the schema it infers."""
    if isinstance(t, StructType):
        return StructType(
            [
                StructField(
                    f.name, _as_nullable(f.dataType), True, f.metadata
                )
                for f in t.fields
            ]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _spark_footer_schema(path: str) -> StructType | None:
    """The schema Spark's reader infers for one Spark-written parquet
    file, from the schema Spark stored in its footer; None when the
    footer has no such key (or pyarrow cannot read it)."""
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
        if raw is None:
            return None
        schema = StructType.fromJson(json.loads(raw))
    except (OSError, ValueError, KeyError, TypeError):
        # unreadable footer or a legacy key format: Spark infers
        return None
    return _as_nullable(schema)


def _memo_schema(spark: SparkSession, path: str) -> StructType | None:
    """The memoized inferred schema of ``path`` (module docstring), or
    None when the path cannot be stat'ed locally."""
    real = os.path.realpath(path)
    stamp = _footer_stamp(spark, real)
    if stamp is None:
        return None
    hit = _FOOTER_SCHEMAS.get(real)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    if hit is not None:
        # the file changed: drop cached frames over the old bytes, or
        # a persisted plan that matches would serve the stale rows
        spark.catalog.refreshByPath(path)
    schema = _spark_footer_schema(real) if os.path.isfile(real) else None
    if schema is None:
        schema = spark.read.parquet(path).schema
    _FOOTER_SCHEMAS[real] = (stamp, schema)
    return schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    (see the module docstring): a fresh DataFrame every call, but no
    schema-inference job while the footers and confs are unchanged."""
    schema = _memo_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, from the
    same memo as ``load_table`` (no Spark job, no DataFrame on a
    hit)."""
    schema = _memo_schema(spark, path)
    return schema if schema is not None else spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table as a fresh DataFrame. Filters/projections composed
    on top are pushed into the scan by Catalyst.

    The schema Spark infers from the footer is memoized per realpath,
    footer stat and inference confs (module docstring), so a repeat
    call on an unchanged file runs no Spark job. The DataFrame is not
    memoized: a self-join of two results of this function (e.g.
    ``nation`` twice) needs two distinct Datasets, and a shared one
    fails with an ambiguous-reference AnalysisException.

    ``events.ts`` has shipped in two physical layouts across fixture
    generations — TIMESTAMP(NANOS) (no Spark type: read as raw ns via
    ``nanosAsLong`` and floor to µs, the truncation every µs engine
    applies) and plain µs-without-timezone (Spark 4 reads it as
    TIMESTAMP_NTZ). Both normalize to utc-instant TimestampType so
    every downstream ``unix_micros``/watermark/window sees one type;
    the session timezone is pinned UTC here (runtime-settable) so the
    NTZ→instant cast is layout- and host-independent even on a
    vanilla driver-built session.
    """
    if name == "events":
        # session-level confs (safe to set at runtime; also set in
        # get_spark for sessions we build ourselves)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer div — a double division would lose precision on
            # ~1.7e18 ns values (53-bit mantissa)
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # naive wall time == UTC instant under the pinned UTC tz
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


@dataclass
class _Handle:
    stamp: tuple | None  # the footer stamp ``df`` was read under
    df: DataFrame  # shared by every action of the session
    view: object = None  # the TemporaryViewRelation registered for it


# (session, table realpath) -> its handle (module docstring)
_HANDLES: dict[tuple[SparkSession, str], _Handle] = {}


def _handle(spark: SparkSession, sf_dir: str, name: str) -> _Handle:
    """The session's handle of one table, read again through
    ``load_table`` when the file's footer stamp changed. A path that
    cannot be stat'ed gets a new handle on every call."""
    real = os.path.realpath(table_path(sf_dir, name))
    key = (spark, real)
    h = _HANDLES.get(key)
    if h is not None and h.stamp == _footer_stamp(spark, real):
        return h
    df = load_table(spark, sf_dir, name)
    # the stamp the memo inferred the frame's schema under (for
    # events, after load_table pinned its confs)
    memo = _FOOTER_SCHEMAS.get(real)
    if memo is None:
        return _Handle(None, df)
    if h is None:
        for k in [k for k in _HANDLES if k[0].sparkContext._jsc is None]:
            del _HANDLES[k]
    h = _HANDLES[key] = _Handle(memo[0], df)
    return h


def shared_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The session's shared frame of one table (module docstring): the
    same DataFrame on every call until the file's footer stamp
    changes. For single-frame plans such as a CLI action; a self-join
    needs two ``load_table`` results."""
    return _handle(spark, sf_dir, name).df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every table as a temp view (for the Spark SQL surface)
    through the session's handles; returns the names it registered,
    which is none when every view is still the handle's own (module
    docstring)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    registered = []
    # events first: its read pins session confs that every stamp holds
    for name in sorted(TABLE_NAMES, key=lambda n: n != "events"):
        h = _handle(spark, sf_dir, name)
        current = catalog.getRawTempView(name)
        if h.view is not None and current.contains(h.view):
            continue
        h.df.createOrReplaceTempView(name)
        h.view = catalog.getRawTempView(name).get()
        registered.append(name)
    return registered
