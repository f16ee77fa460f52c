"""Event catalog: the [R] reference surface re-expressed on Spark.

The reference scans an ETW trace once at startup and builds a catalog
of distinct event types with inferred schemas
(``/root/reference/src/main.cpp:255-321``), then answers interactive
per-type queries with filter → decode/project → LIMIT 100
(``/root/reference/src/main.cpp:377-426, 1070-1099``).

Mapping onto the driver's ``events`` table (event_id, ts, user_id,
event_type, value, props-as-JSON):

- catalog key        = ``event_type``   (analog of the (provider, id,
  version) composite key, ``src/main.cpp:56-72``)
- schema inference   = JSON keys of the *first-seen* event per type
  (analog of TdhGetEventInformation property extraction,
  ``src/main.cpp:302-317``)
- first-seen dedup   = the reference keeps the first record per key
  (``src/main.cpp:256-259``); Spark's ``dropDuplicates`` picks an
  arbitrary row, so we use row_number over a stable (ts, event_id)
  ordering instead — deterministic AND distributed.

Scale: the catalog is tiny relative to the event log (distinct types
<< rows), so the build is a single shuffle keyed by event_type with
map-side partial aggregation; per-type queries are scan + pushed-down
predicate + early-out limit. No driver-side state is required except
the (small) collected catalog when used as a schema registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CATALOG_KEY = "event_type"


def first_seen(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Deterministic first-seen dedup: the first row per key under a
    total order (reference semantics: first record wins during the
    scan, ``src/main.cpp:256-259``).

    One shuffle on ``keys``; rank evaluated per-partition after the
    shuffle — no driver involvement, skew bounded by the hottest key.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_catalog(events: DataFrame) -> DataFrame:
    """One row per event type: first-seen timestamp/event plus the
    inferred property schema (ordered JSON keys of the first event).

    Equivalent of the reference's startup catalog scan (EP1,
    ``src/main.cpp:995-1014`` + ``255-321``) as one aggregation:
    ``min_by`` gives the first-seen row without a second pass.
    """
    first_ts = F.min("ts").alias("first_ts")
    return (
        events.groupBy(CATALOG_KEY)
        .agg(
            first_ts,
            F.min_by("event_id", F.struct("ts", "event_id")).alias("first_event_id"),
            F.min_by("props", F.struct("ts", "event_id")).alias("first_props"),
            F.count("*").alias("n_events"),
        )
        .withColumn("schema_keys", F.json_object_keys("first_props"))
        .drop("first_props")
    )


def per_type_query(
    events: DataFrame, event_type: str, limit: int = 100
) -> DataFrame:
    """EP2: the reference's interactive query — filter to one event
    type, project/decode, stop after ``limit`` rows
    (``src/main.cpp:399-401`` filter, ``380-387`` early abort,
    ``1073`` requestedCount=100).

    The filter lands in the parquet scan (PushedFilters) and the limit
    becomes LocalLimit/CollectLimit with early task termination — the
    same early-out the reference implements by closing the trace
    mid-scan. Ordering is explicit so "first 100" is deterministic
    (the reference's order is file order; ours is event time).
    """
    return (
        events.filter(F.col(CATALOG_KEY) == event_type)
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


def coalesce_nonzero(*cols: Column) -> Column:
    """The reference's variadic ``coalesce``: first NON-ZERO (not
    non-null) argument, else 0 (``src/main.cpp:45-53``). Used as the
    deterministic sort tie-break (``src/main.cpp:1191``)."""
    out = F.lit(0)
    for c in reversed(cols):
        out = F.when((c.isNotNull()) & (c != 0), c).otherwise(out)
    return out


def multi_key_sort(df: DataFrame, specs: list[tuple[str, bool]], tiebreak: list[str] | None = None) -> DataFrame:
    """Multi-key sort with per-column direction and a deterministic
    trailing tie-break (``src/main.cpp:1169-1195``). Spark's orderBy is
    a range-partitioned distributed sort — the same API scales from the
    reference's in-memory catalog sort to a full-table sort."""
    order = [F.col(c).asc() if asc else F.col(c).desc() for c, asc in specs]
    order += [F.col(c).asc() for c in (tiebreak or [])]
    return df.orderBy(*order)


def enum_decode(
    df: DataFrame, col: str, mapping: dict, out_col: str | None = None
) -> DataFrame:
    """Enum/map decode with raw-value fallback: resolve values through a
    small mapping, falling back to the stringified raw value on a miss
    — exactly the reference's TdhGetEventMapInformation lookup with
    numeric fallback (``src/main.cpp:697-734``, fallback ``796-803``).

    Implemented as a literal MapType lookup (JVM-side, codegen'd), not
    a join — for a dozen enum values a broadcast join would be pure
    overhead. For large dimension tables use a broadcast join instead.
    """
    out_col = out_col or f"{col}_decoded"
    pairs = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    map_lit = F.create_map(*pairs)
    return df.withColumn(
        out_col,
        F.coalesce(map_lit[F.col(col)], F.col(col).cast("string")),
    )


def conform(df: DataFrame, schema_cols: list[str]) -> DataFrame:
    """Ragged-row normalization: pad missing columns with NULL,
    truncate extras — the reference pads short rows to schema width and
    truncates long ones (``src/main.cpp:1292-1303``). On DataFrames
    this is a strict select with null-fill for absent columns."""
    present = set(df.columns)
    cols = [
        F.col(c) if c in present else F.lit(None).alias(c) for c in schema_cols
    ]
    return df.select(*cols)
