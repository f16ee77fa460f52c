"""Interactive-workflow CLI — the reference app's UX as a terminal
command.

The reference is an interactive viewer: open a trace, show a sortable
catalog of event types (EP1/EP3, ``src/main.cpp:995-1014`` +
``1157-1247``), click one to run the per-type query — filter, decode,
first 100 rows (EP2, ``src/main.cpp:1070-1099``). This module is that
exact workflow for a user at a shell, plus the latent SQL surface the
reference bundled but never wired (SQLite at ``src/main.cpp:37``):

    python -m etl_lens_spark.cli catalog
    python -m etl_lens_spark.cli query --type click --limit 20
    python -m etl_lens_spark.cli sql "SELECT count(*) FROM events"
    python -m etl_lens_spark.cli run q1_pricing_summary
    python -m etl_lens_spark.cli list
    python -m etl_lens_spark.cli explain q3_shipping_priority

Every subcommand is a thin veneer over the library (catalog.py, the
query registry, the session's shared table frames) — the CLI holds no
query logic of its own, so anything it prints is exactly what the
tested API returns. Output
is ``df.show()`` (human) or ``--format tsv`` (machine), both computed
with a LIMIT pushed into the plan, never a driver-side collect of an
unbounded result.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _parse_sort(spec: str | None) -> list[tuple[str, bool]]:
    """``col,other:desc`` → [(col, asc), (other, False)]."""
    if not spec:
        return []
    out = []
    for part in spec.split(","):
        name, _, direction = part.partition(":")
        out.append((name.strip(), direction.strip().lower() != "desc"))
    return out


def _emit(df: DataFrame, limit: int, fmt: str, out=sys.stdout) -> None:
    if fmt == "tsv":
        rows = df.limit(limit).collect()
        print("\t".join(df.columns), file=out)
        for r in rows:
            print(
                "\t".join("" if v is None else str(v) for v in r),
                file=out,
            )
    else:
        # show() prints to stdout; _jdf keeps the limit in the plan
        print(df._jdf.showString(limit, 40, False), file=out)


def cmd_catalog(spark: SparkSession, args, out=sys.stdout) -> int:
    """EP1 + EP3: build the event-type catalog, sort interactively.
    ``events`` is the session's shared frame (``shared_table``), read
    again only when its file changed."""
    from etl_lens_spark.catalog import build_catalog, multi_key_sort
    from etl_lens_spark.sources.tables import shared_table

    cat = build_catalog(shared_table(spark, args.sf_dir, "events"))
    specs = _parse_sort(args.sort) or [("event_type", True)]
    cat = multi_key_sort(cat, specs, tiebreak=["event_type"])
    _emit(
        cat.withColumn("schema_keys", F.to_json("schema_keys")),
        args.limit,
        args.format,
        out,
    )
    return 0


def cmd_query(spark: SparkSession, args, out=sys.stdout) -> int:
    """EP2: the per-type interactive query (filter → project →
    first-N under event-time order) over the session's shared
    ``events`` frame: a click reads no footer and analyzes no scan
    while the file is unchanged."""
    from etl_lens_spark.catalog import per_type_query
    from etl_lens_spark.sources.tables import shared_table

    ev = shared_table(spark, args.sf_dir, "events")
    res = per_type_query(ev, args.type, limit=args.limit)
    if args.columns:
        res = res.select(*[c.strip() for c in args.columns.split(",")])
    _emit(res, args.limit, args.format, out)
    return 0


def cmd_sql(spark: SparkSession, args, out=sys.stdout) -> int:
    """The latent SQL surface: every fixture table registered as a
    view, arbitrary Spark SQL against them. A view is registered again
    only when its file changed or the session's view of that name is
    no longer ours (``register_views``), so a repeat statement reads
    no table."""
    from etl_lens_spark.sources.tables import register_views

    register_views(spark, args.sf_dir)
    _emit(spark.sql(args.statement), args.limit, args.format, out)
    return 0


def cmd_run(spark: SparkSession, args, out=sys.stdout) -> int:
    """Run a registered query from the engine's registry by name."""
    from etl_lens_spark.queries import REGISTRY, _load

    _load()
    if args.name not in REGISTRY:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    _emit(df, args.limit, args.format, out)
    return 0


def cmd_list(spark: SparkSession, args, out=sys.stdout) -> int:
    from etl_lens_spark.queries import REGISTRY, _load

    _load()
    for name in sorted(REGISTRY):
        oracle = "sql" if REGISTRY[name].oracle else "rows"
        print(f"{name}\t{oracle}", file=out)
    return 0


def cmd_explain(spark: SparkSession, args, out=sys.stdout) -> int:
    """Formatted physical plan for a registry query — the honest
    answer to 'what will this do to my cluster'."""
    from etl_lens_spark.queries import REGISTRY, _load

    _load()
    if args.name not in REGISTRY:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    print(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ),
        file=out,
    )
    return 0


def cmd_oracle(spark: SparkSession, args, out=sys.stdout) -> int:
    """Differential check of one or more registry queries against
    DuckDB (the local replica of the driver's correctness gate)."""
    import os

    os.environ.setdefault("ORACLE_SF_DIR", args.sf_dir)
    from tools import oracle_check

    return oracle_check.main(args.names)


def cmd_config(spark: SparkSession, args, out=sys.stdout) -> int:
    """List every spark.etl_lens.* tuning knob with current value,
    default, and meaning — the user-facing accuracy/cost dial surface
    (set via --conf or ``SET spark.etl_lens...`` in the sql path)."""
    from etl_lens_spark.config import describe

    for key, current, default, meaning in describe(spark):
        mark = "" if current == default else "  (set)"
        print(
            f"{key}\t{current}\tdefault={default}{mark}\t{meaning}",
            file=out,
        )
    return 0


def build_parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="fixture directory with the parquet tables",
    )
    common.add_argument(
        "--format", choices=["show", "tsv"], default="show"
    )
    common.add_argument("--limit", type=int, default=100)

    p = argparse.ArgumentParser(
        prog="etl-lens-spark",
        description="ETL-Lens workflow on Spark: catalog, per-type "
        "query, SQL, and the query registry.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    sc = sub.add_parser(
        "catalog", parents=[common], help="event-type catalog (EP1/EP3)"
    )
    sc.add_argument("--sort", help="col[:desc][,col...]")
    sc.set_defaults(fn=cmd_catalog)

    sq = sub.add_parser(
        "query", parents=[common], help="per-type query (EP2)"
    )
    sq.add_argument("--type", required=True)
    sq.add_argument("--columns")
    sq.set_defaults(fn=cmd_query)

    ss = sub.add_parser(
        "sql", parents=[common], help="Spark SQL over the fixture views"
    )
    ss.add_argument("statement")
    ss.set_defaults(fn=cmd_sql)

    sr = sub.add_parser(
        "run", parents=[common], help="run a registry query by name"
    )
    sr.add_argument("name")
    sr.set_defaults(fn=cmd_run)

    sl = sub.add_parser(
        "list", parents=[common], help="list registry queries"
    )
    sl.set_defaults(fn=cmd_list)

    se = sub.add_parser(
        "explain", parents=[common], help="formatted plan for a query"
    )
    se.add_argument("name")
    se.set_defaults(fn=cmd_explain)

    so_ = sub.add_parser(
        "oracle",
        parents=[common],
        help="differential DuckDB check for queries",
    )
    so_.add_argument("names", nargs="+")
    so_.set_defaults(fn=cmd_oracle)

    sk = sub.add_parser(
        "config",
        parents=[common],
        help="list spark.etl_lens.* tuning knobs (sketch/ANN dials)",
    )
    sk.set_defaults(fn=cmd_config)
    return p


def main(
    argv: list[str] | None = None,
    spark: SparkSession | None = None,
    out=sys.stdout,
) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from etl_lens_spark.session import get_spark

        spark = get_spark(app_name="etl-lens-cli")
    return args.fn(spark, args, out)


if __name__ == "__main__":
    sys.exit(main())
