"""CLI veneer tests: each subcommand is exercised through main() with
an injected SparkSession and captured output — what the reference user
gets at a shell must be exactly what the tested library returns."""

from __future__ import annotations

import io
import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_lens_spark import cli
from etl_lens_spark.sources import tables


def _run(spark, argv):
    buf = io.StringIO()
    rc = cli.main(argv, spark, buf)
    return rc, buf.getvalue()


def test_cli_catalog_sorted_desc(spark, sf_dir):
    rc, out = _run(
        spark,
        ["catalog", "--sf-dir", sf_dir, "--sort", "n_events:desc",
         "--format", "tsv", "--limit", "10"],
    )
    assert rc == 0
    lines = out.strip().splitlines()
    header = lines[0].split("\t")
    assert header[0] == "event_type" and "n_events" in header
    counts = [int(r.split("\t")[header.index("n_events")]) for r in lines[1:]]
    assert counts == sorted(counts, reverse=True) and counts


def test_cli_query_projects_and_limits(spark, sf_dir):
    rc, out = _run(
        spark,
        ["query", "--sf-dir", sf_dir, "--type", "click",
         "--columns", "event_id,user_id", "--limit", "5",
         "--format", "tsv"],
    )
    assert rc == 0
    lines = out.strip().splitlines()
    assert lines[0] == "event_id\tuser_id"
    assert len(lines) == 6  # header + 5 rows
    # EP2 determinism: first-N under event-time order
    ids = [int(r.split("\t")[0]) for r in lines[1:]]
    assert ids == sorted(ids) or len(set(ids)) == 5


def test_cli_sql_over_views(spark, sf_dir):
    rc, out = _run(
        spark,
        ["sql", "--sf-dir", sf_dir, "--format", "tsv",
         "SELECT r_name FROM region ORDER BY r_name"],
    )
    assert rc == 0
    names = out.strip().splitlines()[1:]
    assert names == sorted(names) and len(names) == 5


def test_cli_run_registry_and_unknown(spark, sf_dir):
    rc, out = _run(
        spark,
        ["run", "r_catalog_build", "--sf-dir", sf_dir,
         "--format", "tsv", "--limit", "50"],
    )
    assert rc == 0
    assert "event_type" in out.splitlines()[0]
    rc, _ = _run(spark, ["run", "definitely_not_a_query"])
    assert rc == 2


def test_cli_explain_shows_pushdown(spark, sf_dir):
    rc, out = _run(spark, ["explain", "q6_revenue_forecast",
                           "--sf-dir", sf_dir])
    assert rc == 0
    assert "PushedFilters" in out and "Physical Plan" in out


def test_cli_list_names_every_registry_query(spark):
    from etl_lens_spark.queries import REGISTRY, _load

    _load()
    rc, out = _run(spark, ["list"])
    assert rc == 0
    listed = {ln.split("\t")[0] for ln in out.strip().splitlines()}
    assert listed == set(REGISTRY)


def test_cli_oracle_subcommand(spark):
    # runs the differential check through the CLI veneer; exit code
    # carries the pass/fail contract
    rc, _ = _run(spark, ["oracle", "r_catalog_build"])
    assert rc == 0


def test_cli_explain_golden_matches_headline_pin(spark, sf_dir):
    """Golden explain (VERDICT r4 #9): the user-facing `explain`
    subcommand output for a pinned headline must carry exactly the
    plan the pin table audits — exchange count, no join/Python nodes,
    whole-stage codegen on the agg path, and a pruned ReadSchema —
    so the CLI's answer to 'what will this do to my cluster' is the
    same plan CI pins."""
    from tests.test_plan_shapes import HEADLINE_PINS

    rc, out = _run(spark, ["explain", "q1_pricing_summary",
                           "--sf-dir", sf_dir])
    assert rc == 0
    want_ex, want_joins, want_py = HEADLINE_PINS["q1_pricing_summary"]
    assert out.count("Exchange") >= want_ex  # formatted mode lists nodes
    assert "Join" not in out and want_joins == set()
    assert "EvalPython" not in out and "InPandas" not in out
    # partial+final agg pair around the one shuffle (tree section
    # nodes are "HashAggregate (n)"; the detail section repeats them
    # as "(n) HashAggregate")
    import re

    assert len(re.findall(r"HashAggregate \(\d+\)", out)) == 2
    # column pruning reached the scan: only the 7 q1 columns are read
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", out)
    assert m, out
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_cli_config_lists_every_knob_and_reflects_sets(spark, sf_dir):
    """The `config` subcommand is the user-facing dial surface: every
    registered knob prints with current/default/meaning, and a
    session-level SET shows up as current != default."""
    from etl_lens_spark.config import KNOBS

    rc, out = _run(spark, ["config"])
    assert rc == 0
    lines = [ln for ln in out.strip().splitlines() if ln]
    keys = {ln.split("\t")[0] for ln in lines}
    assert keys == set(KNOBS)
    spark.conf.set("spark.etl_lens.cms.width", "512")
    try:
        rc, out = _run(spark, ["config"])
        row = next(
            ln for ln in out.splitlines()
            if ln.startswith("spark.etl_lens.cms.width")
        )
        assert "\t512\t" in row and "(set)" in row
    finally:
        spark.conf.unset("spark.etl_lens.cms.width")


# -- the session's table handles (sources/tables.py) ---------------------


def _copy_sf(src, dst):
    """A writable copy of a fixture directory."""
    dst.mkdir()
    for name in tables.TABLE_NAMES:
        shutil.copyfile(
            tables.table_path(src, name), tables.table_path(str(dst), name)
        )
    return str(dst)


def _sql(spark, sf, statement):
    rc, out = _run(
        spark, ["sql", "--sf-dir", sf, "--format", "tsv", statement]
    )
    assert rc == 0
    return out.strip().splitlines()[1:]


def _rewrite(sf, name, n, **extra):
    """Rewrite table ``name`` in place with its first ``n`` rows plus
    the constant columns ``extra``, in row groups of 2 rows."""
    path = tables.table_path(sf, name)
    t = pq.read_table(path).slice(0, n)
    for col, value in extra.items():
        t = t.append_column(col, pa.array([value] * t.num_rows))
    pq.write_table(t, path, row_group_size=2)


@pytest.fixture
def counted(monkeypatch):
    """The table names ``load_table`` reads and the temp views created,
    in call order."""
    from pyspark.sql.classic.dataframe import DataFrame

    loads, views = [], []
    load = tables.load_table
    create = DataFrame.createOrReplaceTempView

    def counting_load(spark, sf_dir, name):
        loads.append(name)
        return load(spark, sf_dir, name)

    def counting_create(df, name):
        views.append(name)
        return create(df, name)

    monkeypatch.setattr(tables, "load_table", counting_load)
    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", counting_create)
    return loads, views


def test_repeat_sql_reads_no_table_and_creates_no_view(spark, sf_dir, counted):
    loads, views = counted
    first = _sql(spark, sf_dir, "SELECT count(*) FROM lineitem")
    loads.clear()
    views.clear()
    assert _sql(spark, sf_dir, "SELECT count(*) FROM lineitem") == first
    assert _sql(spark, sf_dir, "SELECT r_name FROM region") != []
    assert loads == [] and views == []


def test_rewritten_table_file_shows_its_new_rows(spark, sf_dir, tmp_path):
    """A file rewritten at the same path is read again: its new column
    resolves and every new row group is scanned."""
    sf = _copy_sf(sf_dir, tmp_path / "sf")
    assert _sql(spark, sf, "SELECT count(*) FROM region") == ["5"]
    click = ["query", "--sf-dir", sf, "--type", "click", "--format", "tsv"]
    assert len(_run(spark, click)[1].splitlines()) > 2
    _rewrite(sf, "region", 3, r_extra=7)
    stmt = "SELECT count(*), sum(r_extra) FROM region"
    assert _sql(spark, sf, stmt) == ["3\t21"]
    _rewrite(sf, "events", 1000, note="n")
    n_click = pq.read_table(tables.table_path(sf, "events")).column(
        "event_type"
    ).to_pylist().count("click")
    rc, out = _run(spark, click + ["--columns", "event_id,note", "--limit", "500"])
    assert rc == 0
    assert out.splitlines()[0] == "event_id\tnote"
    assert len(out.splitlines()) == 1 + n_click


def test_foreign_view_of_a_table_name_is_replaced(spark, sf_dir, counted):
    loads, views = counted
    n = str(pq.read_metadata(tables.table_path(sf_dir, "orders")).num_rows)
    assert _sql(spark, sf_dir, "SELECT count(*) FROM orders") == [n]
    spark.range(3).createOrReplaceTempView("orders")
    loads.clear()
    views.clear()
    assert _sql(spark, sf_dir, "SELECT count(*) FROM orders") == [n]
    assert loads == [] and views == ["orders"]


def test_dropped_view_is_registered_again(spark, sf_dir):
    assert _sql(spark, sf_dir, "SELECT count(*) FROM nation") == ["25"]
    spark.catalog.dropTempView("nation")
    assert _sql(spark, sf_dir, "SELECT count(*) FROM nation") == ["25"]


def test_second_sf_dir_takes_over_the_view_names(spark, sf_dir, tmp_path):
    other = _copy_sf(sf_dir, tmp_path / "sf")
    _rewrite(other, "region", 2)
    count = "SELECT count(*) FROM region"
    assert _sql(spark, sf_dir, count) == ["5"]
    assert _sql(spark, other, count) == ["2"]
    assert _sql(spark, sf_dir, count) == ["5"]


def test_inference_conf_change_registers_again(spark, sf_dir, counted):
    loads, views = counted
    stmt = "SELECT min(unix_micros(ts)), max(unix_micros(ts)) FROM events"
    want = _sql(spark, sf_dir, stmt)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    loads.clear()
    views.clear()
    try:
        assert _sql(spark, sf_dir, stmt) == want
    finally:
        spark.conf.set(conf, before)
    assert "events" in loads and "events" in views


def test_new_session_after_stop(sf_dir):
    """Handles are per session: a session built after ``stop()`` gets
    its own frames and views, not the stopped session's."""
    script = textwrap.dedent(
        """
        import io, sys
        from pyspark.sql import SparkSession
        from etl_lens_spark import cli

        def run(spark, argv):
            buf = io.StringIO()
            assert cli.main(argv + ["--sf-dir", sys.argv[1],
                                    "--format", "tsv"], spark, buf) == 0
            return buf.getvalue()

        outs = []
        for _ in range(2):
            spark = (SparkSession.builder.master("local[1]")
                     .config("spark.driver.memory", "512m")
                     .config("spark.ui.enabled", "false").getOrCreate())
            outs.append(run(spark, ["sql", "SELECT count(*) FROM orders"])
                        + run(spark, ["query", "--type", "click",
                                      "--limit", "5"]))
            spark.stop()
        assert outs[0] == outs[1] and len(outs[0].splitlines()) == 8, outs
        print("ok")
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    res = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), (
        res.stdout[-2000:] + res.stderr[-4000:]
    )


@pytest.mark.parametrize("fmt", ["tsv", "show"])
def test_click_output_equals_the_load_table_path(spark, sf_dir, fmt):
    from etl_lens_spark.catalog import per_type_query

    assert tables.shared_table(spark, sf_dir, "events") is tables.shared_table(
        spark, sf_dir, "events"
    )
    for et, limit, cols in (
        ("click", 20, None), ("view", 100, "ts,event_id,props"),
        ("purchase", 500, "user_id,value"),
    ):
        argv = ["query", "--sf-dir", sf_dir, "--type", et,
                "--limit", str(limit), "--format", fmt]
        rc, got = _run(spark, argv + (["--columns", cols] if cols else []))
        assert rc == 0
        want = per_type_query(
            tables.load_table(spark, sf_dir, "events"), et, limit=limit
        )
        if cols:
            want = want.select(*cols.split(","))
        buf = io.StringIO()
        cli._emit(want, limit, fmt, buf)
        assert got == buf.getvalue()
        assert len(got.splitlines()) > 2
