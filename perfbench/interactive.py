"""``interactive``: the viewer's UX loop through the engine's entry points.

One client, closed loop, sf0.1 inputs (events: 100k rows, 5 types).
As in the reference viewer, a session starts with one catalog scan
(``cmd_catalog``, here with a seeded sort spec); that is the set-up.
Then each block is a seeded shuffle of 20 clicks (``cmd_query``: one
event type drawn skewed over the five, a limit cycling through
{20, 100, 500}, a seeded column subset) and 4 ad-hoc SQL statements
(``cmd_sql``, cycling through five templates with fresh seeded
literals), all with ``--format tsv`` into a buffer, plus 2 saved
curation jobs: headline queries from ``queries.headline_queries()``
through the noop sink, one MinHash LSH dedup (Python/Arrow evaluation)
and one RRF fusion (staging, eager jobs, shuffles). Every block has the
same mix, so runs that end after different numbers of blocks compare.

The 10 : 2 : 1 mix of clicks, SQL and curation jobs is an assumption:
the reference viewer only clicks, and no measured session gives the
share of SQL and curation jobs. Clicks are most of the samples, so a
change to the SQL or curation paths moves the gated figures only by
its share of them.

The untimed warm-up runs each action type once. After the loop each
distinct CLI action's first output is checked once against DuckDB on
the same parquet, and each curation job is collected once more and
checked against its registered DuckDB oracle with
``tools/oracle_check.py``'s canonicalisation (rows-only when it has
none).
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import statistics

from perfbench import datagen
from perfbench.common import latency_summary
from tools.oracle_check import canon_rows, duck_type_to_spark, spark_type_name

CLICK_LIMITS = (20, 100, 500)
EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
CATALOG_COLS = ("event_type", "first_ts", "first_event_id", "n_events")
TYPE_WEIGHTS = (0.4, 0.25, 0.15, 0.12, 0.08)
BATCH_QUERIES = ("dedup_minhash_lsh", "rank_rrf_fusion")
# an assumed mix (see the module docstring)
BLOCK = ("click",) * 20 + ("sql",) * 4 + BATCH_QUERIES


def _day(rng, lo_days: int = 0, span: int = 2000) -> str:
    import datetime

    d = datetime.date(1995, 1, 1) + datetime.timedelta(int(rng.integers(lo_days, span)))
    return d.isoformat()


def sql_statement(rng, t: int) -> str:
    """An ad-hoc statement from template ``t`` (0-4), with fresh literals."""
    if t == 0:
        v = round(float(rng.uniform(0, 150)), 2)
        return (
            "SELECT event_type, count(*) AS n, sum(value) AS s FROM events "
            f"WHERE value > {v} GROUP BY event_type ORDER BY event_type"
        )
    if t == 1:
        d = _day(rng)
        return (
            "SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS a "
            f"FROM orders WHERE o_orderdate >= TIMESTAMP '{d} 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{d} 00:00:00' + INTERVAL 90 DAY "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        )
    if t == 2:
        seg = datagen.SEGMENTS[int(rng.integers(0, 5))]
        d = _day(rng)
        return (
            "SELECT n_name, count(*) AS n, "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = '{seg}' AND o_orderdate >= TIMESTAMP '{d} 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{d} 00:00:00' + INTERVAL 365 DAY "
            "GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10"
        )
    if t == 3:
        et = datagen.EVENT_TYPES[int(rng.integers(0, 5))]
        u = int(rng.integers(50, 1500))
        return (
            "SELECT user_id, count(*) AS n, max(value) AS mx FROM events "
            f"WHERE event_type = '{et}' AND user_id < {u} "
            "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20"
        )
    d = _day(rng, 1000, 2400)
    return (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, "
        "count(*) AS n, avg(l_discount) AS d FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )


def _fmt(v) -> str:
    return "" if v is None else str(v)


def same_output(got: str, header: list[str], rows: list[tuple]) -> bool:
    """TSV from the CLI vs expected rows: same header, same row order,
    numbers equal to 1e-9 relative (sums accumulate in another order)."""
    lines = got.rstrip("\n").split("\n")
    if lines[0].split("\t") != header or len(lines) - 1 != len(rows):
        return False
    for line, row in zip(lines[1:], rows):
        cells = line.split("\t")
        if len(cells) != len(row):
            return False
        for a, b in zip(cells, map(_fmt, row)):
            if a == b:
                continue
            try:
                if not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            except ValueError:
                return False
    return True


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data = ctx.path("data")
        self.rng = ctx.rng
        self.types = [datagen.EVENT_TYPES[i] for i in self.rng.permutation(5)]
        self.first: dict[tuple, str] = {}  # distinct action → first output
        # limits and SQL templates cycle, so every seed does the same mix
        self.n_clicks = self.n_sql = 0
        self.catalog_spec = self._catalog_spec()

    def generate(self) -> None:
        datagen.generate(self.data, self.ctx.sf, self.ctx.seed)

    def _args(self, **kw) -> argparse.Namespace:
        base = dict(sf_dir=self.data, format="tsv", limit=100, sort=None, columns=None)
        base.update(kw)
        return argparse.Namespace(**base)

    def _run(self, key: tuple, fn, args) -> str:
        from etl_lens_spark import cli

        buf = io.StringIO()
        getattr(cli, fn)(self.ctx.spark, args, buf)
        out = buf.getvalue()
        self.first.setdefault(key, out)
        return out

    # -- actions ------------------------------------------------------

    def click(self):
        rng = self.rng
        et = self.types[int(rng.choice(5, p=TYPE_WEIGHTS))]
        limit = CLICK_LIMITS[self.n_clicks % len(CLICK_LIMITS)]
        self.n_clicks += 1
        cols = None
        if rng.random() < 0.7:
            k = int(rng.integers(2, 6))
            cols = ",".join(EVENT_COLS[i] for i in sorted(rng.choice(6, k, replace=False)))
        key = ("click", et, limit, cols)
        return key, "cmd_query", self._args(type=et, limit=limit, columns=cols)

    def _catalog_spec(self) -> str:
        rng = self.rng
        k = int(rng.integers(1, 3))
        picks = rng.choice(len(CATALOG_COLS), k, replace=False)
        return ",".join(
            CATALOG_COLS[i] + (":desc" if rng.random() < 0.5 else "") for i in picks
        )

    def sql(self):
        stmt = sql_statement(self.rng, self.n_sql % 5)
        self.n_sql += 1
        return ("sql", stmt), "cmd_sql", self._args(statement=stmt)

    def _batch(self, spec) -> None:
        with self.ctx.tracer.span("queries.construct"):
            df = spec.fn(self.ctx.spark, self.data)
        self.ctx.tracer.plan(df)
        df.write.format("noop").mode("overwrite").save()

    def _specs(self) -> dict:
        from etl_lens_spark.queries import headline_queries

        specs = headline_queries()
        return {q: specs[q] for q in BATCH_QUERIES}

    # -- harness hooks -----------------------------------------------

    def prepare(self) -> None:
        # the viewer's start: one catalog scan
        spec = self.catalog_spec
        self._run(("catalog", spec), "cmd_catalog", self._args(sort=spec))

    def warmup(self) -> None:
        for make in (self.click, self.sql, self.sql):
            key, fn, args = make()
            self._run(key, fn, args)
        for spec in self._specs().values():
            self._batch(spec)

    def block(self) -> None:
        specs = self._specs()
        for i in self.rng.permutation(len(BLOCK)):
            kind = BLOCK[i]
            if kind in specs:
                self.ctx.timed(kind, self._batch, specs[kind])
            else:
                key, fn, args = getattr(self, kind)()
                self.ctx.timed(kind, self._run, key, fn, args)

    def verify(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        con.execute("SET TimeZone = 'UTC'")
        for n, (key, got) in enumerate(sorted(self.first.items(), key=repr)):
            header, rows = self.expected(con, key)
            if self.ctx.corrupt and n == 0:
                rows = rows[1:] + [tuple(None for _ in header)]
            self.ctx.check(same_output(got, header, rows), f"{key}")
        for q, spec in self._specs().items():
            df = spec.fn(self.ctx.spark, self.data)
            s_cols = df.columns
            s_types = [spark_type_name(f.dataType) for f in df.schema.fields]
            s_rows = [tuple(r) for r in df.collect()]
            if not spec.oracle:
                self.ctx.check(len(s_rows) > 0, f"{q}: rows-only, empty result")
                continue
            res = con.sql(spec.oracle)
            d_cols = list(res.columns)
            d_types = [duck_type_to_spark(str(t)) for t in res.types]
            d_rows = res.fetchall()
            self.ctx.check(
                len(s_rows) == len(d_rows)
                and dict(zip(s_cols, s_types)) == dict(zip(d_cols, d_types))
                and canon_rows(s_cols, s_rows) == canon_rows(d_cols, d_rows),
                f"{q}: differs from its DuckDB oracle",
            )
        con.close()

    def expected(self, con, key: tuple) -> tuple[list[str], list[tuple]]:
        kind = key[0]
        if kind == "click":
            _, et, limit, cols = key
            names = cols.split(",") if cols else list(EVENT_COLS)
            res = con.execute(
                f"SELECT {', '.join(names)} FROM events WHERE event_type = ? "
                "ORDER BY ts, event_id LIMIT ?",
                [et, limit],
            )
            return names, res.fetchall()
        if kind == "sql":
            res = con.execute(key[1])
            return [d[0] for d in res.description], res.fetchall()[:100]
        rows = con.execute(
            "SELECT event_type, ts, event_id, n, props FROM ("
            " SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) rn,"
            " count(*) OVER (PARTITION BY event_type) n FROM events) WHERE rn = 1"
        ).fetchall()
        cat = [
            (et, ts, eid, n, json.dumps(list(json.loads(p)), separators=(",", ":")))
            for et, ts, eid, n, p in rows
        ]
        specs = [("event_type", True)]
        if key[1]:
            specs = [
                (part.split(":")[0], not part.endswith(":desc"))
                for part in key[1].split(",")
            ] + [("event_type", True)]
        for col, asc in reversed(specs):
            i = CATALOG_COLS.index(col)
            cat.sort(key=lambda r: r[i], reverse=not asc)
        return [*CATALOG_COLS, "schema_keys"], cat[:100]

    def detail(self) -> dict:
        # the catalog scan is the set-up, repeated there
        out = {"catalog_p50_ms": 1000.0 * statistics.median(self.ctx.detail["prepare_s"])}
        for kind in ("click", "sql"):
            ms = [m for k, m in self.ctx.ops if k == kind]
            out[f"{kind}_p50_ms"] = statistics.median(ms) if ms else 0.0
        ms = [m for k, m in self.ctx.ops if k in BATCH_QUERIES]
        out["batch_p50_ms"] = statistics.median(ms) if ms else 0.0
        lat = latency_summary([m for _, m in self.ctx.ops])
        out.update(
            interactive_p50_ms=lat["p50"], interactive_tail_ms=lat["tail"],
            interactive_tail_pct=lat["tail_pct"], samples=lat["n"],
            distinct_actions_checked=len(self.first),
        )
        return out
