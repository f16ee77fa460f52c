"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB over
the same parquet (default sf0.01), canonicalizes both results
(FIXTURES.md rules: sorted rows, 6-decimal float rounding, NULL
sentinel, timestamps → UTC ISO-8601), and compares row-count, schema,
and value hash. Use while iterating: ``python tools/oracle_check.py
[query ...]``.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


def canon_value(v):
    import datetime
    import math

    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 6):.6f}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, set)):
        # The driver's canonicalizer (pandas sort_values) dies on
        # unhashable values — mirror that strictly so any non-scalar
        # output column fails HERE before it fails in CORRECTNESS_r{N}.
        raise TypeError(
            f"non-scalar output value {type(v).__name__} — serialize with "
            "array_join/to_json in both engines (driver canon cannot hash it)"
        )
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append("|".join(canon_value(row[i]) for i in idx))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]


def spark_type_name(dt) -> str:
    return dt.simpleString()


def duck_type_to_spark(t: str) -> str:
    t = t.upper()
    m = {
        "BIGINT": "bigint",
        "HUGEINT": "decimal(38,0)",
        "INTEGER": "int",
        "SMALLINT": "smallint",
        "TINYINT": "tinyint",
        "DOUBLE": "double",
        "FLOAT": "float",
        "VARCHAR": "string",
        "DATE": "date",
        "BOOLEAN": "boolean",
        "BLOB": "binary",
        "UBIGINT": "decimal(20,0)",
    }
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.startswith("DECIMAL"):
        return t.lower()
    if t.startswith("FLOAT["):
        return "array<float>"
    if t.endswith("[]"):
        return f"array<{duck_type_to_spark(t[:-2])}>"
    return m.get(t, t.lower())


def main(names):
    from etl_lens_spark import TABLE_NAMES, get_spark
    from etl_lens_spark.queries import REGISTRY, _load

    ap = argparse.ArgumentParser(prog="oracle_check.py")
    ap.add_argument("--json", metavar="FILE")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_intermixed_args(names)
    if any("=" not in c for c in args.conf):
        ap.error("--conf takes key=value")
    conf = dict(c.split("=", 1) for c in args.conf)
    json_out, names = args.json, args.queries

    _load()
    spark = get_spark(shuffle_partitions=8, extra_conf=conf)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    selected = names or list(REGISTRY)
    n_pass = n_fail = n_skip = 0
    results = {}
    for name in selected:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_types = [spark_type_name(f.dataType) for f in sdf.schema.fields]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            results[name] = {
                "status": "fail",
                "detail": f"spark error: {type(e).__name__}",
                "sec": round(time.time() - t0, 2),
            }
            continue
        if not spec.oracle:
            print(f"skip {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_skip += 1
            results[name] = {
                "status": "rows_only",
                "rows": len(s_rows),
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            res = con.sql(spec.oracle)
            d_cols = list(res.columns)
            d_types = [duck_type_to_spark(str(t)) for t in res.types]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            results[name] = {
                "status": "fail",
                "detail": f"duckdb error: {type(e).__name__}",
                "sec": round(time.time() - t0, 2),
            }
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={s_cols} duck={d_cols}")
        else:
            st = dict(zip(s_cols, s_types))
            dt = dict(zip(d_cols, d_types))
            mism = {c: (st[c], dt[c]) for c in st if st[c] != dt[c]}
            if mism:
                problems.append(f"types {mism}")
        if not problems:
            sh = canon_rows(s_cols, s_rows)
            dh = canon_rows(d_cols, d_rows)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show first diff
                sset = {}
                idx = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                s_set = sorted("|".join(canon_value(r[i]) for i in idx) for r in s_rows)
                d_idx = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                d_set = sorted("|".join(canon_value(r[i]) for i in d_idx) for r in d_rows)
                for a, b in zip(s_set, d_set):
                    if a != b:
                        print(f"   first diff:\n    spark: {a[:300]}\n    duck : {b[:300]}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
            results[name] = {
                "status": "fail",
                "detail": "; ".join(problems)[:300],
                "sec": round(time.time() - t0, 2),
            }
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            results[name] = {
                "status": "pass",
                "rows": len(s_rows),
                "sec": round(time.time() - t0, 2),
            }
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "conf": conf,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_skip,
                    "queries": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"summary written to {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
