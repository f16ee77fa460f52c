"""Capture .explain("formatted") for every headline query.

Writes ``plans/r12/<name>_<tag>.txt`` for each headline query (tag =
``before``/``after`` via argv). Each plan is that of the DataFrame
``bench.timed_thunk`` returns — the one the bench times (a split query
in queries.BENCH_SETUP runs its untimed setup first). Optionally
restrict to a subset: ``python tools/capture_plans.py before [query ...]``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r12",
    )
    os.makedirs(out_dir, exist_ok=True)

    from bench import timed_thunk
    from etl_lens_spark import get_spark
    from etl_lens_spark.queries import headline_queries

    spark = get_spark(app_name=f"etl-lens-plans-{tag}")
    for name in headline_queries():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"plan: {name}")
        try:
            df = timed_thunk(spark, SF_DIR, name)()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — record, keep going
            text = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)", flush=True)
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
