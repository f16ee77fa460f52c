"""Synthesize a larger scale factor by FK-consistent replication.

``python tools/make_scale.py [factor]`` replicates /root/testdata/sf0.1
``factor``x (default 10) into ``.scratch/sf{0.1*factor}`` (``.scratch/sf1``
for the default), offsetting every key column by copy_index * range so
joins keep exactly the same selectivity per copy (each copy is a
disjoint universe; dims region/nation are shared). The replica sits
beside the per-process ``run_<pid>`` scratch dirs, not inside one, so
it outlives this process and the dead-run sweep of later ones. Time
the headline queries on it with

    SPARK_GRAFT_SF_DIR=.scratch/sf1 python bench.py [query ...]

— the local stand-in for the 100 TB question "is anything
super-linear?". bench's ``"sf"`` field then reads ``1.0``.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_lens_spark import get_spark
from etl_lens_spark.sources import sinks

SRC = "/root/testdata/sf0.1"

# key column -> id-space it lives in (offset unit per copy)
OFFSETS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {
        "l_orderkey": "order",
        "l_partkey": "part",
        "l_suppkey": "supp",
    },
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SHARED = ["region", "nation"]
UNITS = {
    "cust": 100_000,
    "supp": 10_000,
    "part": 100_000,
    "order": 10_000_000,
    "event": 10_000_000,
    "user": 100_000,
    "doc": 1_000_000,
    "vec": 1_000_000,
}


def out_dir_for(factor: int) -> str:
    """The replica's directory: ``sf<0.1 x factor>`` under the scratch
    root, named so bench.py reports its scale factor."""
    return os.path.join(sinks._SCRATCH_ROOT, f"sf{0.1 * factor:g}")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = out_dir_for(factor)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    spark = get_spark(app_name="make-scale")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    for t in SHARED:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")

    for t, keymap in OFFSETS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = df.crossJoin(
            spark.range(factor).select(F.col("id").alias("__copy"))
        )
        for col, unit in keymap.items():
            copies = copies.withColumn(
                col, F.col(col) + F.col("__copy") * F.lit(UNITS[unit])
            )
        (
            copies.drop("__copy")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{t}.parquet")
        )
        print(f"{t}: x{factor}", flush=True)
    print("done ->", out_dir)


if __name__ == "__main__":
    main()
