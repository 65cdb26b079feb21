#!/usr/bin/env python
"""Scale the sf0.1 testdata 10× to a local sf1 copy for scale smokes.

TPC-H-style scaling: fact/dimension tables that grow with SF are
replicated ``copies`` times with disjoint key spaces (a fixed 1e10
offset per copy — far above any real key), so join fan-outs and group
cardinalities scale the way a real sf1 would. nation/region stay fixed
(they don't scale with SF in TPC-H). Document text is re-tokenized per
copy (every token gets a copy suffix) so the near-duplicate DENSITY
matches sf0.1 instead of every doc gaining 9 artificial near-copies —
the property the minhash scale smoke depends on.

Usage: python tools/gen_sf1.py [dst_dir]   (default /root/repo/.bench/sf1)
Writes nothing outside the repo; /root/testdata is never touched.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OFFSET = 10_000_000_000
COPIES = 10

# key columns to offset per copy, per table
_KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
_FIXED = ["nation", "region"]


def _replicate(df: DataFrame, keys: list[str], copies: int) -> DataFrame:
    out = None
    for i in range(copies):
        part = df
        for k in keys:
            part = part.withColumn(k, F.col(k) + F.lit(i * OFFSET))
        if "text" in df.columns and i > 0:
            # per-copy token suffix: all shingles differ across copies,
            # so cross-copy minhash collisions don't inflate dup density
            toks = F.split(F.col("text"), " ")
            new_text = F.array_join(
                F.transform(toks, lambda x: F.concat(x, F.lit(f"_{i}"))), " "
            )
            part = part.withColumn("text", new_text)
            if "n_chars" in df.columns:
                part = part.withColumn(
                    "n_chars", F.length(F.col("text")).cast("bigint")
                )
        out = part if out is None else out.unionByName(part)
    return out


def generate(
    spark: SparkSession,
    src_dir: str = "/root/testdata/sf0.1",
    dst_dir: str = "/root/repo/.bench/sf1",
    copies: int = COPIES,
) -> str:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    os.makedirs(dst_dir, exist_ok=True)
    for name in _FIXED:
        spark.read.parquet(f"{src_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst_dir}/{name}.parquet")
    for name, keys in _KEYED.items():
        df = spark.read.parquet(f"{src_dir}/{name}.parquet")
        if name == "events":
            # normalize TIMESTAMP(NANOS) → µs timestamp on write so the
            # sf1 copy reads back as a plain timestamp everywhere
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        _replicate(df, keys, copies).write.mode("overwrite").parquet(
            f"{dst_dir}/{name}.parquet"
        )
    # marker: generation completed (bench checks this, not just the dir)
    with open(f"{dst_dir}/_DONE", "w") as fh:
        fh.write(f"copies={copies} src={src_dir}\n")
    return dst_dir


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from evolution_data_warehouse_spark.session import TIERED_JIT, get_spark

    dst = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.bench/sf1"
    # 10x the data: C2's code pays back its compile time here (session.py)
    generate(get_spark(app_name="gen_sf1", extra_conf=TIERED_JIT), dst_dir=dst)
    print(f"sf1 testdata written to {dst}")
