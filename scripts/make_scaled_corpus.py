"""Derive a ~10x corpus from /root/testdata/sf0.1 for the scale-trend
measurement (VERDICT r4 #2): Spark's per-query constant overhead is
argued to amortize with data size; this produces the data to show the
Spark/DuckDB ratio actually shrinking.

Facts scale 10x by unioning R key-remapped replicas (replica i shifts
every key in a family by i * stride, stride > max key, so referential
integrity holds within each replica and replicas never collide).
nation/region stay fixed, like TPC-H SF scaling.

Two transforms keep the WORKLOAD shape linear instead of quadratic:

* documents.text gets a per-replica salt token spliced in every 3rd
  token (replica 0 is the original). A plain copy would make every
  replica a near-duplicate of its siblings, so LSH/Jaccard candidate
  pairs -- and both engines' runtimes -- would grow O(R^2) per
  document, which no real 10x corpus does. Every 3rd token puts a salt
  in ~3/4 of trigram shingles: cross-replica Jaccard ~0.14, below the
  8-band x 4-row LSH candidate range (collision p ~0.3%); every 5th
  measured J=0.41 with collision p ~20%, still quadratic.
* embeddings rotate cyclically by replica index: same norms and value
  distribution, decorrelated directions, so cosine near-dup density
  stays constant rather than creating R-cliques.

Deterministic end to end: no RNG, transforms are pure functions of
(replica, row). Output: Spark parquet directories under
<out>/sf1/{table}.parquet readable by both engines.

Usage: python scripts/make_scaled_corpus.py [out_root] [replicas]
Defaults: out_root=/root/repo/scale_data, replicas=10.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"

# Key families: every column in a family shifts by the same stride so
# joins keep lining up (o_custkey matches c_custkey, etc.).
FAMILIES = {
    "cust": ["customer.c_custkey", "orders.o_custkey"],
    "order": ["orders.o_orderkey", "lineitem.l_orderkey"],
    "part": ["part.p_partkey", "lineitem.l_partkey"],
    "supp": ["supplier.s_suppkey", "lineitem.l_suppkey"],
    "event": ["events.event_id"],
    "user": ["events.user_id"],
    "doc": ["documents.doc_id"],
    "vec": ["embeddings.vec_id"],
}
SCALED_TABLES = (
    "customer supplier part orders lineitem events documents embeddings".split()
)
FIXED_TABLES = "region nation".split()


def _strides(spark) -> dict[str, int]:
    """stride per family = next power of 10 above the family's max key."""
    out = {}
    for fam, cols in FAMILIES.items():
        hi = 0
        for spec in cols:
            table, col = spec.split(".")
            df = spark.read.parquet(f"{SRC}/{table}.parquet")
            hi = max(hi, df.agg(F.max(col)).collect()[0][0] or 0)
        stride = 10
        while stride <= hi:
            stride *= 10
        out[fam] = stride
    return out


def _replica(df: DataFrame, table: str, i: int, strides: dict[str, int]) -> DataFrame:
    for fam, cols in FAMILIES.items():
        for spec in cols:
            t, col = spec.split(".")
            if t == table:
                df = df.withColumn(col, F.col(col) + F.lit(i * strides[fam]))
    if table == "documents" and i > 0:
        # splice " s<i>" into every 3rd token; recompute n_chars
        salted = F.array_join(
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda t, ix: F.when(ix % 3 == 2, F.concat(t, F.lit(f" s{i}"))).otherwise(t),
            ),
            " ",
        )
        df = df.withColumn("text", salted).withColumn("n_chars", F.length("text"))
    if table == "embeddings" and i > 0:
        dim = F.size("embedding")
        df = df.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", F.lit(i % 8 + 1), dim - (i % 8)),
                F.slice("embedding", 1, F.lit(i % 8)),
            ),
        )
    return df


def main(out_root: str, replicas: int) -> None:
    from bench import local_session

    out = os.path.join(out_root, "sf1")
    os.makedirs(out, exist_ok=True)
    spark = local_session("make-scaled-corpus", SRC)
    strides = _strides(spark)
    print("strides:", strides)
    for table in SCALED_TABLES:
        src = spark.read.parquet(f"{SRC}/{table}.parquet")
        scaled = _replica(src, table, 0, strides)
        for i in range(1, replicas):
            scaled = scaled.union(_replica(src, table, i, strides))
        n_out = max(4, min(32, replicas * len(src.inputFiles())))
        (
            scaled.repartition(n_out)
            .write.mode("overwrite")
            .parquet(f"{out}/{table}.parquet")
        )
        print(f"wrote {table} x{replicas}")
    for table in FIXED_TABLES:
        spark.read.parquet(f"{SRC}/{table}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/{table}.parquet")
        print(f"wrote {table} (fixed dim)")
    spark.stop()


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data",
        int(sys.argv[2]) if len(sys.argv) > 2 else 10,
    )
