"""Follow-up A/B (r9): combine the two winners of supplier_100x_ab --
aggregate-below-supplier-join and the shuffle-hash fact join -- and
re-measure the contenders in one session to rank them under identical
conditions.

Run: python scripts/supplier_combo_ab.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data100/sf1"
os.environ.setdefault("SPARK_GRAFT_SERVING", "tables")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cell_kn_mvp_etl_results_spark.functions.money import cents
from cell_kn_mvp_etl_results_spark.session import get_spark
from cell_kn_mvp_etl_results_spark.sources.readers import read_table

from pyspark.sql import functions as F

spark = get_spark(
    "supplier-combo-ab",
    shuffle_partitions=32,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()


def omap(shj: bool):
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("o_orderkey"),
            F.col("c_nationkey").alias("cust_nation"),
            "n_name",
        )
    )
    return m.hint("shuffle_hash") if shj else m


def build(shj: bool, agg_below: bool):
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    m = omap(shj)
    disc_bp = F.lit(100) - cents("l_discount")
    joined = li.join(m, li.l_orderkey == m.o_orderkey)
    if agg_below:
        pre = joined.groupBy("l_suppkey", "cust_nation", "n_name").agg(
            F.sum(cents("l_extendedprice") * disc_bp).alias("amt"),
            F.count(F.lit(1)).alias("n"),
        )
        return (
            pre.join(
                F.broadcast(s),
                (pre.l_suppkey == s.s_suppkey)
                & (s.s_nationkey == F.col("cust_nation")),
            )
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                (F.sum("amt") / F.lit(10000.0)).alias("revenue"),
                F.sum("n").alias("n_items"),
            )
            .orderBy(F.desc("revenue"), "nation")
        )
    return (
        joined.join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == F.col("cust_nation")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents("l_extendedprice") * disc_bp) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


def med(fn, label):
    fn().collect()  # warm
    s = []
    for _ in range(3):
        t0 = time.perf_counter()
        rows = fn().collect()
        s.append(time.perf_counter() - t0)
    print(f"{label}: median {sorted(s)[1]:.3f}s  rows={len(rows)}", flush=True)
    return [tuple(r) for r in rows]


variants = {
    "omap SMJ            ": lambda: build(False, False),
    "omap SHJ            ": lambda: build(True, False),
    "agg-below SMJ       ": lambda: build(False, True),
    "agg-below SHJ combo ": lambda: build(True, True),
}
results = {}
for _round in range(2):  # interleave to factor out box drift
    for label, fn in variants.items():
        results.setdefault(label, []).append(med(fn, f"r{_round} {label}"))
base = next(iter(results.values()))[0]
print("identical:", all(r == base for rs in results.values() for r in rs))
spark.stop()
