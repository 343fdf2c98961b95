"""Interleaved A/B of the r7 supplier above-gate shape with and without
runtime Bloom-filter injection at the 100x corpus. The two one-shot
process runs disagreed (plain 5.6 vs bloom 7.0; plain 8.0 vs bloom 5.9),
so alternate the variants within ONE process, 5 reps each,
rebuild-per-run, and compare medians under identical load.
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
    "supplier-bloom-ab",
    shuffle_partitions=32,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

BLOOM_CONF = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "64MB",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
}


def shape_omap():
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    omap = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("o_orderkey"),
            F.col("c_nationkey").alias("cust_nation"),
            "n_name",
        )
    )
    joined = li.join(omap, li.l_orderkey == omap.o_orderkey).join(
        F.broadcast(s),
        (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("cust_nation")),
    )
    disc_bp = F.lit(100) - cents("l_discount")
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents("l_extendedprice") * disc_bp) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


def run_once(bloom: bool) -> float:
    old = {}
    if bloom:
        for k, v in BLOOM_CONF.items():
            old[k] = spark.conf.get(k)
            spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        shape_omap().collect()
        return time.perf_counter() - t0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


run_once(False)  # warm cache + codegen
run_once(True)
plain, bloom = [], []
for i in range(5):
    plain.append(run_once(False))
    bloom.append(run_once(True))
print("plain reps:", [round(x, 3) for x in plain])
print("bloom reps:", [round(x, 3) for x in bloom])
print(
    f"medians: plain {sorted(plain)[2]:.3f}  bloom {sorted(bloom)[2]:.3f}",
    flush=True,
)
spark.stop()
