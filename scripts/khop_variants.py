"""Time q_khop_paths steady-state variants to size the r7 fixed-cost
fixes: (a) memoized final DF (skip per-run re-analysis), (b) final sort
as single-partition merge vs range-partitioned orderBy."""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
os.environ.setdefault("SPARK_GRAFT_SERVING", "tables")

from cell_kn_mvp_etl_results_spark import serving
from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.plans import graph_queries as gq
from cell_kn_mvp_etl_results_spark.operators.graph import k_hop_counts
from cell_kn_mvp_etl_results_spark.session import get_spark

from pyspark.sql import functions as F

spark = get_spark(
    "khop-var",
    shuffle_partitions=8,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

spec = REGISTRY["q_khop_paths"]
spec.builder(spark, sf_dir).collect()  # build caches

(entry,) = [e for e in serving.entries() if e.name == "khop.hops"]
hops, term = entry.value["hops"], entry.value["term"]


def counts():
    return k_hop_counts(
        hops, gq._khop_start(spark, sf_dir), ["O", "P", "S"],
        terminal=term, compress_frontier=False,
    ).select(
        F.concat(F.lit("C_"), F.col("v0_key")).alias("start"),
        "n_paths",
        "n_terminals",
    )


def med(fn, label):
    fn()  # warm
    s = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        s.append(time.perf_counter() - t0)
    print(f"{label}: {sorted(s)[1]:.3f}s")


med(lambda: spec.builder(spark, sf_dir).collect(), "full (build+orderBy)   ")
med(lambda: counts().orderBy("start").collect(), "no-memo orderBy        ")
med(lambda: counts().collect(), "no-memo no-sort        ")
med(
    lambda: counts().repartition(1).sortWithinPartitions("start").collect(),
    "no-memo 1-part sort    ",
)
memo = counts().orderBy("start")
med(lambda: memo.collect(), "memoized DF + orderBy  ")
memo2 = counts().repartition(1).sortWithinPartitions("start")
med(lambda: memo2.collect(), "memoized DF 1-part sort")
a = [tuple(r) for r in memo.collect()]
b = [tuple(r) for r in memo2.collect()]
print("identical:", a == b)
spark.stop()
