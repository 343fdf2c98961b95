"""Decompose q_cosine_topk's per-run wall at the graded sf: the query
collect, the size probe, and the main mapInPandas job, to find which
fixed cost to shave (verdict r6 #2)."""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
os.environ.setdefault("SPARK_GRAFT_SERVING", "tables")

from cell_kn_mvp_etl_results_spark.operators import similarity as sim
from cell_kn_mvp_etl_results_spark.session import get_spark
from cell_kn_mvp_etl_results_spark.sources.readers import read_table

from pyspark.sql import functions as F

spark = get_spark(
    "cosine-prof",
    shuffle_partitions=8,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

e = read_table(spark, sf_dir, "embeddings")
q = e.filter(F.col("vec_id") < 10)

# warm everything once
sim.cosine_topk_arrow(e, q, "vec_id", "embedding", k=5, quantize=4).orderBy(
    "q_id", "rank"
).collect()

for _ in range(3):
    t0 = time.perf_counter()
    q_rows = q.select("vec_id", "embedding").collect()
    t1 = time.perf_counter()
    corpus = e.select("vec_id", "embedding")
    n_part = corpus.rdd.getNumPartitions()
    size = int(corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    t2 = time.perf_counter()
    df = sim.cosine_topk_arrow(e, q, "vec_id", "embedding", k=5, quantize=4)
    t3 = time.perf_counter()
    rows = df.orderBy("q_id", "rank").collect()
    t4 = time.perf_counter()
    print(
        f"q_collect={t1-t0:.3f}  probe={t2-t1:.3f}  build={t3-t2:.3f}  "
        f"exec={t4-t3:.3f}  (n_part={n_part}, est={size}B, rows={len(rows)})"
    )
spark.stop()
