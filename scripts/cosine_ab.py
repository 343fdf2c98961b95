"""A/B the two cosine top-k implementations at the graded sf under the
bench protocol (AQE off, auto shuffle partitions, steady-state cache),
to size the dispatch gate in similarity.cosine_topk_auto.

Usage: python scripts/cosine_ab.py [sf_dir]
"""

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
    "cosine-ab",
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


def run(fn, label):
    fn().collect()  # warmup
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        rows = fn().collect()
        samples.append(time.perf_counter() - t0)
    print(f"{label}: median {sorted(samples)[1]:.3f}s  rows={len(rows)}")
    return rows


r_cat = run(
    lambda: sim.cosine_topk(e, q, "vec_id", "embedding", k=5, quantize=4).orderBy(
        "q_id", "rank"
    ),
    "catalyst",
)
r_arr = run(
    lambda: sim.cosine_topk_arrow(e, q, "vec_id", "embedding", k=5, quantize=4).orderBy(
        "q_id", "rank"
    ),
    "arrow   ",
)
assert [tuple(r) for r in r_cat] == [tuple(r) for r in r_arr], "paths diverge!"
print("bit-identical: OK")
spark.stop()
