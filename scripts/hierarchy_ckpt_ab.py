"""Interleaved A/B of hierarchy_longest_path's checkpoint cadence at a
scaled corpus (verdict r6 #8 done-criterion: 'measured no slower at
30x'). Cadence 1 = the pre-r7 per-round eager localCheckpoint; 4 = the
r7 bounded cadence. Same process, alternating, median of 3 each.

Run: python scripts/hierarchy_ckpt_ab.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data30/sf1"
# Table cache on, prepared-plan cache off: the traversal loop runs at
# BUILD time (driver-side iteration), so a reused plan would replay
# run 1's loop.
os.environ["SPARK_GRAFT_SERVING"] = "tables"
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cell_kn_mvp_etl_results_spark.operators import graph as gr
from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.session import get_spark

spark = get_spark(
    "hier-ckpt-ab",
    shuffle_partitions=32,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

spec = REGISTRY["q_hierarchy_longest"]


def run_once(cadence: int) -> float:
    gr.HIERARCHY_CKPT_EVERY = cadence
    t0 = time.perf_counter()
    n = len(spec.builder(spark, sf_dir).collect())
    wall = time.perf_counter() - t0
    assert n > 0
    return wall


run_once(4)  # warm table cache + codegen
r1, r4 = [], []
for _ in range(3):
    r1.append(run_once(1))
    r4.append(run_once(4))
print("cadence=1 reps:", [round(x, 2) for x in r1])
print("cadence=4 reps:", [round(x, 2) for x in r4])
print(f"medians: cadence1 {sorted(r1)[1]:.2f}s  cadence4 {sorted(r4)[1]:.2f}s")
spark.stop()
