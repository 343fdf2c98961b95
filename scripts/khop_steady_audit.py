"""Audit q_khop_paths' steady-state run: wall time and Spark job count
per measured run (verdict r6 #2 -- the memoized-frame path should be a
handful of small joins)."""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
os.environ.setdefault("SPARK_GRAFT_SERVING", "tables")

from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.session import get_spark

spark = get_spark(
    "khop-audit",
    shuffle_partitions=8,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

spec = REGISTRY["q_khop_paths"]
spec.builder(spark, sf_dir).collect()  # warmup / build caches

tracker = spark.sparkContext.statusTracker()
for i in range(3):
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    t_build0 = time.perf_counter()
    df = spec.builder(spark, sf_dir)
    t_build = time.perf_counter() - t_build0
    rows = df.collect()
    wall = time.perf_counter() - t0
    jobs_after = set(tracker.getJobIdsForGroup(None) or [])
    new_jobs = sorted(jobs_after - jobs_before)
    n_stages = 0
    for j in new_jobs:
        info = tracker.getJobInfo(j)
        if info:
            n_stages += len(info.stageIds)
    print(
        f"run{i}: wall={wall:.3f}s build={t_build:.3f}s rows={len(rows)} "
        f"jobs={len(new_jobs)} stages={n_stages}"
    )
spark.stop()
