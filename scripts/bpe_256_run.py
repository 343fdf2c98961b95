"""Measured 256-merge BPE training run at a scaled corpus (verdict r6
#5): demonstrates the per-round cost stays flat past toy merge counts
-- the driver sync per round is a 1-row argmax collect; vocab rounds
localCheckpoint every 16 merges so lineage stays bounded.

Run: python scripts/bpe_256_run.py [sf_dir] [n_merges]
"""

from __future__ import annotations

import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data30/sf1"
n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 256
os.environ.setdefault("SPARK_GRAFT_SERVING", "tables")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cell_kn_mvp_etl_results_spark.operators.bpe import bpe_train_merges
from cell_kn_mvp_etl_results_spark.session import get_spark
from cell_kn_mvp_etl_results_spark.sources.readers import read_table

spark = get_spark(
    "bpe-256",
    shuffle_partitions=32,
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

d = read_table(spark, sf_dir, "documents")
print(f"corpus rows: {d.count()}", flush=True)

t0 = time.perf_counter()
merges = bpe_train_merges(d, "text", n_merges=n_merges)
rows = merges.collect()
wall = time.perf_counter() - t0
print(
    f"n_merges={n_merges} learned={len(rows)} wall={wall:.1f}s "
    f"({wall / max(1, len(rows)):.3f}s/merge)",
    flush=True,
)
print("first 5:", [tuple(r)[:3] for r in rows[:5]])
print("last 3:", [tuple(r)[:3] for r in rows[-3:]])
spark.stop()
