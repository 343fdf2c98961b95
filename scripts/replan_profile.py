"""Rebuild-regime phase profile for the headliners, in bench.py's
session (``bench.local_session``): per run, split
  build   -- builder() call (py4j plan construction / spark.sql parse +
             analysis + any per-call jobs the builder runs)
  plan    -- force executedPlan (optimization + physical planning +
             codegen source generation)
  exec    -- collect() on the already-planned DataFrame
so optimization work attacks the phase that actually costs.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/replan_profile.py [runs]
R12_ONLY=name1,name2 limits the run to those queries.
Prints one JSON line {name: {"build": med, "plan": med, "exec": med}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ["SPARK_GRAFT_SERVING"] = "tables"

from bench import local_session  # noqa: E402
from cell_kn_mvp_etl_results_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    only = os.environ.get("R12_ONLY", "")
    spark = local_session("replan-profile", sf_dir)
    names = (
        [n for n in only.split(",") if n]
        if only
        else sorted(n for n, s in REGISTRY.items() if s.headline)
    )
    out = {}
    for name in names:
        spec = REGISTRY[name]
        spec.builder(spark, sf_dir).collect()  # warmup: codegen + init
        b, p, e = [], [], []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = spec.builder(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.collect()
            t3 = time.perf_counter()
            b.append(t1 - t0)
            p.append(t2 - t1)
            e.append(t3 - t2)
        med = lambda xs: round(sorted(xs)[len(xs) // 2], 3)  # noqa: E731
        out[name] = {"build": med(b), "plan": med(p), "exec": med(e)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
