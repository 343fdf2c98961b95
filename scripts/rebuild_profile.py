"""Rebuild-regime residue profile (VERDICT r10 #2): for each headliner
decompose one rebuild-regime run (warm table cache, PLAN_CACHE=0) into

  build    -- builder(spark, sf_dir) wall: py4j plan construction +
              spark.sql parse/analysis (eager);
  exec     -- .collect() wall: physical planning + execution + fetch;
  py4j     -- gateway round-trips during each phase (send_command count)

so the fixed driver-side term the 2x-bar variance rides on is measured
per query, not asserted. Run: python scripts/rebuild_profile.py
(env: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import time

import py4j.java_gateway as jg

from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.session import get_spark

CALLS = 0
_orig = jg.GatewayClient.send_command


def _counting(self, *a, **k):
    global CALLS
    CALLS += 1
    return _orig(self, *a, **k)


jg.GatewayClient.send_command = _counting


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["SPARK_GRAFT_SERVING"] = "tables"
    spark = get_spark(
        "rebuild-profile",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.constraintPropagation.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    headline = {n: s for n, s in sorted(REGISTRY.items()) if s.headline}
    global CALLS
    print(f"{'query':28s} {'build_s':>8s} {'exec_s':>8s} {'py4j_b':>7s} {'py4j_e':>7s}")
    for name, spec in headline.items():
        spec.builder(spark, sf_dir).collect()  # warmup (cache fill, JIT)
        bs, es, cb, ce = [], [], [], []
        for _ in range(5):
            CALLS = 0
            t0 = time.perf_counter()
            df = spec.builder(spark, sf_dir)
            t1 = time.perf_counter()
            c1 = CALLS
            df.collect()
            t2 = time.perf_counter()
            bs.append(t1 - t0)
            es.append(t2 - t1)
            cb.append(c1)
            ce.append(CALLS - c1)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        print(
            f"{name:28s} {med(bs):8.3f} {med(es):8.3f} "
            f"{med(cb):7d} {med(ce):7d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
