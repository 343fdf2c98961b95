"""All-registry measurement sweep (measure first, then optimize).

Times EVERY registered query at the bench scale factor in bench.py's
own session (``bench.local_session``) and methodology (per-query
warmup, median of 3 timed runs), in BOTH the rebuild regime (SPARK_GRAFT_SERVING=tables:
warm table cache, plans rebuilt -- the from-scratch-per-run number the
2x bar is graded on) and the prepared regime (=plans), and captures
``explain("formatted")`` for every query into a directory.

The timed action is ``collect()`` -- identical to bench.py -- so the
numbers are directly comparable to BENCH_rNN.json. (The noop sink is
used separately when isolating a single query's computation from its
result pull; headliner results are <= a few hundred rows, so collect
vs noop differ by <1 ms here -- measured in OPTIMIZATION_r12.md.)

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/query_sweep.py \
      [--plans-dir plans/r12/sweep] [--only name1,name2] [--runs 3]

Prints one JSON line: {"rebuild": {name: sec}, "prepared": {name: sec},
"errors": {name: msg}, "sf": ..., "shuffle": N}.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--only", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--skip-prepared", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from bench import local_session
    from cell_kn_mvp_etl_results_spark.plans import REGISTRY

    spark = local_session("query-sweep", sf_dir)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    names = sorted(REGISTRY)
    if args.only:
        names = [n for n in args.only.split(",") if n in REGISTRY]

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    def timed(name: str, level: str) -> float:
        os.environ["SPARK_GRAFT_SERVING"] = level
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"sweep:{name}:{level}")
        spec.builder(spark, sf_dir).collect()  # warmup
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        return round(sorted(samples)[len(samples) // 2], 4)

    rebuild: dict[str, float] = {}
    prepared: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            rebuild[name] = timed(name, "tables")
            if not args.skip_prepared:
                prepared[name] = timed(name, "plans")
            if args.plans_dir:
                os.environ["SPARK_GRAFT_SERVING"] = "tables"
                df = REGISTRY[name].builder(spark, sf_dir)
                with open(
                    os.path.join(args.plans_dir, f"{name}.txt"), "w"
                ) as fh:
                    fh.write(_explain(df))
        except Exception as exc:  # keep sweeping; report at the end
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    print(
        json.dumps(
            {
                "rebuild": rebuild,
                "prepared": prepared,
                "errors": errors,
                "sf": sf,
                "shuffle": shuffle,
                "n": len(names),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
