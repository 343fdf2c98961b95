"""get_spark contract: a session built from any working directory runs
the Arrow/pandas UDF queries, whose Python workers import this package
by name."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from cell_kn_mvp_etl_results_spark.plans import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df) -> list[str]:
    return sorted(json.dumps(list(r), default=str) for r in df.collect())


def test_udf_query_runs_outside_repo_root(spark, sf_dir, tmp_path):
    # A fresh driver in an unrelated directory, with the package reachable
    # only through the driver's own sys.path (no PYTHONPATH, not installed).
    script = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.session import get_spark

spark = get_spark("cwd-check", master="local[1]")
df = REGISTRY["q_decode_image"].builder(spark, sys.argv[1])
rows = sorted(json.dumps(list(r), default=str) for r in df.collect())
print(json.dumps(rows))
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    env.pop("SPARK_GRAFT_SERVING", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    want = _rows(REGISTRY["q_decode_image"].builder(spark, sf_dir))
    assert want and got == want
