"""get_spark contract: a session built from any working directory runs
the Arrow/pandas UDF queries, whose Python workers import this package
by name, and AQE may repartition cached plans unless extra_conf says
otherwise."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from unittest import mock

from pyspark.sql import SparkSession

from cell_kn_mvp_etl_results_spark.plans import REGISTRY
from cell_kn_mvp_etl_results_spark.session import get_spark

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


def test_aqe_may_repartition_cached_plans(spark):
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(key) == "true"
    # extra_conf still overrides it. getOrCreate is stubbed to hand back
    # the builder, so its options are read without starting a session.
    with mock.patch.object(
        SparkSession.Builder, "getOrCreate", autospec=True, side_effect=lambda b: b
    ):
        default = get_spark()._options
        overridden = get_spark(extra_conf={key: "false"})._options
    assert default[key] == "true"
    assert overridden[key] == "false"
