"""Prepared-plan cache contract (plans/registry._memoized).

The cache is the steady-state serving posture: at SPARK_GRAFT_SERVING=plans
repeated builds of the same query return the SAME DataFrame (the prepared
statement -- analysis paid once), while every lower level (one-shot
correctness runs, bench cold and rebuild passes) always rebuilds.
Rows are recomputed on every action either way (it is not a result
cache), and a regenerated table file invalidates the entry.
"""

from __future__ import annotations

import os
import shutil

import pytest

from cell_kn_mvp_etl_results_spark import serving
from cell_kn_mvp_etl_results_spark.plans import REGISTRY


@pytest.fixture
def cache_mode(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "plans")
    yield
    # Restoring the env is not enough: persist() registered the table
    # plans in Spark's CacheManager, which plan-matches LATER identical
    # reads to InMemoryRelation -- leaking cached scans into subsequent
    # tests (test_plan_quality asserts PushedFilters on a parquet scan).
    # Releasing the session's store entries unpersists them.
    serving.clear(spark)
    assert not any(e.name.startswith("table.") for e in serving.entries())


def test_memo_off_by_default(spark, sf_dir):
    assert serving.level() == "derived"
    b = REGISTRY["q_pricing_summary"].builder
    assert b(spark, sf_dir) is not b(spark, sf_dir)


def test_memo_hit_and_rows_recomputed(spark, sf_dir, cache_mode):
    b = REGISTRY["q_pricing_summary"].builder
    df1 = b(spark, sf_dir)
    df2 = b(spark, sf_dir)
    assert df1 is df2  # prepared statement reused
    (entry,) = [
        e for e in serving.entries()
        if e.name == "plan.q_pricing_summary" and e.sf_dir == sf_dir
    ]
    assert entry.value is df1
    # Each action re-executes; results identical and real.
    r1 = [tuple(r) for r in df1.collect()]
    r2 = [tuple(r) for r in df2.collect()]
    assert r1 == r2 and len(r1) > 0


def test_memo_knob_disables_reuse(spark, sf_dir, cache_mode, monkeypatch):
    # the rebuild regime: tables cached, plans rebuilt per call
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "tables")
    b = REGISTRY["q_pricing_summary"].builder
    assert b(spark, sf_dir) is not b(spark, sf_dir)
    assert any(
        e.name == "table.lineitem" and e.sf_dir == sf_dir
        for e in serving.entries()
    )


def test_memo_invalidates_on_table_rewrite(spark, sf_dir, cache_mode, tmp_path):
    # Copy the sf dir so we can touch a file without mutating testdata.
    local = tmp_path / "sf"
    shutil.copytree(sf_dir, local)
    b = REGISTRY["q_pricing_summary"].builder
    df1 = b(spark, str(local))
    p = local / "lineitem.parquet"
    os.utime(p, (p.stat().st_atime, p.stat().st_mtime + 10))
    df2 = b(spark, str(local))
    assert df1 is not df2  # fingerprint change rebuilt the plan
    (entry,) = [  # replaced, not accumulated
        e for e in serving.entries()
        if e.name == "plan.q_pricing_summary" and e.sf_dir == str(local)
    ]
    assert entry.value is df2
