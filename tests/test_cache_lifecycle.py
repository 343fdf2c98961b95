"""Cache-lifecycle contract (VERDICT r9 #3 / ADVICE r9): every
serving-store entry (serving.py) must be RELEASED -- unpersist the old
frame, drop the old temp view -- when the corpus it was derived from
regenerates, instead of pinning one generation of serving state per
rewrite for the application's lifetime.

The regeneration tests rewrite a table in a tmp sf_dir (new mtime, the
exact thing the driver does to testdata between rounds) and assert the
stale catalog/persistence state is gone; the store tests pin serve's
lifecycle itself, including SPARK_GRAFT_SERVING=off holding no more
Spark state after repeated calls than after one.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from cell_kn_mvp_etl_results_spark import serving
from cell_kn_mvp_etl_results_spark.sources.readers import _fingerprint

from conftest import SF_DIR


def _copy_table(tmp_path, name: str) -> str:
    """Copy one table of the test lake into a tmp sf_dir; returns dir."""
    d = str(tmp_path)
    src = os.path.join(SF_DIR, f"{name}.parquet")
    dst = os.path.join(d, f"{name}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return d


def _regenerate(path: str) -> None:
    """In-place rewrite with a guaranteed-new mtime (same bytes)."""
    target = path
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if not p.startswith("_")]
        target = os.path.join(path, sorted(parts)[0])
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def _entries(d: str, name: str) -> list:
    return [e for e in serving.entries() if e.sf_dir == d and e.name == name]


def _cached_rdds(spark, since: int) -> dict[int, int]:
    """{RDD id: cached bytes} for every RDD newer than RDD id ``since``
    that holds blocks, per the block manager. The id watermark keeps
    RDDs that earlier tests left for the ContextCleaner out: their
    asynchronous cleanup would otherwise move the count mid-test."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        i.id(): i.memSize() + i.diskSize() for i in infos if i.id() > since
    }


def _cache_rdd_id(spark, df) -> int:
    """Id of the RDD that holds ``df``'s cached blocks. Call it once the
    cache is filled: on an unfilled cache it would create the RDD."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    builder = cm.lookupCachedData(df._jdf).get().cachedRepresentation().cacheBuilder()
    return builder.cachedColumnBuffers().id()


def _jobs_in(spark, fn):
    """(fn(), ids of the Spark jobs submitted while it ran)."""
    sc = spark.sparkContext
    group = f"jobs-in-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_fingerprint_directory_uses_listing(tmp_path):
    # ADVICE r9: an in-place rewrite of a part file inside a
    # directory-backed parquet table does not change the directory's
    # own mtime -- the fingerprint must see the contained listing.
    d = tmp_path / "t.parquet"
    d.mkdir()
    f = d / "part-00000.parquet"
    f.write_bytes(b"x" * 64)
    fp1 = _fingerprint(str(d))
    time.sleep(0.01)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    # the directory's OWN stat is typically unchanged by this; the
    # listing-based fingerprint must still move.
    fp2 = _fingerprint(str(d))
    assert fp1 != fp2


def test_serve_releases_displaced_entry(spark, tmp_path):
    d = _copy_table(tmp_path, "region")
    released = []
    v1 = serving.serve(spark, d, "t", ("region",), lambda: ["v1"], released.append)
    # a fingerprint match is a hit: no build, no release
    assert serving.serve(spark, d, "t", ("region",), lambda: ["x"]) is v1
    assert released == []
    # other params in the same scope displace it
    v2 = serving.serve(
        spark, d, "t", ("region",), lambda: ["v2"], released.append, params=(2,)
    )
    assert released == [v1] and v2 == ["v2"]
    # so does a regenerated input file
    _regenerate(os.path.join(d, "region.parquet"))
    v3 = serving.serve(
        spark, d, "t", ("region",), lambda: ["v3"], released.append, params=(2,)
    )
    assert released == [v1, v2]
    # one entry per scope, holding the latest value; other names untouched
    serving.serve(spark, d, "u", (), lambda: "other")
    assert [e.value for e in _entries(d, "t")] == [v3]
    assert [e.value for e in _entries(d, "u")] == ["other"]


def test_serve_swallows_release_errors(spark, tmp_path):
    d = str(tmp_path)

    def boom(v):
        raise RuntimeError("already dropped")

    serving.serve(spark, d, "t", (), lambda: 1, boom)
    assert serving.serve(spark, d, "t", (), lambda: 2, params=(1,)) == 2
    assert [e.value for e in _entries(d, "t")] == [2]
    assert serving.clear(spark) >= 1
    assert _entries(d, "t") == []


def test_serve_off_never_hits_and_keeps_one_entry(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "off")
    d = str(tmp_path)
    released = []
    values = [
        serving.serve(spark, d, "t", (), object, released.append) for _ in range(3)
    ]
    assert len({id(v) for v in values}) == 3  # rebuilt on every call
    assert released == values[:2]  # each call released the previous one
    assert [e.value for e in _entries(d, "t")] == [values[2]]


def test_serving_level_rejects_unknown_value(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SERVING"):
        serving.level()


def test_stopped_session_entries_dropped_on_next_miss(tmp_path):
    # Runs in a fresh process: stopping a session here would stop the
    # shared test session.
    script = """
import json, sys
from cell_kn_mvp_etl_results_spark import serving
from cell_kn_mvp_etl_results_spark.session import get_spark

d = sys.argv[1]
a = get_spark("serving-dead-a", master="local[1]")
df = serving.serve(
    a, d, "frame", (), lambda: a.range(10).persist(), lambda v: v.unpersist()
)
df.count()
held = [e.name for e in serving.entries() if e.session is a]
a.stop()
b = get_spark("serving-dead-b", master="local[1]")
assert b is not a
serving.serve(b, d, "other", (), lambda: 1)
print(json.dumps({
    "held": held,
    "after": [(e.session is a, e.name) for e in serving.entries()],
    "misses": serving.stats()["misses"],
}))
b.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_SERVING", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["held"] == ["frame"]
    assert out["after"] == [[False, "other"]]
    assert out["misses"] == 2


def test_sql_view_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.relational import _view

    d = _copy_table(tmp_path, "region")
    name1 = _view(spark, d, "region")
    assert spark.catalog.tableExists(name1)
    _regenerate(os.path.join(d, "region.parquet"))
    name2 = _view(spark, d, "region")
    assert name2 != name1
    # the displaced view is gone from the catalog AND the store
    assert not spark.catalog.tableExists(name1)
    assert [e.value for e in _entries(d, "view.region")] == [name2]


def test_minhash_sigs_view_unpersisted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.llmdata import _minhash_sigs_view

    d = _copy_table(tmp_path, "documents")
    name1 = _minhash_sigs_view(spark, d)
    ((sigs1, cand1),) = [
        (e.value[0], e.value[4]) for e in _entries(d, "minhash.views")
    ]
    assert sigs1.is_cached and cand1.is_cached
    _regenerate(os.path.join(d, "documents.parquet"))
    name2 = _minhash_sigs_view(spark, d)
    assert name2 != name1
    assert not spark.catalog.tableExists(name1)
    assert not sigs1.is_cached  # displaced signatures were unpersisted
    assert not cand1.is_cached  # displaced LSH index was unpersisted
    assert len(_entries(d, "minhash.views")) == 1


def test_upsert_delta_bands_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.extended2 import (
        pair_index_upsert_pairs,
    )

    d = _copy_table(tmp_path, "documents")
    since = spark.sparkContext.parallelize([0]).id()
    pair_index_upsert_pairs(spark, d).count()
    (e1,) = _entries(d, "upsert.delta_bands")
    held1 = set(_cached_rdds(spark, since))
    assert held1  # the entry's bands hold blocks
    pair_index_upsert_pairs(spark, d).count()
    (again,) = _entries(d, "upsert.delta_bands")
    assert again is e1  # same fingerprint: a hit, nothing rebuilt
    _regenerate(os.path.join(d, "documents.parquet"))
    pair_index_upsert_pairs(spark, d).count()
    (e2,) = _entries(d, "upsert.delta_bands")  # replaced, not accumulated
    assert e2.fingerprints != e1.fingerprints
    assert e2.value is not e1.value
    # the displaced bands' blocks are gone from the block manager
    assert not held1 & set(_cached_rdds(spark, since))


def test_source_overlap_gsig_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.selection import q_source_overlap

    d = _copy_table(tmp_path, "documents")
    since = spark.sparkContext.parallelize([0]).id()
    rows = sorted(map(tuple, q_source_overlap(spark, d).collect()))
    (e1,) = _entries(d, "source_overlap.gsig")
    held1 = set(_cached_rdds(spark, since))
    assert rows and held1  # the entry's signatures hold blocks
    _regenerate(os.path.join(d, "documents.parquet"))
    assert sorted(map(tuple, q_source_overlap(spark, d).collect())) == rows
    (e2,) = _entries(d, "source_overlap.gsig")  # replaced, not accumulated
    assert e2.fingerprints != e1.fingerprints
    # the displaced signatures' blocks are gone from the block manager
    assert not held1 & set(_cached_rdds(spark, since))


def _khop_lake(tmp_path) -> str:
    for t in ("customer", "orders", "lineitem", "supplier", "nation"):
        _copy_table(tmp_path, t)
    return str(tmp_path)


def _khop_frames(entry) -> list:
    return [*entry.value["hops"].values(), entry.value["term"]]


def test_khop_hop_frames_evicted_on_regeneration(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans.graph_queries import q_khop_paths

    d = _khop_lake(tmp_path)
    since = spark.sparkContext.parallelize([0]).id()
    q_khop_paths(spark, d).count()
    (e1,) = _entries(d, "khop.hops")
    ids1 = [_cache_rdd_id(spark, f) for f in _khop_frames(e1)]
    assert set(ids1) <= set(_cached_rdds(spark, since))
    views1 = e1.value["views"]
    _regenerate(os.path.join(d, "lineitem.parquet"))
    q_khop_paths(spark, d).count()
    (e2,) = _entries(d, "khop.hops")  # replaced, not accumulated
    assert e2.fingerprints != e1.fingerprints
    # the displaced frames' blocks are gone from the block manager
    assert not set(ids1) & set(_cached_rdds(spark, since))
    for vn in views1.values():
        assert not spark.catalog.tableExists(vn)


def test_khop_cache_fills_on_first_use(spark, tmp_path):
    """q_khop_paths' builder only declares its hop and terminal caches:
    the first query fills them inside its own execution, and a second
    call reuses them, submitting no Spark job before its collect."""
    from cell_kn_mvp_etl_results_spark.plans.graph_queries import q_khop_paths

    d = _khop_lake(tmp_path)
    since = spark.sparkContext.parallelize([0]).id()
    df = q_khop_paths(spark, d)
    assert _cached_rdds(spark, since) == {}  # nothing filled yet
    rows, jobs = _jobs_in(spark, lambda: sorted(map(tuple, df.collect())))
    assert rows and jobs
    (entry,) = _entries(d, "khop.hops")
    filled = _cached_rdds(spark, since)
    for frame in _khop_frames(entry):
        assert filled.get(_cache_rdd_id(spark, frame), 0) > 0
    state = _spark_state(spark, since)
    df2, builder_jobs = _jobs_in(spark, lambda: q_khop_paths(spark, d))
    assert builder_jobs == []
    assert sorted(map(tuple, df2.collect())) == rows
    assert _spark_state(spark, since) == state  # no cached RDD added
    assert _entries(d, "khop.hops") == [entry]


def test_incr_cycle_index_unpersisted_on_regeneration(spark, tmp_path):
    # ADVICE r10: q_incremental_cycle's base LSH index was persisted in
    # the plan closure with no eviction path -- it now lives in the
    # serving store like every other serving memo.
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.plans.llmdata import _incr_cycle_base_index
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = _copy_table(tmp_path, "documents")

    def base():
        doc = read_table(spark, d, "documents")
        m = F.col("doc_id") % 10
        return doc.filter((m != 0) & (m != 5))

    idx1 = _incr_cycle_base_index(spark, d, base())
    idx1.count()
    assert idx1.is_cached
    (e1,) = _entries(d, "incr_cycle.index")
    assert e1.value is idx1
    _regenerate(os.path.join(d, "documents.parquet"))
    idx2 = _incr_cycle_base_index(spark, d, base())
    assert idx2 is not idx1
    assert not idx1.is_cached  # displaced index was unpersisted
    (e2,) = _entries(d, "incr_cycle.index")  # replaced, not accumulated
    assert e2.value is idx2


def _spark_state(spark, since: int) -> tuple[int, int]:
    """(cached RDDs newer than RDD id ``since`` per the block manager,
    temp views in the catalog)."""
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    return len(_cached_rdds(spark, since)), views


def test_off_level_holds_constant_state_across_calls(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_SERVING=off rebuilds serving state on every call but
    must not accumulate it: the store releases call N's frames and
    views before call N+1 builds, and clear() returns the session to
    where it started."""
    from cell_kn_mvp_etl_results_spark.plans import REGISTRY

    d = str(tmp_path)
    for t in (
        "customer", "orders", "lineitem", "supplier", "nation", "documents",
        "embeddings",
    ):
        _copy_table(tmp_path, t)
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "off")
    serving.clear(spark)
    since = spark.sparkContext.parallelize([0]).id()
    before = _spark_state(spark, since)
    for name in ("q_dedup_minhash_lsh", "q_khop_paths", "q_cosine_topk"):
        build = REGISTRY[name].builder
        rows = [sorted(map(tuple, build(spark, d).collect()))]
        after_first = _spark_state(spark, since)
        for _ in range(2):
            rows.append(sorted(map(tuple, build(spark, d).collect())))
            assert _spark_state(spark, since) == after_first, name
        assert rows[0] and rows[1] == rows[0] and rows[2] == rows[0], name
    assert any(e.sf_dir == d for e in serving.entries())
    serving.clear(spark)
    assert not any(e.sf_dir == d for e in serving.entries())
    assert _spark_state(spark, since) == before
