"""The r12 trained-model registry (plans/models.py): the serving path
(per-corpus-fingerprint centroids / codebooks / query rows) must be
row-identical to in-query training, must RETRAIN when the corpus
regenerates, and the model-accepting operator entry points
(kmeans_assign / pq_encode) must reproduce the fit's frames exactly.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark import serving

from conftest import SF_DIR


def _copy_embeddings(tmp_path) -> str:
    d = str(tmp_path)
    src = os.path.join(SF_DIR, "embeddings.parquet")
    dst = os.path.join(d, "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return d


def _regenerate(path: str) -> None:
    target = path
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if not p.startswith("_")]
        target = os.path.join(path, sorted(parts)[0])
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_kmeans_assign_matches_fit_assignment(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1)
    got = sorted(
        map(tuple, kmeans_assign(emb, cents, "vec_id", "embedding").collect())
    )
    want = sorted(map(tuple, assigned.collect()))
    assert got == want


def test_pq_encode_matches_fit_codes(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.operators.pq import pq_encode, pq_fit
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    codes, books = pq_fit(emb, "vec_id", "embedding", dim=64, m=4, k=4, iters=1)
    got = sorted(
        map(
            tuple,
            pq_encode(emb, books, "vec_id", "embedding", dim=64, m=4).collect(),
        )
    )
    assert got == sorted(map(tuple, codes.collect()))


def test_registry_path_row_identical_to_inline(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_SERVING=off (inline training) and =derived (registry)
    must produce identical rows for every model-registry consumer."""
    from cell_kn_mvp_etl_results_spark.plans import REGISTRY

    names = ("q_semantic_clusters", "q_pq_topk", "q_ivfpq_topk", "q_ann_recall")
    rows = {}
    for level in ("off", "derived"):
        monkeypatch.setenv("SPARK_GRAFT_SERVING", level)
        rows[level] = {
            n: sorted(map(tuple, REGISTRY[n].builder(spark, sf_dir).collect()))
            for n in names
        }
    for n in names:
        assert rows["off"][n] == rows["derived"][n], n


def test_model_registry_memoizes_and_invalidates(spark, tmp_path):
    """Same fingerprint -> same object (no retrain); regenerated
    corpus -> retrained model (the read_table invalidation contract)."""
    from cell_kn_mvp_etl_results_spark.plans import models

    d = _copy_embeddings(tmp_path)
    c1 = models.kmeans_centroids(spark, d, k=4, iters=1)
    c2 = models.kmeans_centroids(spark, d, k=4, iters=1)
    assert c1 is c2  # served from the registry, not retrained
    _regenerate(os.path.join(d, "embeddings.parquet"))
    c3 = models.kmeans_centroids(spark, d, k=4, iters=1)
    assert c3 is not c1  # fingerprint moved -> retrained
    assert c3 == c1  # same bytes -> same deterministic model
    held = [e.value for e in serving.entries() if e.sf_dir == d]
    assert len(held) == 1 and held[0] is c3  # replaced, not accumulated


def test_model_registry_disabled_trains_inline(spark, tmp_path, monkeypatch):
    from cell_kn_mvp_etl_results_spark.plans import models

    d = _copy_embeddings(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "off")
    c1 = models.kmeans_centroids(spark, d, k=4, iters=1)
    c2 = models.kmeans_centroids(spark, d, k=4, iters=1)
    assert c1 is not c2  # no reuse when off
    assert c1 == c2


def test_quantized_query_rows_match_corpus(spark, tmp_path):
    from cell_kn_mvp_etl_results_spark.plans import models
    from cell_kn_mvp_etl_results_spark.sources.readers import read_table

    d = _copy_embeddings(tmp_path)
    rows = models.quantized_query_rows(spark, d, n_queries=3, quantize=4)
    emb = read_table(spark, d, "embeddings")
    want = (
        emb.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("id"),
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 10000).cast("long"),
            ).alias("q"),
        )
        .collect()
    )
    assert sorted((r.id, tuple(r.q)) for r in rows) == sorted(
        (r.id, tuple(r.q)) for r in want
    )
