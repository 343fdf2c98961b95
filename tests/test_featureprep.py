"""Unit tests for the feature/loader-prep operators (packing.value_rank,
selection.interleave_by_weight, the truncate plan): behavioral
properties the oracle-parity gate cannot see -- rank correctness vs a
single-sort reference, determinism under repartitioning, equal-frequency
bin balance, stride-schedule ratios, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators.packing import value_rank
from cell_kn_mvp_etl_results_spark.operators.selection import (
    interleave_by_weight,
)


def test_value_rank_matches_single_sort_reference(spark):
    # Near-unique values (the balanced_shards degenerate case) plus a
    # run of ties: the two-level rank must equal the one a global
    # ORDER BY (value, md5(id), id) would produce.
    df = spark.range(500).select(
        F.col("id"),
        F.when(F.col("id") < 50, F.lit(7)).otherwise(F.col("id") * 3).alias("v"),
    )
    got = {
        r.id: r.rnk for r in value_rank(df, "id", "v", bucket_width=40).collect()
    }
    ref_rows = (
        df.select("id", "v", F.md5(F.col("id").cast("string")).alias("h"))
        .orderBy("v", "h", "id")
        .collect()
    )
    ref = {r.id: i + 1 for i, r in enumerate(ref_rows)}
    assert got == ref


def test_value_rank_is_partitioning_invariant(spark):
    df = spark.range(300).select(F.col("id"), (F.col("id") % 91).alias("v"))
    a = sorted(value_rank(df, "id", "v", 10).collect())
    b = sorted(value_rank(df.repartition(17), "id", "v", 10).collect())
    assert a == b
    assert sorted(r.rnk for r in a) == list(range(1, 301))


def test_value_rank_rejects_bad_width(spark):
    df = spark.range(3).select(F.col("id"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        value_rank(df, "id", "v", 0)


def test_quantile_bins_are_equal_frequency(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.plans.featureprep import q_quantile_bins

    rows = q_quantile_bins(spark, sf_dir).collect()
    sizes = [r.n_rows for r in rows]
    assert len(rows) == 8
    assert max(sizes) - min(sizes) <= 1  # exact equal-frequency split
    # bins are value-ordered and contiguous: max of bin b < min of b+1
    for a, b in zip(rows, rows[1:]):
        assert a.max_cents <= b.min_cents


def test_interleave_realizes_weight_ratios(spark):
    # 3 sources, weights 4/2/1, plenty of rows each: any aligned
    # key-window of one full cycle (scale ticks per weight-1 source)
    # must contain sources in exactly their weight ratio.
    rows = [(i, f"s{i % 3}") for i in range(2100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = (
        interleave_by_weight(df, "doc_id", "source", {"s0": 4, "s1": 2}, 1)
        .orderBy("interleave_key", "source", "doc_id")
        .collect()
    )
    # first 70 cycles: key <= 4*70 -> 70*4 s0, 70*2 s1, 70 s2 rows
    window = [r for r in out if r.interleave_key <= 280]
    by_src = {}
    for r in window:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert by_src == {"s0": 280, "s1": 140, "s2": 70}


def test_interleave_is_deterministic_and_validates(spark):
    rows = [(i, f"s{i % 2}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(interleave_by_weight(df, "doc_id", "source", {"s0": 3}).collect())
    b = sorted(
        interleave_by_weight(
            df.repartition(7), "doc_id", "source", {"s0": 3}
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        interleave_by_weight(df, "doc_id", "source", {"s0": 0})


def test_truncate_budget_is_shuffle_free(spark, sf_dir):
    from cell_kn_mvp_etl_results_spark.plans.featureprep import (
        _TOKEN_BUDGET,
        q_truncate_budget,
    )

    df = q_truncate_budget(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # scan -> projection -> final presentation sort: the operator
    # itself is map-side (no join, no aggregate); the only exchange
    # allowed is the range partitioning of the output ORDER BY.
    assert "Join" not in plan and "Aggregate" not in plan
    assert plan.count("Exchange") <= 1
    rows = df.collect()
    assert all(r.kept_tokens <= _TOKEN_BUDGET for r in rows)
    assert all(
        (r.truncated == 1) == (r.n_tokens > _TOKEN_BUDGET) for r in rows
    )
    short = [r for r in rows if r.truncated == 0]
    assert short and all(
        len(r.clipped_text.split()) == r.n_tokens for r in short
    )


def test_embedding_drift_zero_for_identical_halves(spark, sf_dir, tmp_path):
    # Build a tiny embeddings table where odd ids duplicate even ids:
    # centroids coincide, so every label's shift must be exactly 0.0.
    import os

    rows = []
    for lab in range(3):
        for i in range(10):
            vec = [float((lab + 1) * (d + 1)) / 100.0 for d in range(64)]
            rows.append((lab * 100 + i * 2, vec, lab))  # even: old
            rows.append((lab * 100 + i * 2 + 1, vec, lab))  # odd twin
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "embeddings.parquet"))
    from cell_kn_mvp_etl_results_spark.plans.featureprep import (
        q_embedding_drift,
    )

    got = q_embedding_drift(spark, d).collect()
    assert len(got) == 3
    assert all(r.l2_shift == 0.0 for r in got)
    assert all(r.n_old == 10 and r.n_new == 10 for r in got)


def test_embedding_drift_detects_known_shift(spark, sf_dir, tmp_path):
    # New snapshot = old + 0.5 in dim 0 only: shift must be ~0.5
    # exactly (quantization is exact for these values).
    import os

    rows = []
    for i in range(8):
        vec = [float(i) / 10.0] + [0.0] * 63
        rows.append((i * 2, vec, 0))
        rows.append((i * 2 + 1, [vec[0] + 0.5] + vec[1:], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "embeddings.parquet"))
    from cell_kn_mvp_etl_results_spark.plans.featureprep import (
        q_embedding_drift,
    )

    (row,) = q_embedding_drift(spark, d).collect()
    assert row.l2_shift == 0.5


def test_zscore_moments_are_exact(spark, sf_dir):
    # Per-source z-scores must have mean ~0 and the exact identity
    # sum(z^2) == n for population moments (up to float rounding).
    from cell_kn_mvp_etl_results_spark.plans.featureprep import (
        q_zscore_by_source,
    )

    rows = q_zscore_by_source(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.z)
    for src, zs in by_src.items():
        assert all(z is not None for z in zs)
        n = len(zs)
        assert abs(sum(zs)) < 1e-9 * n
        assert abs(sum(z * z for z in zs) - n) < 1e-9 * n


def test_leakage_split_bucketed_is_row_identical(spark, sf_dir, monkeypatch):
    # The steady-state (materialized components) posture must return
    # exactly what the in-query build returns.
    from cell_kn_mvp_etl_results_spark.plans.clusters import (
        q_split_leakage_bucketed,
        q_split_leakage_safe,
    )

    # Force the safe form down its ORIGINAL in-query path (since r8 its
    # default also reads the materialized table) so this pin still
    # compares the two distinct computations; monkeypatch restores any
    # value the caller had exported (ADVICE r8).
    monkeypatch.setenv("SPARK_GRAFT_SERVING", "off")
    a = sorted(map(tuple, q_split_leakage_safe(spark, sf_dir).collect()))
    monkeypatch.undo()
    b = sorted(map(tuple, q_split_leakage_bucketed(spark, sf_dir).collect()))
    assert a == b
