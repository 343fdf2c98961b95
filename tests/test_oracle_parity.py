"""Self-check replicating the driver's correctness gate: run every
registered query on Spark AND its DuckDB oracle, compare row count,
sorted-column schema, and cell values exactly.

This is intentionally stricter than 'close enough': the engine's
determinism contract (plans/registry.py) promises bit-identical values,
so any drift is a bug in a plan, not tolerance noise.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from cell_kn_mvp_etl_results_spark.plans import REGISTRY

from conftest import SF_DIR  # noqa: F401  (exercised via fixtures)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    """Sort columns by name, rows by full tuple; make values hashable."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def fix(v):
        if isinstance(v, (list, tuple)):
            return tuple(fix(x) for x in v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, __import__("decimal").Decimal):
            return int(v) if v == int(v) else float(v)
        return v

    out = [tuple(fix(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = REGISTRY[name]
    # Size guards (r6 verdict #6): some queries/oracles are quadratic
    # past the gate scale -- transitive-closure oracles in near-dup
    # family size (>900 s on the 30x corpus), fixed-k semdedup in
    # corpus size (both engines). Bound the suite to corpora around the
    # driver's correctness scale so a pointed SPARK_GRAFT_TEST_SF_DIR
    # can never silently make this test a quarter-hour run.
    _GUARDS = {
        "closure_oracle": ("documents.parquet", 1_000_000),
        "smallscale_quadratic": ("embeddings.parquet", 2_000_000),
    }
    for tag, (fname, cap) in _GUARDS.items():
        if tag in spec.tags:
            import os

            sz = os.path.getsize(os.path.join(sf_dir, fname))
            if sz > cap:
                pytest.skip(
                    f"{tag} query is gated to small corpora "
                    f"({fname} {sz}B > {cap}B)"
                )
    sdf = spec.builder(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return

    con = _duck(sf_dir)
    try:
        res = con.execute(spec.oracle)
        duck_cols = [d[0] for d in res.description]
        duck_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()

    s_cols, s_rows = _normalize(spark_rows, spark_cols)
    d_cols, d_rows = _normalize(duck_rows, duck_cols)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


# ---------------------------------------------------------------------------
# Driver gate-surface contract: the driver's hasher pandas-sorts every
# column, which raises TypeError on list/dict cells (round-1: q_attr_pivot
# and q_collect_sorted_set both ERR'd on array<string> columns) and its
# DuckDB results arrive via pandas where HUGEINT (any uncast sum(BIGINT))
# silently becomes float64 (round-1: q_pricing_summary hash mismatch).
# Gate queries must therefore emit only flat, hash-stable column types;
# array-valued operator APIs serialize (array_join) at the gate surface.
# ---------------------------------------------------------------------------

_FLAT_SPARK_TYPES = {
    "string", "boolean", "date",
    "byte", "short", "integer", "long",
    "float", "double", "timestamp", "timestamp_ntz", "decimal",
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_gate_surface_is_flat(spark, sf_dir, name):
    sdf = REGISTRY[name].builder(spark, sf_dir)
    for f in sdf.schema.fields:
        tn = f.dataType.typeName()
        assert tn in _FLAT_SPARK_TYPES, (
            f"{name}.{f.name} is {tn}: the driver's row hasher cannot "
            f"hash nested values -- serialize (e.g. F.array_join) at the "
            f"gate surface"
        )


def test_gate_budget_ordering():
    """The correctness gate checks the first GATE_BUDGET entries of
    queries() in dict order: those must be exactly GATED (every
    headliner among them) in registration order, with the rest
    following in registration order."""
    from cell_kn_mvp_etl_results_spark.plans import all_queries
    from cell_kn_mvp_etl_results_spark.plans.registry import (
        GATE_BUDGET, GATED,
    )

    assert len(GATED) == GATE_BUDGET
    assert len(set(GATED)) == GATE_BUDGET
    assert set(GATED) <= set(REGISTRY)
    headliners = {n for n, s in REGISTRY.items() if s.headline}
    assert headliners <= set(GATED), sorted(headliners - set(GATED))

    registered = list(REGISTRY)
    ordered = list(all_queries())
    assert ordered[:GATE_BUDGET] == [n for n in registered if n in GATED]
    assert ordered[GATE_BUDGET:] == [n for n in registered if n not in GATED]


def test_rotation_guard_checks_live_tuple(monkeypatch):
    """The _ordered() typo guard reads the live GATED tuple: an
    unregistered name there raises."""
    from cell_kn_mvp_etl_results_spark.plans import registry

    monkeypatch.setattr(registry, "GATED", registry.GATED + ("q_no_such",))
    with pytest.raises(ValueError, match="q_no_such"):
        registry._ordered()
