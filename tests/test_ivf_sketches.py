"""Tests for IVF ANN (MLlib KMeans cells), approximate-aggregate
sketches, and the A7 last-wins attribute-promotion variant."""

from __future__ import annotations

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators import sketches
from cell_kn_mvp_etl_results_spark.operators.similarity import (
    cosine_topk,
    ivf_index,
    ivf_topk,
)
from cell_kn_mvp_etl_results_spark.sources.readers import read_table


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    model, assigned = ivf_index(emb, n_cells=8)
    assert assigned.select("cell").distinct().count() <= 8

    exact = cosine_topk(emb, queries, k=5, quantize=4).collect()
    approx = ivf_topk(assigned, model, queries, k=5, n_probe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.cand_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.cand_id)
    # recall over the 5 queries with half the cells probed
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.5  # n_probe=4 of 8 cells: decent recall
    # everything IVF returns must be correctly ranked (no score errors)
    for r in approx:
        assert -1.0 <= r.score <= 1.0


def test_approx_distinct_bounds(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    exact = li.select("l_orderkey").distinct().count()
    approx = sketches.approx_distinct(li, "l_orderkey", rsd=0.05)
    assert abs(approx - exact) / exact < 0.15


def test_approx_quantiles_ordered(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer")
    q = sketches.approx_quantiles(c, "c_acctbal", [0.1, 0.5, 0.9])
    assert q == sorted(q)
    lo, hi = c.select(F.min("c_acctbal"), F.max("c_acctbal")).collect()[0]
    assert lo <= q[0] and q[-1] <= hi


def test_frequent_items_finds_heavy_hitter(spark):
    rows = [(7,)] * 500 + [(i,) for i in range(100)]
    df = spark.createDataFrame(rows, "k long")
    freq = sketches.frequent_items(df, "k", support=0.3)
    assert 7 in freq


def test_column_profile(spark, sf_dir):
    prof = sketches.column_profile(
        read_table(spark, sf_dir, "orders"), "o_custkey"
    )
    assert prof["n_rows"] > 0 and prof["null_fraction"] == 0.0
    assert prof["min"] >= 0 and prof["approx_distinct"] > 0


def test_l2_normalize_unit_norm_and_zero_guard(spark):
    """Normalized vectors have unit norm (within fp eps); zero vectors
    stay zero instead of NaN."""
    from pyspark.sql import functions as F

    from cell_kn_mvp_etl_results_spark.operators.similarity import dot, l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.0, 1.0])],
        "id long, v array<double>",
    )
    out = df.select(
        "id", dot(l2_normalize(F.col("v"), 4), l2_normalize(F.col("v"), 4)).alias("n")
    ).collect()
    got = {r.id: r.n for r in out}
    assert abs(got[1] - 1.0) < 1e-12 and abs(got[3] - 1.0) < 1e-12
    assert got[2] == 0.0


def test_countmin_exact_when_no_collisions(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk
    import pyspark.sql.functions as F

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    cells = sk.countmin_cells(df, "k", depth=4, width=4096)
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    est = {r.key: r.est_n for r in
           sk.countmin_estimates(cells, keys, "k", depth=4, width=4096).collect()}
    # 3 keys in 4096 cells: no collisions, estimates are exact
    assert est == {"a": 5, "b": 3, "c": 1}


def test_countmin_only_overestimates_under_collisions(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk
    import pyspark.sql.functions as F

    rows = [(f"k{i}",) for i in range(200) for _ in range(i % 5 + 1)]
    df = spark.createDataFrame(rows, "k string")
    exact = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    cells = sk.countmin_cells(df, "k", depth=4, width=16)  # forced collisions
    keys = df.select("k").distinct()
    est = {r.key: r.est_n for r in
           sk.countmin_estimates(cells, keys, "k", depth=4, width=16).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


def test_countmin_cells_merge_by_sum(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk
    import pyspark.sql.functions as F

    a = spark.createDataFrame([("x",)] * 3 + [("y",)], "k string")
    b = spark.createDataFrame([("x",)] * 2 + [("z",)], "k string")
    merged = (
        sk.countmin_cells(a, "k").unionAll(sk.countmin_cells(b, "k"))
        .groupBy("i", "cell").agg(F.sum("c").alias("c"))
    )
    direct = sk.countmin_cells(a.unionAll(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_bloom_no_false_negatives(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    members = spark.createDataFrame([(f"m{i}",) for i in range(100)], "k string")
    bitmap = sk.bloom_build(members, "k", m_bits=256, k_hashes=3)  # tight: FPs likely
    out = {r.key: r.maybe_member
           for r in sk.bloom_probe(members, "k", bitmap, m_bits=256, k_hashes=3).collect()}
    # the Bloom guarantee: a true member is NEVER reported absent
    assert all(out[f"m{i}"] for i in range(100))


def test_bloom_definitely_absent_with_headroom(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    members = spark.createDataFrame([(f"m{i}",) for i in range(10)], "k string")
    others = spark.createDataFrame([(f"x{i}",) for i in range(50)], "k string")
    bitmap = sk.bloom_build(members, "k", m_bits=65536, k_hashes=3)
    out = sk.bloom_probe(others, "k", bitmap, m_bits=65536, k_hashes=3).collect()
    # 30 of 65536 bits set: probes are overwhelmingly definite-absent
    assert sum(1 for r in out if not r.maybe_member) >= 48


def test_bloom_shards_merge_by_or(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk
    import pyspark.sql.functions as F

    a = spark.createDataFrame([("p",), ("q",)], "k string")
    b = spark.createDataFrame([("r",)], "k string")
    merged = (
        sk.bloom_build(a, "k").unionAll(sk.bloom_build(b, "k"))
        .groupBy("word").agg(F.bit_or("bits").alias("bits"))
    )
    direct = sk.bloom_build(a.unionAll(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_countmin_absent_key_estimates_zero(spark):
    """A key whose addressed cells are absent from the sparse cell
    table must estimate 0 (CMS min over depth cells, empty cell = 0)
    and must appear in the output -- the inner-join shape silently
    overstated or dropped such keys."""
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    # Empty sketch: every probe addresses only absent cells.
    empty = spark.createDataFrame([], "k string")
    cells = sk.countmin_cells(empty, "k", depth=4, width=512)
    keys = spark.createDataFrame([("never-added",), ("also-no",)], "k string")
    est = {r.key: r.est_n for r in
           sk.countmin_estimates(cells, keys, "k", depth=4, width=512).collect()}
    assert est == {"never-added": 0, "also-no": 0}

    # Sparse sketch: one build key, wide table -> an unrelated probe
    # key has at least one empty cell, so its min must be 0.
    one = spark.createDataFrame([("present",)] * 7, "k string")
    cells = sk.countmin_cells(one, "k", depth=4, width=4096)
    keys = spark.createDataFrame([("present",), ("absent-key",)], "k string")
    est = {r.key: r.est_n for r in
           sk.countmin_estimates(cells, keys, "k", depth=4, width=4096).collect()}
    assert est["present"] == 7
    assert est["absent-key"] == 0


def test_hll_registers_merge_by_max(spark):
    # The sketch property that makes HLL the distributed cardinality
    # structure: registers of two shards merged by per-bucket max must
    # equal the whole-set registers.
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    df = spark.range(3000).selectExpr("CAST(id AS STRING) AS k")
    a = df.filter(F.col("k").cast("long") % 2 == 0)
    b = df.filter(F.col("k").cast("long") % 2 == 1)
    whole = {
        (r.bucket, r.r) for r in sk.hll_registers(df, "k").collect()
    }
    merged = {
        (r.bucket, r.r)
        for r in (
            sk.hll_registers(a, "k")
            .unionByName(sk.hll_registers(b, "k"))
            .groupBy("bucket")
            .agg(F.max("r").alias("r"))
            .collect()
        )
    }
    assert merged == whole


def test_hll_estimate_duplicates_do_not_move_it(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    df = spark.range(2000).selectExpr("CAST(id AS STRING) AS k")
    dup = df.unionAll(df).unionAll(df)
    est1 = sk.hll_estimate(sk.hll_registers(df, "k")).collect()[0].est_distinct
    est3 = sk.hll_estimate(sk.hll_registers(dup, "k")).collect()[0].est_distinct
    assert est1 == est3


def test_hll_estimate_accuracy_both_branches(spark):
    # 512 registers -> std err ~4.6%; assert a generous 4-sigma bound on
    # one small-range (linear-counting) and one raw-branch cardinality.
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    for n in (300, 20000):  # 300 < 2.5m = 1280 (linear); 20000 raw
        df = spark.range(n).selectExpr("CAST(id AS STRING) AS k")
        est = sk.hll_estimate(sk.hll_registers(df, "k")).collect()[0]
        assert abs(est.est_distinct - n) < max(0.20 * n, 30), (n, est)


def test_hll_union_inclusion_exclusion_accuracy(spark):
    # |A|=|B|=5000 with a known 2500-element intersection: the
    # inclusion-exclusion overlap estimate from merged registers must
    # land near truth (three ~4.6%-stderr estimators compound; allow a
    # generous bound).
    import pyspark.sql.functions as F

    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    a = spark.range(0, 5000).selectExpr("'A' AS g", "CAST(id AS STRING) AS k")
    b = spark.range(2500, 7500).selectExpr("'B' AS g", "CAST(id AS STRING) AS k")
    regs = sk.hll_registers(a.unionAll(b), "k", "g")
    singles = {
        r.g: r.est_distinct for r in sk.hll_estimate(regs, "g").collect()
    }
    union = (
        regs.groupBy("bucket").agg(F.max("r").alias("r"))
    )
    est_union = sk.hll_estimate(union).collect()[0].est_distinct
    est_overlap = singles["A"] + singles["B"] - est_union
    assert abs(est_union - 7500) < 0.20 * 7500, est_union
    assert abs(est_overlap - 2500) < 0.35 * 2500, est_overlap


def test_kmv_sketch_contents_and_estimate(spark):
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk
    from cell_kn_mvp_etl_results_spark.operators.dedup import portable_hash48
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", f"tok{i % 40}") for i in range(400)]
        + [("b", f"w{i}") for i in range(200)],
        "g string, key string",
    )
    sketch = sk.kmv_sketch(df, "key", "g", k=16).collect()
    by_g = {}
    for r in sketch:
        by_g.setdefault(r.g, []).append(r)
    # group a has 40 distinct keys -> exactly 16 sketch rows, ranked by
    # hash; group b has 200 -> 16
    assert len(by_g["a"]) == 16 and len(by_g["b"]) == 16
    for rows in by_g.values():
        rows.sort(key=lambda r: r.rn)
        hs = [r.h for r in rows]
        assert hs == sorted(hs)
    # the sketch holds exactly the 16 smallest hashes (cross-checked
    # against a pure-Python bottom-k)
    import hashlib

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    want_a = sorted((h48(f"tok{i}"), f"tok{i}") for i in range(40))[:16]
    got_a = [(r.h, r.key) for r in by_g["a"]]
    assert got_a == want_a

    est = {
        r.g: r.est_distinct
        for r in sk.kmv_estimate(
            sk.kmv_sketch(df, "key", "g", k=16), "g", k=16
        ).collect()
    }
    # b: 200 distinct, k=16 -> estimator within ~3 std errs (~80%)
    assert 60 <= est["b"] <= 400
    # a group with fewer than k keys reports exact
    small = spark.createDataFrame(
        [("c", f"x{i}") for i in range(5)], "g string, key string"
    )
    est_small = sk.kmv_estimate(
        sk.kmv_sketch(small, "key", "g", k=16), "g", k=16
    ).collect()
    assert est_small[0].est_distinct == 5


def test_kmv_merge_equals_full_recompute(spark):
    """Exact mergeability: bottom-k of (sketch(A) union sketch(B)) ==
    sketch(A union B), contents included -- the property the IVM gate
    rests on."""
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    rows_a = [("s", f"alpha{i}") for i in range(120)]
    rows_b = [("s", f"beta{i}") for i in range(90)] + rows_a[:30]  # overlap
    A = spark.createDataFrame(rows_a, "g string, key string")
    B = spark.createDataFrame(rows_b, "g string, key string")
    full = spark.createDataFrame(rows_a + rows_b, "g string, key string")

    sa = sk.kmv_sketch(A, "key", "g", k=20).select("g", "key", "h")
    sb = sk.kmv_sketch(B, "key", "g", k=20).select("g", "key", "h")
    merged = sorted(
        map(tuple, sk.kmv_merge(sa.unionByName(sb), "g", k=20).collect())
    )
    direct = sorted(
        map(
            tuple,
            sk.kmv_sketch(full, "key", "g", k=20)
            .select("g", "key", "h", "rn")
            .select("g", "key", "h", "rn")
            .collect(),
        )
    )
    # same (g, key, h, rn) set modulo column order
    merged_set = {(g, k_, h, rn) for (g, k_, h, rn) in merged}
    direct_set = {(g, k_, h, rn) for (g, k_, h, rn) in direct}
    assert merged_set == direct_set


def test_kmv_sketch_window_group_limit_plan(spark):
    """The rank filter must compile to WindowGroupLimit (partial
    top-k before the window exchange) -- the property that bounds the
    shuffle at |groups| x k."""
    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    df = spark.range(10_000).selectExpr(
        "CAST(id % 7 AS STRING) AS g", "CAST(id AS STRING) AS key"
    )
    plan = (
        sk.kmv_sketch(df, "key", "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_kmv_jaccard_estimator_discriminates(spark):
    """The pairwise KMV Jaccard (q_kmv_overlap's estimator) on sets
    with known overlap: disjoint pairs read 0, identical pairs read
    1000, half-overlap reads near 333 permille (J = 1/3)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cell_kn_mvp_etl_results_spark.operators import sketches as sk

    rows = (
        [("A", f"a{i}") for i in range(300)]
        + [("B", f"a{i}") for i in range(300)]  # B == A
        + [("C", f"c{i}") for i in range(300)]  # C disjoint from A
        + [("D", f"a{i}") for i in range(150)]
        + [("D", f"d{i}") for i in range(150)]  # |D^A|=150, |DuA|=450
    )
    df = spark.createDataFrame(rows, "source string, key string")
    sketch = sk.kmv_sketch(df, "key", "source").select("source", "key", "h")

    def jacc(a, b):
        pair = sketch.filter(F.col("source").isin([a, b]))
        pe = pair.groupBy("key", "h").agg(
            F.max(F.when(F.col("source") == a, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("source") == b, 1).otherwise(0)).alias("in_b"),
        )
        w = Window.orderBy("h", "key")
        m = pe.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= sk.KMV_K
        )
        r = m.agg(
            F.expr("1000 * sum(in_a * in_b) div count(*)").alias("j")
        ).collect()[0]
        return r.j

    assert jacc("A", "B") == 1000
    assert jacc("A", "C") == 0
    # true J = 150/450 = 333 permille; k=64 draws -> ~3 sigma ~ 180
    assert 150 <= jacc("A", "D") <= 520
