"""Tests for the scale operators: bucketed joins must be exchange-free,
salted joins must equal plain joins."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from cell_kn_mvp_etl_results_spark.operators.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from cell_kn_mvp_etl_results_spark.sources.readers import read_table


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8
    )
    write_bucketed(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _explain(joined)
        # co-located: neither side is re-shuffled for the join
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        # sanity: result matches the plain join
        plain = o.select("o_orderkey", "o_totalprice").join(
            li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
            "o_orderkey",
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_graph_partition_pruning(spark, sf_dir, tmp_path):
    """The collection-pair partitioned edges layout turns typed-path
    collection filters into partition pruning: a dst_coll filter must
    appear as a PartitionFilter on the scan, not a post-scan filter."""
    from cell_kn_mvp_etl_results_spark.operators.graph import graph_from_tuples
    from cell_kn_mvp_etl_results_spark.plans.graph_queries import order_tuples
    from cell_kn_mvp_etl_results_spark.sources.sinks import read_graph, write_graph

    g = graph_from_tuples(order_tuples(spark, sf_dir))
    base = str(tmp_path / "graph")
    write_graph(g, base)
    edges = read_graph(spark, base)["edges"]
    plan = _explain(edges.filter(F.col("dst_coll") == "O"))
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "dst_coll" in part_lines[0]


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plain = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
    salted = salted_join(
        o.withColumnRenamed("o_custkey", "k"),
        c.withColumnRenamed("c_custkey", "k"),
        "k",
        salt=4,
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    # one hot key with 1000 fact rows; salt must split it across subkeys
    facts = spark.range(1000).select(F.lit(7).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(7, "hot")], "k long, v string")
    out = salted_join(facts, dim, "k", salt=4)
    assert out.count() == 1000
    # distribution check: every salt bucket used (probabilistically safe
    # with 1000 rows over 4 buckets)
    salted_f = facts.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), 4)
    )
    assert salted_f.select("_salt").distinct().count() == 4


def test_salted_join_salt_is_retry_stable_and_spread(spark, sf_dir):
    """The salt must be a pure function of row content: the same rows
    under different partition layouts get identical salts (a retried
    shuffle-map task recomputes rows -- positional salts duplicate or
    drop them). And a hot key's rows must actually spread over salts."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    salt_expr = F.pmod(F.hash(*[F.col(c) for c in o.columns]), F.lit(8))
    a = o.repartition(3).withColumn("_salt", salt_expr).collect()
    b = o.repartition(17, "o_custkey").withColumn("_salt", salt_expr).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    # every order row shares o_custkey-skew potential; check spread
    n_salts = len({r._salt for r in a})
    assert n_salts == 8


def test_connected_components_string_ids_deep_chain(spark):
    """String node ids on a diameter-5 chain: a label-sum fixpoint test
    would be NULL==None after round one and silently return a
    half-propagated labeling; the changed-count detector must converge
    to a single component labeled by the lexicographic minimum."""
    import cell_kn_mvp_etl_results_spark.operators.dedup as dd

    ids = [f"doc{i:02d}" for i in range(6)]
    nodes = spark.createDataFrame([(i,) for i in ids], "id string")
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(5)], "id_a string, id_b string"
    )
    out = dd.connected_components(nodes, edges).collect()
    assert {r.component for r in out} == {"doc00"}
    assert len(out) == 6


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    """write_zordered: every output file covers a compact z-range, so a
    point predicate on EITHER column touches a strict subset of files
    (the data-skipping property a single-column sort cannot give)."""
    from pyspark.sql import functions as F

    from cell_kn_mvp_etl_results_spark.operators.zorder import (
        write_zordered,
        z_value,
    )

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, "a", "b", n_files=8, bits=8)

    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    stats = (
        back.groupBy("f")
        .agg(
            F.min("a").alias("a_lo"), F.max("a").alias("a_hi"),
            F.min("b").alias("b_lo"), F.max("b").alias("b_hi"),
        )
        .collect()
    )
    n_files = len(stats)
    assert n_files >= 4
    # files whose [min,max] interval could contain the probe value:
    for col_lo, col_hi, probe in [("a_lo", "a_hi", 3), ("b_lo", "b_hi", 3)]:
        touched = [s for s in stats if s[col_lo] <= probe <= s[col_hi]]
        assert len(touched) < n_files, f"no pruning on {col_lo[:-3]}"
    # round-trip: layout only, content untouched
    assert back.count() == n
    assert sorted(map(tuple, back.select("a", "b").collect())) == sorted(
        map(tuple, df.collect())
    )
    # z-ranges of distinct files are non-overlapping (range partitioned)
    zs = (
        back.withColumn("z", z_value(F.col("a"), F.col("b"), 8))
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in zs)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2


def test_khop_bucketed_matches_and_is_exchange_free_on_edges(spark, sf_dir):
    """The steady-state khop posture: hop relations pre-materialized as
    bucketed+sorted tables on the traversal join key. Output must equal
    q_khop_paths row-for-row, every edge/terminal scan must be bucketed,
    and -- with broadcast disabled to force the at-scale SMJ shape -- no
    shuffle Exchange may sit on a bucketed scan's branch: only the
    frontier exchanges per hop."""
    from cell_kn_mvp_etl_results_spark.plans import graph_queries as gq

    tables = gq.khop_bucketed_tables(spark, sf_dir, num_buckets=4)
    want = sorted(map(tuple, gq.q_khop_paths(spark, sf_dir).collect()))
    got_df = gq.khop_paths_bucketed(spark, sf_dir, tables)
    assert sorted(map(tuple, got_df.collect())) == want
    assert len(want) > 0

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            gq.khop_paths_bucketed(spark, sf_dir, tables)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    scans = [
        i for i, ln in enumerate(lines)
        if "FileScan parquet" in ln and "khop_" in ln and "_key4" in ln
    ]
    assert len(scans) == 3
    assert plan.count("Bucketed: true") == 3
    for i in scans:
        # walk up the tree: the nearest ancestor lines (smaller indent)
        # up to the enclosing join must not shuffle this branch
        indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        j = i - 1
        while j >= 0:
            pind = len(lines[j]) - len(lines[j].lstrip(" :+-"))
            if pind < indent:
                if "Join" in lines[j]:
                    break
                assert "Exchange hashpartitioning" not in lines[j], lines[j]
                indent = pind
            j -= 1


def test_khop_bucketed_rebuilds_only_a_dropped_table(spark, tmp_path):
    """The khop tables share one build/reuse/recover path: a second
    call rewrites none of them, and after one table is dropped the next
    call rebuilds that table alone (the other two keep their files) and
    still returns q_khop_paths' rows."""
    import os
    import shutil

    from conftest import SF_DIR

    from cell_kn_mvp_etl_results_spark.plans import graph_queries as gq

    d = str(tmp_path)
    for t in ("customer", "orders", "lineitem"):
        src = os.path.join(SF_DIR, f"{t}.parquet")
        copy = shutil.copytree if os.path.isdir(src) else shutil.copy2
        copy(src, os.path.join(d, f"{t}.parquet"))

    def tables() -> set:
        return {t.name for t in spark.catalog.listTables() if not t.isTemporary}

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def files(table: str) -> list:
        return sorted(os.listdir(os.path.join(wh, table)))

    before = tables()
    rows = [sorted(map(tuple, gq.q_khop_paths_bucketed(spark, d).collect()))]
    created = sorted(tables() - before)
    assert len(created) == 3
    written = {t: files(t) for t in created}
    rows.append(sorted(map(tuple, gq.q_khop_paths_bucketed(spark, d).collect())))
    assert {t: files(t) for t in created} == written

    (hop_o,) = [t for t in created if "hop_o" in t]
    spark.sql(f"DROP TABLE {hop_o}")
    rows.append(sorted(map(tuple, gq.q_khop_paths_bucketed(spark, d).collect())))
    assert spark.catalog.tableExists(hop_o)
    kept = {t: v for t, v in written.items() if t != hop_o}
    assert {t: files(t) for t in kept} == kept
    want = sorted(map(tuple, gq.q_khop_paths(spark, d).collect()))
    assert len(want) > 0
    assert rows == [want] * 3


def test_column_stats_exact(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import column_stats

    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, None), (3, 20)], "a long, b long"
    )
    got = {r.col_name: tuple(r)[1:] for r in column_stats(df, ("a", "b")).collect()}
    # (n_rows, n_nulls, n_distinct, min, max)
    assert got["a"] == (4, 0, 3, 1, 3)
    assert got["b"] == (4, 1, 2, 10, 20)


def test_column_stats_single_pass_plan(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import column_stats

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = (
        column_stats(df, ("a", "b"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Multi-distinct compiles to ONE Expand pass over the input, not
    # one scan per column.
    assert plan.count("Expand") >= 1
    assert plan.count("Scan ExistingRDD") <= 1


def test_entity_resolution_merges_via_blocking_chain(spark):
    # Three spellings within edit distance 1 of each other pairwise-
    # chained (acme ~ acm ~ acme co? no -- keep a simple chain) plus an
    # unrelated singleton: the composed pipeline must produce one
    # 3-member entity canonicalized to the lowest id and one singleton.
    from cell_kn_mvp_etl_results_spark.operators.dedup import (
        connected_components,
    )
    from cell_kn_mvp_etl_results_spark.operators.lookup import fuzzy_key_pairs

    from pyspark.sql import functions as F

    s = spark.createDataFrame(
        [(1, "acme"), (2, "acmee"), (3, "acmeee"), (9, "zzz")],
        "id long, name string",
    )
    pairs = fuzzy_key_pairs(s, "id", "name")
    comp = connected_components(
        s.select("id"), pairs.select("id_a", "id_b")
    )
    got = {
        r.component: r.n
        for r in comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # 1~2 (insert), 2~3 (insert) chain; 1~3 is distance 2 -- entity
    # closure must still merge all three.
    assert got == {1: 3, 9: 1}


def test_key_skew_profile_exact(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import key_skew_profile

    df = spark.createDataFrame(
        [(1, 7), (1, 7), (1, 8), (2, 7), (3, 9)], "a long, b long"
    )
    got = {r.col_name: tuple(r)[1:] for r in key_skew_profile(df, ("a", "b")).collect()}
    # (n_rows, n_groups, max_group, heaviest_key, skew_x1000)
    assert got["a"] == (5, 3, 3, 1, 3 * 1000 * 3 // 5)
    assert got["b"] == (5, 3, 3, 7, 1800)


def test_key_skew_heaviest_tie_breaks_low(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import key_skew_profile

    df = spark.createDataFrame([(5,), (5,), (2,), (2,)], "a long")
    row = key_skew_profile(df, ("a",)).collect()[0]
    assert row.heaviest_key == 2 and row.max_group == 2


def test_fk_integrity_counts_orphans_and_nulls(spark):
    from cell_kn_mvp_etl_results_spark.operators.scale import fk_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    got = fk_integrity([("child.fk->parent", child, "fk", parent, "pk")]).collect()
    assert [tuple(r) for r in got] == [("child.fk->parent", 4, 2)]


def test_supplier_bucketed_matches_and_fact_join_is_exchange_free(
    spark, sf_dir
):
    """The r10 supplier deployment twin: fact + order map co-bucketed on
    the orderkey. Output must equal q_local_supplier_volume row-for-row,
    and -- broadcast disabled to force the at-scale SMJ shape -- the
    fact-fact join must read BOTH sides from bucketed scans with no
    shuffle Exchange between scan and join. Ordering is NOT asserted
    (Spark 4 drops disk sortBy propagation; the cheap per-bucket Sorts
    remain -- see q_supplier_volume_bucketed's docstring)."""
    from cell_kn_mvp_etl_results_spark.plans import relational as rel

    want = sorted(
        map(tuple, rel.q_local_supplier_volume(spark, sf_dir).collect())
    )
    got = sorted(
        map(tuple, rel.q_supplier_volume_bucketed(spark, sf_dir).collect())
    )
    assert got == want
    assert len(want) > 0

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            rel.q_supplier_volume_bucketed(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    scans = [
        i
        for i, ln in enumerate(lines)
        if "FileScan parquet" in ln and "supb_" in ln
    ]
    assert len(scans) == 2, plan
    for i in scans:
        assert "Bucketed: true" in lines[i], lines[i]
        indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
        j = i - 1
        while j >= 0:
            pind = len(lines[j]) - len(lines[j].lstrip(" :+-"))
            if pind < indent:
                if "SortMergeJoin" in lines[j]:
                    break
                assert "Exchange hashpartitioning" not in lines[j], lines[j]
                indent = pind
            j -= 1


def test_choose_skew_remedy_thresholds():
    from cell_kn_mvp_etl_results_spark.operators.scale import (
        choose_skew_remedy,
    )

    # flat / mild: neither remedy pays, with or without AQE
    assert choose_skew_remedy(1000, aqe_splitting=True) == "plain"
    assert choose_skew_remedy(3999, aqe_splitting=False) == "plain"
    # skewed + runtime re-plan available: AQE splitting is the doctrine
    assert choose_skew_remedy(4000, aqe_splitting=True) == "aqe"
    assert choose_skew_remedy(10**9, aqe_splitting=True) == "aqe"
    # moderate without AQE: salting's unconditional explode not priced in
    assert choose_skew_remedy(50_000, aqe_splitting=False) == "plain"
    # pathological without AQE: content-derived salt
    assert choose_skew_remedy(100_000, aqe_splitting=False) == "salt"


def test_skew_aware_join_routes_and_is_row_identical(spark):
    """The chooser on SCALE.md's skew-remedy synthetic (scaled down):
    one hot key owns half the fact. Every route returns the plain
    join's rows; the route itself follows the measured doctrine."""
    from cell_kn_mvp_etl_results_spark.operators.scale import (
        skew_aware_join,
    )

    n_keys = 500
    facts = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.hash(F.col("id")), F.lit(n_keys)))
        .cast("long")
        .alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("w")
    )
    plain = sorted(map(tuple, facts.join(dim, "k").collect()))

    # hot key ~10k rows over ~500 groups of 20k rows: skew_x1000 ~ 250k
    j_aqe, r_aqe = skew_aware_join(facts, dim, "k", aqe_splitting=True)
    assert r_aqe == "aqe"
    assert sorted(map(tuple, j_aqe.collect())) == plain

    j_salt, r_salt = skew_aware_join(facts, dim, "k", aqe_splitting=False)
    assert r_salt == "salt"
    assert sorted(map(tuple, j_salt.collect())) == plain

    # a flat fact routes plain regardless of AQE
    flat = spark.range(20_000).select(
        F.pmod(F.hash(F.col("id")), F.lit(n_keys)).cast("long").alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    _, r_flat = skew_aware_join(flat, dim, "k", aqe_splitting=False)
    assert r_flat == "plain"

    # precomputed profile value skips the measuring pass and is honored
    _, r_pre = skew_aware_join(
        facts, dim, "k", skew_x1000=1000, aqe_splitting=False
    )
    assert r_pre == "plain"
