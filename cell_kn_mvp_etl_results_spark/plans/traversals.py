"""Additional typed-path traversal queries covering the reference
battery's hop-count range (1..5, ``AqlQuerySetBuilder.java``) and the
ANY-direction + edge-uniqueness semantics, each against a relational
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import k_hop, typed_edges
from ..sources.readers import read_table
from .registry import query


@query(
    "q_khop1",
    tags=("graph", "J10"),
    oracle="""
SELECT 'C_' || o_custkey AS start, count(*) AS n_paths
FROM orders
GROUP BY o_custkey
ORDER BY start
""",
)
def q_khop1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop typed path (the reference's CS--BGS query shape,
    ``PhenotypeGraphBuilder.java:52``): customer -> order, path count
    per start."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    start = c.select(F.lit("C").alias("coll"), F.col("c_custkey").alias("key"))
    edges = typed_edges(o, "C", "o_custkey", "O", "o_orderkey", "PLACED")
    paths = k_hop(edges, start, ["O"], carry_path=False)
    return (
        paths.groupBy("v0_key")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .select(F.concat(F.lit("C_"), F.col("v0_key")).alias("start"), "n_paths")
        .orderBy("start")
    )


@query(
    "q_khop5",
    tags=("graph", "J10"),
    oracle="""
WITH e1 AS (SELECT DISTINCT n_regionkey AS src, n_nationkey AS dst FROM nation),
e2 AS (SELECT DISTINCT c_nationkey AS src, c_custkey AS dst FROM customer),
e3 AS (SELECT DISTINCT o_custkey AS src, o_orderkey AS dst FROM orders),
e4 AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
e5 AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem)
SELECT 'R_' || e1.src AS start, count(*) AS n_paths,
       count(DISTINCT e5.dst) AS n_terminals
FROM e1
JOIN e2 ON e2.src = e1.dst
JOIN e3 ON e3.src = e2.dst
JOIN e4 ON e4.src = e3.dst
JOIN e5 ON e5.src = e4.dst
GROUP BY e1.src
ORDER BY start
""",
)
def q_khop5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-hop typed path R -> N -> C -> O -> P -> S (the reference's
    maximum hop count, ``AqlQuerySetBuilder.java:335-350``). Re-
    aggregated (start, terminal) before the distinct count, same as
    q_khop_paths."""
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    r = read_table(spark, sf_dir, "region")

    edges = (
        typed_edges(n, "R", "n_regionkey", "N", "n_nationkey", "x")
        .union(typed_edges(c, "N", "c_nationkey", "C", "c_custkey", "x"))
        .union(typed_edges(o, "C", "o_custkey", "O", "o_orderkey", "x"))
        .union(typed_edges(li, "O", "l_orderkey", "P", "l_partkey", "x"))
        .union(typed_edges(li, "P", "l_partkey", "S", "l_suppkey", "x"))
    )
    start = r.select(F.lit("R").alias("coll"), F.col("r_regionkey").alias("key"))
    paths = k_hop(edges, start, ["N", "C", "O", "P", "S"], carry_path=False)
    per_terminal = paths.groupBy("v0_key", "node_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_terminal.groupBy("v0_key")
        .agg(F.sum("n").alias("n_paths"), F.count(F.lit(1)).alias("n_terminals"))
        .select(
            F.concat(F.lit("R_"), F.col("v0_key")).alias("start"),
            "n_paths",
            "n_terminals",
        )
        .orderBy("start")
    )


@query(
    "q_khop_any_unique",
    tags=("graph", "J10"),
    oracle="""
WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
anchors AS (SELECT DISTINCT p_partkey FROM part WHERE p_size >= 48)
SELECT 'P_' || a.p AS start, count(*) AS n_paths
FROM anchors an
JOIN e a ON a.p = an.p_partkey
JOIN e b ON b.o = a.o AND b.p != a.p
GROUP BY a.p
ORDER BY start
""",
)
def q_khop_any_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-direction 2-hop with AQL path uniqueness: part -> order
    (inbound) -> another part (outbound), never re-traversing the
    arriving edge (``uniqueEdges: path``). The oracle encodes the
    exclusion as b.p != a.p -- exactly what the direction-normalized
    edge-id filter enforces."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    edges = typed_edges(li, "O", "l_orderkey", "P", "l_partkey", "CONTAINS")
    start = p.filter(F.col("p_size") >= 48).select(
        F.lit("P").alias("coll"), F.col("p_partkey").alias("key")
    )
    paths = k_hop(
        edges, start, ["O", "P"], any_direction=True, carry_path=False
    )
    return (
        paths.groupBy("v0_key")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .select(F.concat(F.lit("P_"), F.col("v0_key")).alias("start"), "n_paths")
        .orderBy("start")
    )
