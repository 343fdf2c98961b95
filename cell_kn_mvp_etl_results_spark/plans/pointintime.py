"""Point-in-time join + deterministic sampling -- training-data-pipeline
operators beyond the reference's surface (SURVEY.md notes it has no
theta/range/as-of joins at all; a feature pipeline needs them for
leakage-free joins, and needs reproducible sampling for dataset splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.intervals import interval_join
from ..sources.readers import read_table
from .registry import query


@query(
    "q_asof_join",
    tags=("join", "asof"),
    oracle="""
WITH ranked AS (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
         ) AS rn
  FROM events e
  JOIN orders o
    ON o.o_custkey = e.user_id
   AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, o_orderkey AS last_orderkey,
       o_totalprice AS last_totalprice
FROM ranked WHERE rn = 1
ORDER BY event_id
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF (point-in-time) join: for each event, the most recent order
    of the same key strictly at-or-before the event time -- the
    leakage-free feature join every training pipeline needs. Spark
    shape: range-predicated equi-join + top-1 window (deterministic
    tie-break on orderkey). At scale, bound the range predicate with a
    time-bucket equi-key so the join does not degenerate into
    key-wise cross products across all history.
    """
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")
    # read_table canonicalizes every stored timestamp to LTZ epoch
    # instants (sources/readers._ltz_schema), so ts and o_orderdate
    # compare directly -- no per-plan encoding juggling.
    joined = e.join(
        o,
        (o.o_custkey == e.user_id) & (F.col("o_orderdate") <= F.col("ts")),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_totalprice").alias("last_totalprice"),
        )
        .orderBy("event_id")
    )


@query(
    "q_interval_join",
    tags=("join", "interval"),
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
)
SELECT p.o_orderkey AS orderkey,
       count(*) AS n_nearby,
       min(abs(p.d - n.d)) AS min_gap_days
FROM o p
JOIN o n
  ON n.o_custkey = p.o_custkey
 AND n.o_orderkey <> p.o_orderkey
 AND p.d BETWEEN n.d - 30 AND n.d + 30
GROUP BY p.o_orderkey
ORDER BY orderkey
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-window self-join via the bucketized interval join: for
    each order, how many OTHER orders the same customer placed within
    +-30 days, and the nearest gap. The shape every co-occurrence /
    burst-detection feature takes; expressed naively it is a key-wise
    cross product over each customer's whole history.

    Day indices are unix_micros div 86400e6 -- pure epoch arithmetic on
    the reader's canonical LTZ instants, identical in any session
    timezone (to_date() would shift with the session zone). Bucket
    width 64 days >= the 61-day window span, so each interval lands in
    at most 2 buckets.
    """
    o = read_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    points = o.select(F.col("o_orderkey").alias("p_key"), "o_custkey", day.alias("d"))
    intervals = o.select(
        F.col("o_orderkey").alias("n_key"),
        "o_custkey",
        day.alias("n_d"),
        (day - 30).alias("lo"),
        (day + 30).alias("hi"),
    )
    joined = interval_join(
        points, intervals, ["o_custkey"], "d", "lo", "hi", bucket_width=64
    ).filter(F.col("p_key") != F.col("n_key"))
    return (
        joined.groupBy("p_key")
        .agg(
            F.count(F.lit(1)).alias("n_nearby"),
            F.min(F.abs(F.col("d") - F.col("n_d"))).alias("min_gap_days"),
        )
        .select(F.col("p_key").alias("orderkey"), "n_nearby", "min_gap_days")
        .orderBy("orderkey")
    )


@query(
    "q_sample_hash",
    tags=("sampling",),
    oracle="""
SELECT lang,
       count(*) AS n_sampled,
       min(doc_id) AS first_doc
FROM documents
WHERE ('0x' || substr(md5('seed42-' || doc_id), 1, 8))::BIGINT % 100 < 20
GROUP BY lang
ORDER BY lang
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% hash sample (content-addressed: the same doc is
    in or out regardless of partitioning, cluster size, or engine --
    unlike rand()-based sampling). The per-language counts audit
    stratification drift. Portable md5-derived bucket, same as the
    dedup hashes."""
    d = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("seed42-"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        d.filter(bucket < 20)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


@query(
    "q_sample_stratified",
    tags=("sampling",),
    oracle="""
SELECT source, doc_id, rnk
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat7-' || doc_id), doc_id
         ) AS rnk
  FROM documents
)
WHERE rnk <= 5
ORDER BY source, rnk
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum quota sample: exactly k docs per
    source, chosen by content-addressed md5 rank -- the balanced-split
    sampler a training pipeline uses so strata with wildly different
    sizes contribute equally, reproducibly across engines and
    partitionings.

    Scale shape: the rank<=k predicate compiles to WindowGroupLimit
    (Spark >= 3.5), which takes a partial per-partition top-k BEFORE
    the shuffle on source -- the reduce side sees at most k rows per
    (map partition, stratum), never the full stratum. Skewed sources
    therefore cannot overload a reducer.
    """
    d = read_table(spark, sf_dir, "documents")
    rank_key = F.md5(F.concat(F.lit("strat7-"), F.col("doc_id")))
    w = Window.partitionBy("source").orderBy(rank_key, "doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .orderBy("source", "rnk")
    )
