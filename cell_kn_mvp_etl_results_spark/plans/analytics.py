"""Analytics staples: exact percentiles (deterministic rank selection --
no interpolation-formula drift between engines) and pivot/conditional
aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_table
from .registry import query


@query(
    "q_percentiles",
    tags=("agg", "window"),
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment, c_acctbal, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
         ) AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
)
SELECT c_mktsegment,
       min(CASE WHEN rn = (n - 1) // 2 + 1 THEN c_acctbal END) AS p50,
       min(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN c_acctbal END) AS p90
FROM ranked
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 by deterministic rank selection: the value at row
    floor((n-1)*p)+1 of the (value, key)-ordered group. Avoids
    interpolation entirely, so any engine agrees bit-for-bit; the raw
    parquet double is emitted unchanged. One shuffle (the window), one
    tiny agg.
    """
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    ranked = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda p_num, p_den: F.min(  # noqa: E731
        F.when(
            F.col("rn") == F.floor((F.col("n") - 1) * p_num / p_den) + 1,
            F.col("c_acctbal"),
        )
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(pick(1, 2).alias("p50"), pick(9, 10).alias("p90"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_pivot",
    tags=("agg", "pivot"),
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation): order counts by priority x
    status. The explicit value list keeps the schema static -- the only
    sane pivot at scale (dynamic pivots scan twice to discover columns).
    """
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


@query(
    "q_event_debounce",
    tags=("window", "events", "streaming"),
    oracle="""
WITH g AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS prev_us
  FROM events
)
SELECT event_id, user_id, event_type, CAST(ts_us AS BIGINT) AS ts_us
FROM g
WHERE prev_us IS NULL OR ts_us - prev_us > 3600000000
ORDER BY event_id
""",
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce at ingest: drop every event that follows another event
    of the same (user_id, event_type) key within one hour -- the
    repeat-signal suppressor (sensor chatter, double submissions,
    crawler revisits) that runs ahead of any sessionization or funnel;
    the horizon is a parameter of the underlying operator, sized here
    so suppression is exercised at the gate's event density. Gap is measured to the immediately
    PRECEDING event (kept or dropped), so the predicate is a pure lag
    window -- one shuffle on the key serves it, and the batch result is
    bit-identical to the streaming twin
    (streaming/stateful.debounced_stream), which carries the same
    last-event timestamp as one i64 of state per key. Timestamps
    emitted as epoch micros (timezone-independent value hashing).
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    prev_us = F.lag(micros).over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            micros.alias("ts_us"),
            prev_us.alias("prev_us"),
        )
        .filter(
            F.col("prev_us").isNull()
            | (F.col("ts_us") - F.col("prev_us") > 3_600_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts_us")
        .orderBy("event_id")
    )


@query(
    "q_gap_fill",
    tags=("window", "events", "timeseries"),
    oracle="""
WITH base AS (
  SELECT user_id AS key,
         epoch_us(ts) // 86400000000 AS d,
         ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
daily AS (
  SELECT key, d,
         CAST(count(*) AS BIGINT) AS n_obs,
         min(CASE WHEN rn = 1 THEN cents END) AS cents_eod
  FROM (
    SELECT key, d, cents,
           row_number() OVER (
             PARTITION BY key, d ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM base
  ) t
  GROUP BY key, d
),
bounds AS (SELECT min(d) AS dmin, max(d) AS dmax FROM base),
grid AS (
  SELECT k.key, g.d
  FROM (SELECT DISTINCT key FROM base) k
  CROSS JOIN bounds
  CROSS JOIN LATERAL (SELECT unnest(generate_series(dmin, dmax)) AS d) g
)
SELECT grid.key AS user_id, grid.d AS d,
       COALESCE(daily.n_obs, 0) AS n_obs,
       last_value(daily.cents_eod IGNORE NULLS) OVER (
         PARTITION BY grid.key ORDER BY grid.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS cents_filled
FROM grid LEFT JOIN daily ON daily.key = grid.key AND daily.d = grid.d
ORDER BY user_id, grid.d
""",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap fill (operators/timeseries.gap_fill_daily): one
    row per (user, epoch day) across the corpus's day span, the day's
    closing value (last event by (ts, event_id)) carried forward over
    silent days, NULL before a user's first observation. The batch
    regularization every rolling-feature pipeline wants; timestamps
    stay in integer epoch-day space (timezone-independent, the
    q_hourly_rollup convention) and values in integer cents.
    """
    from ..operators.timeseries import gap_fill_daily

    e = read_table(spark, sf_dir, "events")
    return gap_fill_daily(e, "user_id", "ts", "value")
