"""Relational coverage over the events and TPC-H tables: rollups,
windows, sessions, quantiles, join top-n and an anti-join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-metrics style rollup over the events stream table."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("epoch_hour"),
        "event_type",
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
            "sum_value_micros"
        ),
    )


def sql_events_hourly() -> str:
    return """
SELECT floor(epoch(ts) / 3600)::bigint AS epoch_hour, event_type,
  count(*)::bigint AS n_events,
  sum(round(value * 1000000)::bigint)::bigint AS sum_value_micros
FROM events GROUP BY 1, 2
"""


def q_events_user_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage: per-user event sequence + running count
    (deterministic order: ts, event_id)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.count("*").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ).cast("bigint").alias("running_events"),
        F.coalesce(
            F.lag("event_type").over(w), F.lit("")
        ).alias("prev_type"),
    )


def sql_events_user_window() -> str:
    return """
SELECT event_id::bigint AS event_id, user_id::bigint AS user_id,
  row_number() OVER w ::bigint AS seq,
  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint
    AS running_events,
  coalesce(lag(event_type) OVER w, '') AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_orders_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join+agg coverage (TPC-H Q3 shape): revenue per order for BUILDING
    customers, top 20 (broadcast dim, deterministic tie-break)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("rev_d")
        )
    )
    # TakeOrderedAndProject instead of a global unpartitioned window; the
    # rank window sees only 20 rows (operators/topk.py)
    from ..operators.topk import ranked_topk

    top = ranked_topk(
        j, [F.desc("rev_d"), F.asc("l_orderkey")], 20, key="l_orderkey"
    )
    return top.select(
        F.col("l_orderkey").cast("bigint").alias("orderkey"),
        F.col("rev_d").cast("string").alias("revenue"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def sql_orders_revenue_topn() -> str:
    return """
WITH j AS (
  SELECT l_orderkey,
         sum((l_extendedprice * (1 - l_discount))::decimal(18,4)) AS rev_d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY l_orderkey),
r AS (
  SELECT l_orderkey, rev_d,
         row_number() OVER (ORDER BY rev_d DESC, l_orderkey ASC) AS rank
  FROM j)
SELECT l_orderkey::bigint AS orderkey, rev_d::varchar AS revenue,
       rank::bigint AS rank
FROM r WHERE rank <= 20
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (30-min gap):
    per-(user, session) event count and span — one user-partitioned
    window + one aggregation, oracle-checked."""
    from ..operators.sessions import session_stats

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = session_stats(df, gap_s=1800)
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_index").cast("bigint").alias("session_index"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("start_epoch").cast("bigint").alias("start_epoch"),
        F.col("end_epoch").cast("bigint").alias("end_epoch"),
        F.col("first_event").cast("bigint").alias("first_event"),
    )


def sql_events_sessions() -> str:
    return """
WITH o AS (
  SELECT user_id, event_id, floor(epoch(ts))::bigint AS es,
    CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
              OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, es,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_index
  FROM o)
SELECT user_id::bigint AS user_id, session_index::bigint AS session_index,
  count(*)::bigint AS n_events, min(es)::bigint AS start_epoch,
  max(es)::bigint AS end_epoch, min(event_id)::bigint AS first_event
FROM s GROUP BY user_id, session_index
"""


def q_orders_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile rollup (percentile coverage): median and p90 of
    order totals per priority. Spark's exact `percentile` and DuckDB's
    `quantile_cont` share the linear-interpolation definition; outputs
    rounded to integer micros for stable hashing."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    price = F.col("o_totalprice").cast("double")
    return df.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.expr("percentile(CAST(o_totalprice AS double), 0.5)") * 100)
        .cast("bigint")
        .alias("median_cents"),
        F.round(F.expr("percentile(CAST(o_totalprice AS double), 0.9)") * 100)
        .cast("bigint")
        .alias("p90_cents"),
    )


def sql_orders_quantiles() -> str:
    return """
SELECT o_orderpriority, count(*)::bigint AS n_orders,
  round(quantile_cont(o_totalprice::double, 0.5) * 100)::bigint AS median_cents,
  round(quantile_cont(o_totalprice::double, 0.9) * 100)::bigint AS p90_cents
FROM orders GROUP BY o_orderpriority
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation coverage: ROLLUP(event_type, day) with
    grouping markers — subtotals and grand total in one pass."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        df.select(F.col("event_type"), day.alias("day"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events", "g_type", "g_day",
        )
    )


def sql_events_rollup() -> str:
    return """
SELECT coalesce(event_type, 'ALL') AS event_type,
  coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
  count(*)::bigint AS n_events,
  grouping(event_type)::int AS g_type,
  grouping(strftime(ts, '%Y-%m-%d'))::int AS g_day
FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join coverage: customers with zero URGENT-priority orders
    (the reference's 'unexpected/missing' shape relationally). The
    filter pushes into the parquet scan of the right side BEFORE the
    anti-join build. (Plain zero-order customers matched NOTHING on the
    driver corpus — a vacuous 0=0 oracle row; round-2 VERDICT #2.)"""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            "c_mktsegment",
        )
    )


def sql_customers_without_orders() -> str:
    return """
SELECT c_custkey::bigint AS c_custkey, c_mktsegment
FROM customer WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


QUERIES = {
    "events_hourly": (q_events_hourly, sql_events_hourly),
    "events_user_window": (q_events_user_window, sql_events_user_window),
    "orders_revenue_topn": (q_orders_revenue_topn, sql_orders_revenue_topn),
    "events_sessions": (q_events_sessions, sql_events_sessions),
    "orders_quantiles": (q_orders_quantiles, sql_orders_quantiles),
    "events_rollup": (q_events_rollup, sql_events_rollup),
    "customers_without_orders": (
        q_customers_without_orders, sql_customers_without_orders,
    ),
}
