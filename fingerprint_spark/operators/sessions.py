"""Sessionization — gap-based event sessions (classic streaming/OLAP op).

A session is a maximal run of a user's events with no gap exceeding
``gap_s`` between consecutive events. Spark shape: everything inside a
user-partitioned window — one shuffle on user_id, no global state:

    new_session = (lag(ts) is null) OR (ts - lag(ts) > gap)
    session_index = running sum of new_session

Deterministic tie-break (ts, event_id). Scale note: the shuffle carries
(user_id, ts, event_id) triples; per-user event counts bound window
memory, and skewed mega-users are exactly what AQE skew-join/salting
handles upstream if sessions feed a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def sessionize(df: DataFrame, gap_s: int) -> DataFrame:
    """Add ``session_index`` (1-based per user_id) to every
    (user_id, ts, event_id) event."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_timestamp(F.col("ts"))).over(w)
    new_session = (
        prev.isNull()
        | ((F.unix_timestamp(F.col("ts")) - prev) > gap_s)
    ).cast("int")
    return df.withColumn(
        "session_index",
        F.sum(new_session).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )


def session_stats(df: DataFrame, gap_s: int = 1800) -> DataFrame:
    """One row per (user_id, session): event count, span, first event."""
    s = sessionize(df, gap_s)
    return s.groupBy("user_id", "session_index").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp(F.col("ts"))).alias("start_epoch"),
        F.max(F.unix_timestamp(F.col("ts"))).alias("end_epoch"),
        F.min("event_id").alias("first_event"),
    )
