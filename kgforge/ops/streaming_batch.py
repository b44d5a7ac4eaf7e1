"""Batch windows over the `events` stream table (SURVEY.md §2.B streaming
pane): tumbling / sliding / session windows, each checked against its
DuckDB oracle.

Money-like doubles go through the decimal-exact sum helper so aggregation
order can't break cross-engine equality (kgforge/ops/_util.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.ops._util import dsum, dsum_sql
from kgforge.registry import register
from kgforge.tables import load

SESSION_GAP_MIN = 30


@register(
    "stream_tumble_batch",
    sql=f"""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS wstart,
           time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS wend,
           event_type,
           count(*) AS n,
           {dsum_sql('value')} AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Tumbling 10-minute window aggregation (streaming groupBy(window(...)) in batch).",
)
def stream_tumble_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes")
    return ev.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    ).select(
        F.col("window.start").alias("wstart"),
        F.col("window.end").alias("wend"),
        "event_type",
        "n",
        "total",
    )


@register(
    "stream_slide_batch",
    sql=f"""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * INTERVAL 5 MINUTE AS wstart,
             value
      FROM events, (SELECT unnest([0, 1]) AS k)
    )
    SELECT wstart, wstart + INTERVAL 10 MINUTE AS wend,
           count(*) AS n, {dsum_sql('value')} AS total
    FROM slid GROUP BY 1, 2
    """,
    doc=(
        "Sliding window (10 min length, 5 min step): every event lands in two "
        "windows; oracle materializes the two epoch-aligned starts explicitly."
    ),
)
def stream_slide_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return ev.groupBy(w).agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    ).select(
        F.col("window.start").alias("wstart"),
        F.col("window.end").alias("wend"),
        "n",
        "total",
    )


@register(
    "stream_session_batch",
    sql=f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS island
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           count(*) AS n, {dsum_sql('value')} AS total
    FROM islands GROUP BY user_id, island
    """,
    doc=(
        "Session windows (30-minute gap) per user — F.session_window in batch; "
        "oracle recomputes sessions as gaps-and-islands."
    ),
)
def stream_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = F.session_window("ts", f"{SESSION_GAP_MIN} minutes")
    return ev.groupBy(w, "user_id").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
        "total",
    )
