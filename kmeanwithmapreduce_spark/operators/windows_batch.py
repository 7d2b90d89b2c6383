"""Batch windowed aggregations over events using F.window / session_window
— the same operators Structured Streaming uses, exercised on bounded
input so the duckdb oracle can check them (streaming execution of the
identical plans lives in kmeanwithmapreduce_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .relational import _gridavg, _gridsum, _sql_gridavg, _sql_gridsum


# --------------------------------------------------------------------------
# w01 — 5-minute tumbling window per event type.
def w01_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _gridsum(F.col("value"), 100, 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


W01_SQL = f"""
SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS window_start,
       event_type,
       count(*)             AS n,
       {_sql_gridsum("value", 100, 2)} AS total_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# w02 — 10-minute sliding window (5-minute slide): each event lands in 2
# windows. Oracle expands the window memberships explicitly.
def w02_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _gridavg(F.col("value"), 100, 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
    )


W02_SQL = f"""
SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300 - off.o) AS TIMESTAMP) AS window_start,
       count(*)             AS n,
       {_sql_gridavg("value", 100, 4)} AS avg_value
FROM events, (SELECT unnest([0, 300]) AS o) AS off
WHERE epoch(ts) >= floor(epoch(ts) / 300) * 300 - off.o
  AND epoch(ts) <  floor(epoch(ts) / 300) * 300 - off.o + 600
GROUP BY 1
"""


# --------------------------------------------------------------------------
# w03 — session windows (30-minute gap) per user: Spark's native
# session_window operator; oracle = lag/cumsum sessionization with
# matching session_start.
def w03_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


W03_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""
