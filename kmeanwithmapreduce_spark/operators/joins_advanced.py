"""Advanced join shapes absent from both the reference and vanilla SQL
textbooks but required of a real engine (SURVEY §2 Part B: "range/as-of/
interval" joins) plus approximate aggregates.

Scale notes:
- as-of join: expressed as a conditional last_value window — ONE shuffle
  on the partition key, no join at all. This is the scale-optimal form
  when both sides share a partition key (here: the same events table).
- range join: tiny build side -> broadcast nested-loop with an interval
  predicate (Catalyst's BroadcastNestedLoopJoin). For a LARGE build side
  the pattern is bucketize-by-range-unit + equi-join on bucket + residual
  filter (noted in j02's docstring); the tiny-dim case here is the
  common campaign/calendar shape.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import ensure_min_parallelism, load_table


# --------------------------------------------------------------------------
# j01 — as-of join (point-in-time lookup): for every click, the most
# recent prior purchase value of the same user.
def j01_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_purchase_value", last_purchase)
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "last_purchase_value")
    )


J01_SQL = """
SELECT event_id, user_id, ts, last_purchase_value
FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value
  FROM events
)
WHERE event_type = 'click'
"""


# --------------------------------------------------------------------------
# j02 — range (interval) join: events against campaign windows.
# Campaign dims are generated from shared Python constants so the oracle
# joins the byte-identical build side.
_CAMPAIGNS = [
    (
        i,
        datetime(2024, 1, 1) + timedelta(days=3 * i),
        datetime(2024, 1, 1) + timedelta(days=3 * i + 5),
    )
    for i in range(10)
]


def j02_range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast interval join (build side: 10 rows). For a large build
    side, bucketize ts to days, equi-join on day, then filter the exact
    interval — same results, shuffle-bounded."""
    # the nested-loop probe side must be split: a single-file local scan
    # would run the whole interval comparison in ONE task
    e = ensure_min_parallelism(load_table(spark, sf_dir, "events"))
    camp = spark.createDataFrame(
        _CAMPAIGNS, "campaign_id int, start_ts timestamp, end_ts timestamp"
    )
    return (
        e.join(
            F.broadcast(camp),
            (e.ts >= camp.start_ts) & (e.ts < camp.end_ts),
        )
        .groupBy("campaign_id", "start_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def _j02_sql() -> str:
    values = ", ".join(
        f"({i}, TIMESTAMP '{s:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}')"
        for i, s, t in _CAMPAIGNS
    )
    return f"""
SELECT campaign_id, start_ts,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
JOIN (VALUES {values}) AS camp(campaign_id, start_ts, end_ts)
  ON ts >= start_ts AND ts < end_ts
GROUP BY campaign_id, start_ts
"""


J02_SQL = _j02_sql()


# --------------------------------------------------------------------------
# j03 — approximate aggregates: HLL distinct counts checked against the
# exact answer. The approx value itself is engine-specific, so the
# compared output is the exact count plus a boolean asserting the approx
# landed within 10% — a semantic property both engines must satisfy.
def j03_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id") - F.countDistinct("user_id")
            )
            <= 0.1 * F.countDistinct("user_id")
        ).alias("approx_within_10pct"),
    )


J03_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.1 * count(DISTINCT user_id) AS approx_within_10pct
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# j04 — as-of join via per-group pandas merge_asof (applyInPandas).
# Near-j01 semantics (merge_asof matches on ts only: a purchase at the
# click's exact timestamp counts regardless of event_id order; among
# equal-ts purchases the highest event_id wins); this is the
# formulation for when the two sides are DIFFERENT tables sharing a
# partition key (the window trick needs one table). Oracle: correlated
# latest-purchase scalar subquery with the same (ts DESC, event_id
# DESC) tie-break.
#
# Tie-break contract: the group pdf is sorted ONCE by (ts, event_id);
# the click/purchase sub-frames are row-filtered from it, which
# preserves that order, so no re-sort happens before merge_asof (a
# re-sort by ts alone with pandas' default unstable quicksort could
# reorder equal-ts purchases and break highest-event-id-wins).


def _asof_out_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("last_purchase_value", T.DoubleType()),
        ]
    )


def _asof_merge_one_group(pdf):
    """merge_asof one already-grouped frame; assumes nothing about input
    order (sorts stably by (ts, event_id) itself)."""
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    c = pdf[pdf["event_type"] == "click"][["event_id", "user_id", "ts"]]
    # keep event_id in p: row-filtering preserves the stable sort, so
    # among equal-ts purchases the LAST row (picked by backward
    # merge_asof) is the highest event_id — the oracle's tie-break.
    p = pdf[pdf["event_type"] == "purchase"][["ts", "value"]]
    if c.empty:
        return pd.DataFrame(columns=["event_id", "user_id", "ts", "last_purchase_value"])
    merged = pd.merge_asof(
        c,
        p.rename(columns={"value": "last_purchase_value"}),
        on="ts",
        direction="backward",
    )
    return merged[["event_id", "user_id", "ts", "last_purchase_value"]]


def j04_asof_merge_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One group per user_id. Simple, but a whale user's entire history
    lands in a single Python group — use the chunked form at scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "user_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandas(_asof_merge_one_group, _asof_out_schema())
    )


def j04_asof_merge_grouped(
    spark: SparkSession, sf_dir: str, chunk_days: int = 7
) -> DataFrame:
    """Whale-safe as-of merge: group by (user_id, time-chunk) so no
    single Python group holds a whale user's full history, then repair
    chunk boundaries with a JVM-side carry-in window.

    Stages (mirrors operators/sessionize.py:63's salted two-level shape):
      1. chunk id = floor(epoch / chunk_days) — deterministic salt that
         preserves as-of locality (all candidates for a click are in its
         own chunk or earlier chunks).
      2. applyInPandas over (user_id, chunk): per-chunk merge_asof.
         Clicks preceding every purchase in their chunk get NULL.
      3. boundary fix-up, all JVM-side: per-(user_id, chunk) last
         purchase via max_by(value, struct(ts, event_id)) — same
         tie-break — then last_value IGNORE NULLS over preceding chunks
         gives each chunk its carry-in; coalesce fills the NULLs.
    Work per group is bounded by chunk width, so a 10^9-event whale
    becomes many bounded groups instead of one task-killing group.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    chunk_sec = chunk_days * 86400
    e = e.withColumn("chunk", (F.unix_timestamp("ts") / chunk_sec).cast("long"))

    merged = e.groupBy("user_id", "chunk").applyInPandas(
        lambda keys, pdf: _asof_merge_one_group(pdf).assign(chunk=keys[1]),
        _asof_out_schema().add("chunk", "long"),
    )

    purchases = e.where(F.col("event_type") == "purchase")
    chunk_last = purchases.groupBy("user_id", "chunk").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("chunk_last_value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # every chunk that appears in merged needs a carry-in row, including
    # chunks with no purchases — build the frame over ALL chunk ids.
    carry = (
        e.select("user_id", "chunk")
        .distinct()
        .join(chunk_last, ["user_id", "chunk"], "left")
        .withColumn(
            "carry_in_value",
            F.last("chunk_last_value", ignorenulls=True).over(w),
        )
        .select("user_id", "chunk", "carry_in_value")
    )
    return (
        merged.join(carry, ["user_id", "chunk"], "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce("last_purchase_value", "carry_in_value").alias(
                "last_purchase_value"
            ),
        )
    )


J04_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       (SELECT p.value
        FROM events p
        WHERE p.user_id = c.user_id
          AND p.event_type = 'purchase'
          AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC
        LIMIT 1) AS last_purchase_value
FROM events c
WHERE c.event_type = 'click'
"""


# --------------------------------------------------------------------------
# j05 — approximate percentile (quantile sketch), the j03 discipline:
# the sketch value itself is engine-specific (Spark: Greenwald-Khanna,
# DuckDB: t-digest), so the compared output is the group count plus
# booleans asserting each engine's approximation landed inside the
# EXACT ±2%-quantile band — a semantic accuracy property both must
# satisfy. Only counts and booleans are emitted: interpolated exact
# percentile VALUES can differ in the last ulp across engines (formula
# association), and the band edges are generously far apart relative to
# any sketch error at accuracy 10000 / default t-digest.
def j05_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def band(p: float):
        return (
            F.percentile_approx("l_extendedprice", p, 10000)
            >= F.percentile("l_extendedprice", p - 0.02)
        ) & (
            F.percentile_approx("l_extendedprice", p, 10000)
            <= F.percentile("l_extendedprice", p + 0.02)
        )

    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        band(0.5).alias("p50_within_band"),
        band(0.9).alias("p90_within_band"),
    )


J05_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       approx_quantile(l_extendedprice, 0.5)
         BETWEEN quantile_cont(l_extendedprice, 0.48)
             AND quantile_cont(l_extendedprice, 0.52) AS p50_within_band,
       approx_quantile(l_extendedprice, 0.9)
         BETWEEN quantile_cont(l_extendedprice, 0.88)
             AND quantile_cont(l_extendedprice, 0.92) AS p90_within_band
FROM lineitem
GROUP BY l_returnflag
"""
