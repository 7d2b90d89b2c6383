"""Temporal / interval operators beyond the as-of and range joins of
``joins_advanced.py``: the large-build-side BINNED range join (the scale
path j02's docstring promises) and sweep-line interval analytics
(max-concurrency). Reference parity: the reference engine has no
temporal surface at all (MinhTuanCoder/KmeanWithMapreduce is a single
K-Means job); these belong to the "range/interval join" and "window
analytics" rows of SURVEY §2 Part B.

Scale notes:
- j06 replaces the O(N x M) BroadcastNestedLoopJoin of j02 with an
  EQUI-join on a time bucket plus a residual interval filter. Build
  side replication is x(interval_len/bucket); probe side stays 1 row
  per event. Because the join key is an equi key, Catalyst is free to
  pick BHJ for a small build side and SMJ/shuffle-hash for a large one
  (AQE decides at runtime) — the shape survives a build side of any
  size, which the nested loop does not.
- q31's sweep line turns interval-overlap counting into a running sum
  over +1/-1 endpoints: one window partitioned by user_id (bounded
  per-key state: a user's own events), then a tiny histogram groupBy.
  Partitioning by the entity key (not event_type, ~5 whale groups) is
  what keeps the window splittable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import ensure_min_parallelism, load_table
from .joins_advanced import _CAMPAIGNS, J02_SQL

_DAY = 86400


def range_join_binned(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = _DAY,
) -> DataFrame:
    """Equi-join ``events`` to half-open ``[start, end)`` intervals via a
    time bucket: explode each interval into the buckets it covers, join
    on the event's bucket, keep rows passing the exact residual filter.

    Exact same result set as the nested-loop interval join (each event's
    bucket is unique, so an (event, interval) pair can match at most
    once — no post-join dedup needed). Choose ``bucket_seconds`` near
    the typical interval length: replication factor is
    ceil(len/bucket)+1 while residual selectivity per bucket stays high.

    Bucket arithmetic is exact MICROSECONDS (unix_micros), the q32
    discipline: second-truncating unix_timestamp would assign an
    interval ending at a bucket edge + 0.5s a last bucket one too
    early, silently dropping events in that final fraction of a
    second.
    """
    b_us = bucket_seconds * 1_000_000
    # Empty/inverted intervals (end <= start) cover no instant, but an
    # unguarded F.sequence(first_bucket, last_bucket) would generate a
    # DESCENDING bucket list for them — silently replicating a
    # zero-match interval across many buckets (correct output via the
    # residual filter, but unbounded replication). Drop them up front.
    intervals = intervals.where(F.col(end_col) > F.col(start_col))
    binned = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / b_us),
                # end is exclusive: the last covered instant is end-1µs
                F.floor((F.unix_micros(F.col(end_col)) - F.lit(1)) / b_us),
            )
        ),
    )
    probe = events.withColumn(
        "_bucket", F.floor(F.unix_micros(F.col(ts_col)) / b_us)
    )
    return (
        probe.join(binned, "_bucket")
        .where((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_bucket")
    )


def j06_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j02's campaign attribution re-planned through the binned equi-join
    — byte-identical results (same oracle, J02_SQL), scale-safe shape:
    no BroadcastNestedLoopJoin anywhere in the plan (pinned)."""
    e = ensure_min_parallelism(load_table(spark, sf_dir, "events"))
    camp = spark.createDataFrame(
        _CAMPAIGNS, "campaign_id int, start_ts timestamp, end_ts timestamp"
    )
    return (
        range_join_binned(e, camp)
        .groupBy("campaign_id", "start_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


J06_SQL = J02_SQL  # identical semantics, different physical plan


# --------------------------------------------------------------------------
# q31 — sweep-line max concurrency: treat every event as a half-open
# 30-minute activity interval [ts, ts+30min); per user, the maximum
# number of simultaneously-open intervals; output the histogram of that
# per-user maximum. Endpoint ordering (t, delta) closes intervals BEFORE
# opening ones at the same instant, so touching intervals ([a,b), [b,c))
# never count as concurrent. Within an equal-(t, delta) tie group the
# running sum moves monotonically, so the group's max is order-invariant
# — the property that makes the ROWS-frame prefix sum engine-portable.
def q31_concurrency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    span = F.expr("INTERVAL 30 MINUTES")
    # ONE scan: each event explodes into its open/close endpoints (a
    # union of two selects would scan the 100 TB events table twice)
    pts = e.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct((F.col("ts") + span).alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("_p"),
    ).select("user_id", "_p.t", "_p.delta")
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_user = (
        pts.withColumn("cur", F.sum("delta").over(w))
        .groupBy("user_id")
        .agg(F.max("cur").cast("bigint").alias("max_concurrent"))
    )
    return per_user.groupBy("max_concurrent").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


Q31_SQL = """
WITH pts AS (
  SELECT user_id, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT user_id, ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
),
run AS (
  SELECT user_id,
         sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
  FROM pts
),
per_user AS (
  SELECT user_id, CAST(max(cur) AS BIGINT) AS max_concurrent
  FROM run GROUP BY user_id
)
SELECT max_concurrent, CAST(count(*) AS BIGINT) AS n_users
FROM per_user
GROUP BY max_concurrent
"""


# --------------------------------------------------------------------------
# q32 — gaps-and-islands interval coalescing: merge each user's
# overlapping/touching 30-minute activity intervals into maximal
# islands, then report per-user island count and total covered time.
# All time arithmetic is exact BIGINT MICROSECONDS (unix_micros /
# epoch_us): second-granularity helpers disagree across engines on
# sub-second timestamps (unix_timestamp truncates, DuckDB's epoch()
# rounds) — a ±1 s drift this oracle would catch. Island detection is
# the classic cumulative-max trick: a new island starts where an
# interval's start exceeds the running max of all previous ends; the
# island id is then a running count of starts. One window partition per
# user (bounded state), histogram-sized output.
def q32_coalesced_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    span_us = 1800 * 1_000_000
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(span_us)).alias("t"),
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "t")
    prev_max_end = F.max("t").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("is_start"), F.max("t").alias("is_end")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("is_end") - F.col("is_start")).cast("bigint").alias("covered_us"),
    )


Q32_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + 1800 * 1000000 AS t
  FROM events
),
flagged AS (
  SELECT user_id, s, t,
         CASE WHEN max(t) OVER (PARTITION BY user_id ORDER BY s, t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(t) OVER (PARTITION BY user_id ORDER BY s, t
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, t,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
),
per_island AS (
  SELECT user_id, island, min(s) AS is_start, max(t) AS is_end
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(is_end - is_start) AS BIGINT) AS covered_us
FROM per_island
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q33 — time-series resample + forward fill (LOCF): per user, a dense
# DAILY grid from their first to their last event day; each day carries
# the value of that day's LAST event (ts desc, event_id desc — a total
# order, so "last" is engine-portable), and days with no events inherit
# the most recent prior value (last-observation-carried-forward). The
# classic gap-fill that turns an irregular event stream into the
# regular series a feature pipeline or forecaster consumes.
#
# Scale shape: the grid explodes per USER (sequence + explode — a
# narrow map-side expansion bounded by the user's own day span, never a
# global calendar cross join), the daily-last pick and the LOCF window
# both partition by user (bounded per-key state), and the grid↔daily
# join is an equi-join on (user_id, day) that shares the window's
# hash partitioning. No SinglePartition anywhere; survives any user
# count. LOCF copies values verbatim (zero float arithmetic), so the
# filled series is bit-identical across engines.
def gapfill_locf(e: DataFrame) -> DataFrame:
    """Frame-level form over any events-shaped relation (user_id,
    event_id, ts, value) — composed by analytics.build_events_mart."""
    w_day = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        e.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_day))
        .where(F.col("rn") == 1)
        .select("user_id", "day", "value", F.lit(1).alias("obs"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(w_fill).alias("value_filled"),
        F.coalesce("obs", F.lit(0)).cast("int").alias("observed"),
    )


def q33_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gapfill_locf(load_table(spark, sf_dir, "events"))


Q33_SQL = """
WITH daily AS (
  SELECT user_id, day, value, 1 AS obs FROM (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
),
joined AS (
  SELECT g.user_id, g.day, d.value, coalesce(d.obs, 0) AS observed
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
)
SELECT user_id, day,
       last_value(value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS value_filled,
       CAST(observed AS INT) AS observed
FROM joined
"""


# --------------------------------------------------------------------------
# q34 — ordered conversion funnel: how many users complete
# signup → view → click → purchase with STRICTLY increasing timestamps
# (a purchase logged before the user's click does not convert — the
# property a naive per-type EXISTS check gets wrong). Stage k's entry
# time is the user's earliest stage-k event AFTER their stage-(k-1)
# entry time, i.e. the min-ts chain.
#
# Scale shape: four per-user MIN aggregates over frames that only
# shrink (stage k joins events against the stage-(k-1) survivors on
# user_id — a broadcastable frame after stage 1); per-user state is one
# timestamp, so no whale-group risk, and every stage hashes by the same
# user_id key so AQE reuses the exchange layout. Final stage counts are
# four 1-row aggregates unioned — no collect.
def _funnel_stage_frames(events: DataFrame):
    """The four per-user stage frames (user_id, tK = first qualifying
    ts) shared by the count rollup (funnel) and the per-user view
    (funnel_user_stages / the streaming mart state)."""
    e = events.select("user_id", "event_type", "ts")

    def next_stage(prev: DataFrame, etype: str, tcol: str, prev_tcol: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = next_stage(s1, "view", "t2", "t1")
    s3 = next_stage(s2, "click", "t3", "t2")
    s4 = next_stage(s3, "purchase", "t4", "t3")
    return s1, s2, s3, s4


def funnel_user_stages(events: DataFrame) -> DataFrame:
    """(user_id, t1, t2, t3, t4) — each user's first qualifying ts per
    funnel stage (NULL where the chain stopped). One row per user who
    reached stage 1."""
    s1, s2, s3, s4 = _funnel_stage_frames(events)
    return (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .join(s4.select("user_id", "t4"), "user_id", "left")
    )


def funnel(events: DataFrame) -> DataFrame:
    """Frame-level form — composed by analytics.build_events_mart."""
    s1, s2, s3, s4 = _funnel_stage_frames(events)

    def stage_row(df: DataFrame, stage: int, etype: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(etype).alias("event_type"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )

    return (
        stage_row(s1, 1, "signup")
        .unionAll(stage_row(s2, 2, "view"))
        .unionAll(stage_row(s3, 3, "click"))
        .unionAll(stage_row(s4, 4, "purchase"))
    )


def q34_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load_table(spark, sf_dir, "events"))


Q34_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts > s2.t2
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t4
  FROM events e JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s3.t3
  GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS stage, 'signup' AS event_type,
       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
UNION ALL
SELECT CAST(2 AS INT), 'view', (SELECT CAST(count(*) AS BIGINT) FROM s2)
UNION ALL
SELECT CAST(3 AS INT), 'click', (SELECT CAST(count(*) AS BIGINT) FROM s3)
UNION ALL
SELECT CAST(4 AS INT), 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s4)
"""


# --------------------------------------------------------------------------
# q35 — rolling 7-day window feature: per event, this user's event
# count and grid-exact value sum over [ts - 7d, ts] — a RANGE frame
# with a time-interval bound, the frame type ROWS frames (q10) cannot
# express (the peer set depends on TIME distance, not row distance).
# The frame key is exact BIGINT MICROSECONDS (the q32 rule): Spark's
# rangeBetween on unix_micros and the oracle's integer RANGE bound are
# the same arithmetic, immune to the second-granularity truncation
# drift and to calendar-interval ambiguity. The summed value is a
# cents-integer grid (the q10 discipline) so the rolling sum is exact,
# not merge-order ulp noise.
#
# Scale shape: one narrow scan + one user-partitioned window — Spark
# evaluates a RANGE frame with a sliding two-pointer over each
# partition (state bounded by the 7-day span per user), and the window
# hash layout is the standard user_id key. No joins, no explode.
def rolling_7day(e: DataFrame) -> DataFrame:
    """Frame-level form — composed by analytics.build_events_mart."""
    span_us = 7 * 86400 * 1_000_000
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-span_us, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        (F.sum(cents).over(w).cast("double") / 100.0).alias("sum_value_7d"),
    )


def q35_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_7day(load_table(spark, sf_dir, "events"))


Q35_SQL = """
SELECT user_id, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
         AS sum_value_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# q36 — cohort retention matrix: users are cohorted by the week of
# their FIRST event (weeks since a fixed anchor day, FLOOR division on
# integer day counts — spelled floor(x/7.0) in BOTH engines because
# DuckDB's `//` truncates toward zero on negatives where Spark's
# F.floor floors, a divergence for pre-anchor dates; no date_trunc
# locale/week-start ambiguity), counted as retained in week offset k
# when they
# have any event in day range [7k, 7k+7) after their first day. The
# product-analytics complement of q34's funnel: q34 measures ordered
# conversion, q36 measures return-over-time.
#
# Scale shape: per-user min aggregate + a (user, day)-distinct, both
# hashing user_id; the cohort join is user-keyed; the final matrix agg
# is a count-distinct over (cohort_week, week_offset) — at most
# n_weeks^2 output groups. All arithmetic is integer day counts.
_COHORT_ANCHOR = "2024-01-01"


def cohort_retention(e: DataFrame) -> DataFrame:
    """Frame-level form — composed by analytics.build_events_mart."""
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    firsts = days.groupBy("user_id").agg(F.min("d").alias("f"))
    anchor = F.lit(_COHORT_ANCHOR).cast("date")
    return (
        days.join(firsts, "user_id")
        .select(
            "user_id",
            F.floor(F.datediff(F.col("f"), anchor) / 7).alias("cohort_week"),
            F.floor(F.datediff(F.col("d"), F.col("f")) / 7).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


def q36_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(load_table(spark, sf_dir, "events"))


Q36_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
firsts AS (
  SELECT user_id, min(d) AS f FROM days GROUP BY user_id
)
SELECT CAST(floor(date_diff('day', DATE '2024-01-01', f) / 7.0) AS BIGINT)
         AS cohort_week,
       CAST(floor(date_diff('day', f, d) / 7.0) AS BIGINT) AS week_offset,
       CAST(count(DISTINCT days.user_id) AS BIGINT) AS n_users
FROM days JOIN firsts ON days.user_id = firsts.user_id
GROUP BY 1, 2
"""
