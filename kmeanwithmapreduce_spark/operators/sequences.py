"""Sequence analysis over the event stream — the order-sensitive
family the funnel (q34) only samples: the full first-order transition
matrix (which event type follows which) and the leading-path
distribution (what users' first k steps look like). Reference parity:
the reference engine (a single K-Means job) has no event surface;
these extend the "window analytics" rows of SURVEY §2 Part B.

Determinism rule shared by both: the per-user event order is the TOTAL
order (ts, event_id) — a bare ts would leave equal-instant neighbors
engine-ordered.

Scale notes:
- q37 is one user-keyed window (lag over the total order — bounded
  per-user state) and a groupBy over at most |types|^2 cells: the
  transition matrix never grows with the corpus.
- q38 ranks with row_number over the same user-keyed window; the
  rank<=k filter plans as WindowGroupLimit (map tasks forward <= k
  rows per user — the q09 whale-group property), so the path
  aggregation sees k rows per user, not the user's history. Output is
  at most |types|^k cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order transitions: one row per (from_type, to_type) with
    the count of consecutive same-user pairs, ordered by (ts,
    event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def q37_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transition_matrix(load_table(spark, sf_dir, "events"))


Q37_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
FROM pairs WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
"""


def leading_paths(events: DataFrame, k: int = 3) -> DataFrame:
    """Distribution of each user's first ``k`` event types as a '>'
    joined path string (users with fewer than k events contribute their
    shorter prefix)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = events.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= k)
    # order the k collected steps by rn explicitly — collect_list order
    # is not guaranteed, so sort (rn, type) structs and strip the rank
    per_user = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return per_user.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def q38_leading_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k pinned explicitly: Q38_SQL hardcodes rn <= 3, so the registered
    # pair must not ride on the helper's (changeable) default
    return leading_paths(load_table(spark, sf_dir, "events"), k=3)


Q38_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
per_user AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM per_user
GROUP BY path
"""


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch revenue attribution: each purchase's value (cents
    grid) is credited to the user's most recent PRECEDING non-purchase
    event type in the (ts, event_id) total order; purchases with no
    preceding touch credit 'direct'.

    One user-keyed window carries a single running value (the last
    non-purchase type seen — ``last(..., ignorenulls)`` over an
    unbounded-preceding ROWS frame is O(1) state per user), then a
    groupBy over at most |types|+1 cells. Same Exchange count as q37:
    one hash shuffle on user_id, one tiny final agg. Revenue sums in
    exact BIGINT cents (the q40 grid rule), so counts and sums are
    bit-equal cross-engine.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    purchases = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        touch.alias("touch"),
    ).where(F.col("event_type") == "purchase")
    return purchases.groupBy(
        F.coalesce(F.col("touch"), F.lit("direct")).alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )


def q41_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_touch_attribution(load_table(spark, sf_dir, "events"))


Q41_SQL = """
WITH touched AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
  FROM events
)
SELECT coalesce(touch, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       sum(cents) AS revenue_cents
FROM touched
WHERE event_type = 'purchase'
GROUP BY coalesce(touch, 'direct')
"""
