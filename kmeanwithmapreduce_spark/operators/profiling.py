"""Data-profiling operators — the distribution half of the validation
surface (quality.py audits constraints; these describe shape): an
exact-integer equi-width histogram and a robust (median/MAD) outlier
profile. Both are the single-pass aggregations a pipeline runs on every
corpus release to catch drift before training sees it.

Cross-engine determinism: all arithmetic on the cents grid (exact
BIGINT); histogram bucketing is pure integer multiply/divide on
nonnegative offsets (DIV and // agree there), and the MAD thresholds
are IEEE doubles computed from exact-int percentiles with the same
p*(n-1) interpolation on both engines (the q40 cutpoint argument), so
counts are exact, not band-checked.

Scale: q42 is one scalar agg (min/max) + one map-side bucket CASE +
a <=n_bins groupBy; q43 is two tiny per-group percentile aggs
broadcast-joined back to the stream — no window, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

_Q42_BINS = 20


def histogram_cents(
    df: DataFrame, value_col: str, *, n_bins: int = _Q42_BINS
) -> DataFrame:
    """Equi-width histogram over round(value*100) cents: (bucket,
    lo_cents, hi_cents, n). Bounds come from one scalar min/max agg and
    fold back as literals; bucketing is exact integer arithmetic
    (offset * n_bins DIV span — nonnegative, so truncation == floor on
    both engines). Single-value relations collapse to one bucket."""
    if n_bins < 1:
        raise ValueError("histogram_cents: n_bins must be >= 1")
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(cents.alias("c")).where(F.col("c").isNotNull())
    b = base.agg(F.min("c").alias("lo"), F.max("c").alias("hi")).first()
    if b["lo"] is None:
        raise ValueError("histogram_cents: no non-null values")
    lo, hi = b["lo"], b["hi"]
    span = hi - lo + 1
    bucket = F.least(
        F.lit(n_bins - 1),
        F.expr(f"(c - {lo}) * {n_bins} DIV {span}"),
    ).cast("bigint")
    # Exact-integer bucket bounds, inverting the bucket rule: bucket
    # flips to b at offset ceil(b*span/n) — so bounds are ceil-divisions
    # ((x*span + n-1) DIV n), never float width arithmetic (which goes
    # degenerate when span < n_bins).
    lo_b = F.expr(f"(bucket * {span} + {n_bins - 1}) DIV {n_bins}")
    hi_b = F.expr(f"((bucket + 1) * {span} + {n_bins - 1}) DIV {n_bins} - 1")
    return (
        base.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bucket",
            (F.lit(lo) + lo_b).cast("bigint").alias("lo_cents"),
            (F.lit(lo) + hi_b).cast("bigint").alias("hi_cents"),
            "n",
        )
    )


def q42_histogram_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return histogram_cents(o, "o_totalprice")


# The SQL twin recomputes lo/hi in CTEs — same exact ints, same integer
# bucket rule (// == DIV on the nonnegative offsets), same bound math
# (width as an exact-int-derived double; floor of double both engines).
Q42_SQL = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
bounds AS (
  SELECT min(c) AS lo, max(c) AS hi, max(c) - min(c) + 1 AS span FROM base
),
bucketed AS (
  SELECT least({_Q42_BINS} - 1, ((c - lo) * {_Q42_BINS}) // span) AS bucket,
         lo, span
  FROM base, bounds
)
SELECT bucket,
       CAST(lo + (bucket * span + {_Q42_BINS - 1}) // {_Q42_BINS} AS BIGINT)
         AS lo_cents,
       CAST(lo + ((bucket + 1) * span + {_Q42_BINS - 1}) // {_Q42_BINS} - 1
            AS BIGINT) AS hi_cents,
       CAST(count(*) AS BIGINT) AS n
FROM bucketed
GROUP BY bucket, lo, span
"""


def mad_outlier_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier profile: median and MAD (median
    absolute deviation) of the cents grid, plus how many rows fall
    outside median ± k·MAD. Robust because one whale value moves a
    mean/stddev fence arbitrarily but not a median/MAD one.

    Plan: per-group median agg (|groups| rows, broadcast back) →
    per-group MAD agg (broadcast back) → one conditional count. The
    value stream is scanned twice-ish but never shuffled beyond the
    tiny group aggregates."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(group_col).alias("g"), cents.alias("c")
    ).where(F.col("c").isNotNull())
    med = base.groupBy("g").agg(F.percentile("c", F.lit(0.5)).alias("med"))
    dev = base.join(F.broadcast(med), "g").select(
        "g", "c", "med", F.abs(F.col("c") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("g").agg(F.percentile("d", F.lit(0.5)).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "g").select(
        "g",
        "med",
        "mad",
        (F.abs(F.col("c") - F.col("med")) > F.lit(k) * F.col("mad"))
        .cast("int")
        .alias("out"),
    )
    return (
        flagged.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("out").cast("bigint").alias("n_outliers"),
            F.first("med").alias("med_cents"),
            F.first("mad").alias("mad_cents"),
        )
        .withColumnRenamed("g", group_col)
    )


def q43_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return mad_outlier_profile(e, "event_type", "value")


Q43_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT g, quantile_cont(c, 0.5) AS med FROM base GROUP BY g
),
dev AS (
  SELECT base.g, c, med, abs(c - med) AS d FROM base JOIN med USING (g)
),
mad AS (
  SELECT g, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY g
)
SELECT dev.g AS event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN abs(c - med) > 3.0 * mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       any_value(med) AS med_cents,
       any_value(mad) AS mad_cents
FROM dev JOIN mad USING (g)
GROUP BY dev.g
"""
