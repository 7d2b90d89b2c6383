"""Relational operator surface (SURVEY §2 Part B) as DataFrame queries,
each paired with an ANSI-SQL oracle string the driver runs on DuckDB.

The reference implements none of these (SURVEY §2 Part B: no joins, no
windows, no sorts, no set ops — its only relational shape is the K-Means
kernel); this module exposes the full standard surface through Spark SQL
so a reference user gets every category a real engine needs, planned by
Catalyst (broadcast vs sort-merge joins, partial aggregation, pushdown).

Conventions for oracle hash-matching:
- every computed column aliased identically in Spark and SQL;
- monetary/value columns live on a 2-decimal grid (4/6-decimal after
  discount/tax products), so aggregates over them are computed as
  INTEGER-SCALED SUMS: round(x * 10^s) per element (deterministic — a
  single fp op sequence both engines execute identically), summed as
  BIGINT (exact, accumulation-order independent), then divided once.
  Rounding a plain double sum instead is fragile: grid data lands sums
  exactly on rounding half-boundaries, where cross-engine
  accumulation-order ulp noise flips the last digit. At extreme scale
  (scaled sums past ~9e18 units, e.g. sum_charge near SF 100k) switch
  the affected aggregate to ``_gridsum_dec`` — the DECIMAL(38,0)
  accumulator with the same oracle text (tests/test_decimal_gridsum.py
  pins the overflow boundary); q24's moment sums already use DECIMAL.
- DuckDB sum(BIGINT) returns HUGEINT -> always CAST to BIGINT;
- year()/datediff results cast to INT on both sides;
- date_trunc cast to DATE on both sides (Spark returns TIMESTAMP,
  DuckDB DATE);
- no ORDER BY needed (driver hash is order-insensitive) except under
  LIMIT, where the sort is made total with a unique key.

Scale notes are inline per query; the common themes: filters sit
directly on scan columns (parquet pushdown), dimension joins broadcast
(region/nation/supplier are small at any SF), fact-fact joins shuffle on
their keys and AQE handles skew, every aggregation gets map-side partial
aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table, load_table_via


def _gridsum(expr, scale: int, out_dec: int = 0):
    """Exact sum for grid-decimal data: per-element integer scaling
    (deterministic single-op chain), BIGINT sum (order-independent),
    ONE final division — and crucially NO round() on the result: the
    quotient of identical integers is the identical double in both
    engines, so it hash-matches as-is. (round() is engine-divergent at
    conceptual boundaries: Spark rounds the exact binary value via
    BigDecimal HALF_UP, DuckDB multiplies in fp first.)"""
    s = F.sum(F.round(expr * scale).cast("long")).cast("double")
    return s / F.lit(float(scale))


def _gridsum_dec(expr, scale: int):
    """DECIMAL(38,0) variant of _gridsum for extreme-scale sums: BIGINT
    scaled units overflow int64 past ~9.2e18 (q01 sum_charge lands there
    around SF 100k — the 100 TB configuration). Under Spark 4's default
    ANSI mode the BIGINT sum then KILLS the job (arithmetic overflow);
    under legacy mode it wraps silently while DuckDB promotes to
    HUGEINT. Either way the query stops matching its oracle.
    decimal(38,0) accumulation is exact to 1e38; the final cast to
    double is round-to-nearest from the exact integer — identical to
    casting DuckDB's HUGEINT, so the same _sql_gridsum oracle text
    matches both variants. Use for any gridsum whose worst-case scaled
    sum can exceed ~9e18 at the deployed scale factor; costs ~2x the
    BIGINT sum, so the BIGINT form stays the default below that bound
    (see SCALE.md)."""
    s = F.sum(F.round(expr * scale).cast("decimal(38,0)")).cast("double")
    return s / F.lit(float(scale))


def _gridavg(expr, scale: int, out_dec: int = 0):
    """Average truncated to scale*100 units via floor: floor() of the
    same double is the same value in every engine, unlike round()."""
    s = F.sum(F.round(expr * scale).cast("long")).cast("double")
    return F.floor(s * 100.0 / F.count(F.lit(1))) / F.lit(float(scale) * 100.0)


def _sql_gridsum(expr: str, scale: int, out_dec: int = 0) -> str:
    return (
        f"CAST(sum(CAST(round(({expr}) * {scale}) AS BIGINT)) AS DOUBLE)"
        f" / {scale}.0"
    )


def _sql_gridavg(expr: str, scale: int, out_dec: int = 0) -> str:
    return (
        f"floor(CAST(sum(CAST(round(({expr}) * {scale}) AS BIGINT)) AS DOUBLE)"
        f" * 100.0 / count(*)) / {scale}00.0"
    )


# --------------------------------------------------------------------------
# q01 — TPC-H Q1 shape: scan + filter + groupBy + 8 aggregates.
# Scale: pure map-side-combinable agg; shuffle carries ~6 groups.
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _gridsum(F.col("l_quantity"), 100, 2).alias("sum_qty"),
            _gridsum(F.col("l_extendedprice"), 100, 2).alias("sum_base_price"),
            _gridsum(disc_price, 10000, 2).alias("sum_disc_price"),
            _gridsum(charge, 1000000, 2).alias("sum_charge"),
            _gridavg(F.col("l_quantity"), 100, 4).alias("avg_qty"),
            _gridavg(F.col("l_extendedprice"), 100, 4).alias("avg_price"),
            _gridavg(F.col("l_discount"), 100, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_sql_gridsum("l_quantity", 100, 2)}      AS sum_qty,
       {_sql_gridsum("l_extendedprice", 100, 2)} AS sum_base_price,
       {_sql_gridsum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS sum_disc_price,
       {_sql_gridsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 1000000, 2)} AS sum_charge,
       {_sql_gridavg("l_quantity", 100, 4)}      AS avg_qty,
       {_sql_gridavg("l_extendedprice", 100, 4)} AS avg_price,
       {_sql_gridavg("l_discount", 100, 4)}      AS avg_disc,
       count(*)                                  AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q03 — TPC-H Q3 shape: selective join + agg + total-order top-10.
# Scale: both filters push to the scans; top-k is TakeOrderedAndProject
# (no global sort materialization).
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _gridsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q03_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_sql_gridsum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# q05 — TPC-H Q5 shape: 6-way join, customer & supplier in same nation.
# Scale: dims broadcast; lineitem-orders is the only fact-fact shuffle.
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _gridsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue")
        )
    )


Q05_SQL = f"""
SELECT n_name,
       {_sql_gridsum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# q06 — TPC-H Q6: filter-only global aggregate; the predicate-pushdown
# showcase (all three predicates reach the parquet scan).
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _gridsum(
                F.col("l_extendedprice") * F.col("l_discount"), 10000, 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q06_SQL = f"""
SELECT {_sql_gridsum("l_extendedprice * l_discount", 10000, 2)} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# q07 — multi-way dim join + ROLLUP over the region -> nation -> year
# hierarchy: revenue at every level of the hierarchy plus grand total.
# (Absorbs the former q02 region-revenue join chain: same broadcast-dim
# pipeline, now with subtotal semantics on top.)
# Scale: region/nation/customer are dims -> broadcast chain onto the
# orders fact; rollup expands each row 4x but the shuffle still carries
# only #groups x #tasks partial rows.
def q07_rollup_region_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "r_name",
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_totalprice",
        )
        .rollup("r_name", "n_name", "o_year")
        .agg(
            _gridsum(F.col("o_totalprice"), 100, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


Q07_SQL = f"""
SELECT r_name, n_name, o_year,
       {_sql_gridsum("o_totalprice", 100, 2)} AS revenue,
       count(*)                    AS n_orders
FROM (
  SELECT r_name, n_name, CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
)
GROUP BY ROLLUP (r_name, n_name, o_year)
"""


# --------------------------------------------------------------------------
# q08 — CUBE over (mktsegment, orderstatus) via the DataFrame .cube API,
# UNION ALL'd with explicit GROUPING SETS + grouping_id over
# (orderstatus)/(orderpriority)/() via SQL (the former q26) — one query
# covering both grouped-analytics surfaces, disambiguated by src + gid.
def q08_cube_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cube_part = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderstatus", "o_totalprice")
        .cube("c_mktsegment", "o_orderstatus")
        .agg(
            _gridsum(F.col("o_totalprice"), 100, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.lit("cube").alias("src"),
            "c_mktsegment",
            "o_orderstatus",
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("int").alias("gid"),
            "revenue",
            "n_orders",
        )
    )
    o.createOrReplaceTempView("_q08_orders")
    gsets_part = spark.sql(
        """
        SELECT 'gsets' AS src,
               CAST(NULL AS STRING) AS c_mktsegment,
               o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT)
                 AS gid,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS revenue,
               count(*) AS n_orders
        FROM _q08_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
    return cube_part.unionByName(gsets_part)


Q08_SQL = f"""
SELECT 'cube' AS src, c_mktsegment, o_orderstatus,
       CAST(NULL AS VARCHAR) AS o_orderpriority,
       CAST(NULL AS INT) AS gid,
       {_sql_gridsum("o_totalprice", 100, 2)} AS revenue,
       count(*)                    AS n_orders
FROM (
  SELECT c_mktsegment, o_orderstatus, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
)
GROUP BY CUBE (c_mktsegment, o_orderstatus)
UNION ALL
SELECT 'gsets' AS src, CAST(NULL AS VARCHAR) AS c_mktsegment,
       o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# q09 — top-k per group via ranking window: 3 priciest parts per brand,
# annotated with the full ranking-function battery (ntile / percent_rank
# / cume_dist / dense_rank — the former q31) over the SAME window spec,
# so the whole battery shares one sort in one WindowExec (one shuffle).
# The (price DESC, partkey ASC) ordering is total, so every ranking
# function is deterministic.
def q09_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.row_number().over(w).cast("int").alias("rk"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            (F.floor(F.percent_rank().over(w) * 10000.0) / 10000.0).alias("pct_rank"),
            (F.floor(F.cume_dist().over(w) * 10000.0) / 10000.0).alias("cume"),
            F.dense_rank().over(w).cast("int").alias("drank"),
        )
        .where(F.col("rk") <= 3)
    )


Q09_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rk, quartile, pct_rank, cume, drank
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         CAST(row_number() OVER w AS INT) AS rk,
         CAST(ntile(4) OVER w AS INT) AS quartile,
         floor(percent_rank() OVER w * 10000.0) / 10000.0 AS pct_rank,
         floor(cume_dist() OVER w * 10000.0) / 10000.0 AS cume,
         CAST(dense_rank() OVER w AS INT) AS drank
  FROM part
  WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)
)
WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# q10 — analytic window-frame + lag/lead battery over one window sort:
# per-customer running revenue total (UNBOUNDED PRECEDING frame) plus
# prev/next order price and day gaps (the former q11). Same partition
# key + ordering for every function -> Catalyst plans ONE Exchange and
# one sort shared by the frame and the offset functions.
def q10_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    prev_date = F.lag("o_orderdate").over(wo)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("running_revenue"),
        F.lag("o_totalprice").over(wo).alias("prev_price"),
        F.lead("o_totalprice").over(wo).alias("next_price"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("int").alias("gap_days"),
    )


Q10_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / 100.0
         AS running_revenue,
       lag(o_totalprice)  OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(date_diff('day',
                      lag(o_orderdate) OVER w,
                      o_orderdate) AS INT) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------------------------------------
# q12 — semi/anti-join battery, united with tags: customer activity per
# nation (semi + anti on customer->orders) AND late-shipment order counts
# per priority (a correlated-EXISTS semi over lineitem->orders, the
# former q04). Scale: each semi/anti shuffles only the probe keys; the
# final aggs are tiny.
# Source routing: customer arrives through the ORC reader and orders
# through the schema'd JSON reader (load_table_via) while the oracle
# reads the original parquet — this registry row is the driver-level
# correctness check for the non-parquet scan paths (round-trip unit
# tests alone don't hash-compare against an independent engine).
def q12_semi_anti_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table_via(spark, sf_dir, "customer", "orc")
    o = load_table_via(spark, sf_dir, "orders", "json")
    li = load_table(spark, sf_dir, "lineitem")
    ok = o.select("o_custkey")
    active = (
        c.join(ok, c.c_custkey == ok.o_custkey, "left_semi")
        .groupBy(F.col("c_nationkey").cast("string").alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("status", F.lit("active"))
    )
    inactive = (
        c.join(ok, c.c_custkey == ok.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("string").alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("status", F.lit("inactive"))
    )
    late = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).where(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"))
    late_exists = (
        o.join(
            late.select("l_orderkey").distinct(),
            o.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("status", F.lit("late_exists"))
    )
    return active.unionByName(inactive).unionByName(late_exists)


Q12_SQL = """
SELECT CAST(c_nationkey AS VARCHAR) AS grp, count(*) AS n_rows, 'active' AS status
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey
UNION ALL
SELECT CAST(c_nationkey AS VARCHAR) AS grp, count(*) AS n_rows, 'inactive' AS status
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey
UNION ALL
SELECT o_orderpriority AS grp, count(*) AS n_rows, 'late_exists' AS status
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q13 — set-operation battery: DISTINCT set semantics (INTERSECT /
# EXCEPT: nation keys by who has customers vs suppliers) united with the
# ALL bag-semantics variants (INTERSECT ALL / EXCEPT ALL multiplicity
# counts, the former q27), each branch tagged via src. n carries the
# multiplicity for ALL branches and literal 1 for the distinct branches.
def q13_setops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    one = F.lit(1).cast("bigint").alias("n")
    both = c.intersect(s).select("nationkey", one).withColumn("src", F.lit("both"))
    cust_only = (
        c.distinct()
        .exceptAll(s.distinct())
        .select("nationkey", one)
        .withColumn("src", F.lit("customer_only"))
    )
    supp_only = (
        s.distinct()
        .exceptAll(c.distinct())
        .select("nationkey", one)
        .withColumn("src", F.lit("supplier_only"))
    )
    inter_all = (
        c.intersectAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("src", F.lit("intersect_all"))
    )
    except_all = (
        c.exceptAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("src", F.lit("except_all"))
    )
    return (
        both.unionByName(cust_only)
        .unionByName(supp_only)
        .unionByName(inter_all)
        .unionByName(except_all)
    )


Q13_SQL = """
SELECT nationkey, CAST(1 AS BIGINT) AS n, 'both' AS src
FROM (SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, CAST(1 AS BIGINT) AS n, 'customer_only' AS src
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, CAST(1 AS BIGINT) AS n, 'supplier_only' AS src
FROM (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
      EXCEPT
      SELECT DISTINCT c_nationkey FROM customer)
UNION ALL
SELECT nationkey, count(*) AS n, 'intersect_all' AS src
FROM (SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey FROM supplier)
GROUP BY nationkey
UNION ALL
SELECT nationkey, count(*) AS n, 'except_all' AS src
FROM (SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey FROM supplier)
GROUP BY nationkey
"""


# --------------------------------------------------------------------------
# q14 — distinct aggregation: per-supplier distinct parts + volume.
def q14_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        _gridsum(F.col("l_quantity"), 100, 2).alias("total_qty"),
    )


Q14_SQL = f"""
SELECT l_suppkey,
       count(DISTINCT l_partkey)   AS n_parts,
       {_sql_gridsum("l_quantity", 100, 2)}   AS total_qty
FROM lineitem
GROUP BY l_suppkey
"""


# --------------------------------------------------------------------------
# q15 — conditional aggregation (TPC-H Q12 shape) + null-semantics
# battery in one grouped agg over lineitem JOIN orders. The reference
# has NO null handling at all (SURVEY §1.2 — malformed input kills the
# task); this pins the engine's ANSI behavior alongside the CASE
# counting: count(*) vs count(col) (null-skipping), nullif-derived
# nulls, distinct-over-nullable, coalesce, three-valued CASE logic.
# Grouping keys include the nullable nullif-derived status_n, pinning
# GROUP BY-with-NULL-key semantics (NULL keys form their own group in
# both engines) — coverage the former q23 carried before the merge.
def q15_conditional_null_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    big_price = F.when(F.col("o_totalprice") > 100000.0, F.col("o_totalprice"))
    status_n = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_returnflag", "o_orderpriority", big_price.alias("big_price"), status_n.alias("status_n"))
        .groupBy("l_returnflag", "status_n")
        .agg(
            F.sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).cast("bigint").alias("low_line_count"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("big_price").alias("n_big"),  # count(col) skips nulls
            F.countDistinct("status_n").alias("n_status"),  # distinct ignores null
            F.sum(F.col("big_price").isNull().cast("int")).cast("bigint").alias("n_null_big"),
            _gridsum(F.coalesce(F.col("big_price"), F.lit(0.0)), 100, 2).alias("total_big"),
        )
    )


Q15_SQL = f"""
SELECT l_returnflag, status_n,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count,
       count(*) AS n_rows,
       count(big_price) AS n_big,
       count(DISTINCT status_n) AS n_status,
       CAST(sum(CASE WHEN big_price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_big,
       {_sql_gridsum("coalesce(big_price, 0.0)", 100, 2)} AS total_big
FROM (
  SELECT l_returnflag, o_orderpriority,
         CASE WHEN o_totalprice > 100000.0 THEN o_totalprice END AS big_price,
         nullif(o_orderstatus, 'P') AS status_n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY l_returnflag, status_n
"""


# --------------------------------------------------------------------------
# q16 — string + regex function battery over part: upper/substring/
# length/concat_ws alongside regexp_extract and rlike (the former q25;
# Java regex and DuckDB's RE2 agree on this pattern class). is_budget
# joins the grouping keys so the regex result shapes the output groups.
def q16_string_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    brand_num = F.regexp_extract(F.col("p_brand"), "Brand#([0-9]+)", 1).cast("int")
    return (
        p.select(
            F.upper(F.col("p_type")).alias("type_upper"),
            F.substring(F.col("p_name"), 1, 4).alias("name_prefix"),
            F.col("p_type").rlike("^(ECONOMY|PROMO)").alias("is_budget"),
            F.length(F.col("p_name")).cast("int").alias("name_len"),
            F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            brand_num.alias("brand_num"),
            F.col("p_retailprice"),
        )
        .groupBy("type_upper", "name_prefix", "is_budget")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("name_len").cast("int").alias("max_name_len"),
            F.countDistinct("brand_type").alias("n_brand_types"),
            F.max("brand_num").cast("int").alias("max_brand_num"),
            _gridavg(F.col("p_retailprice"), 100, 4).alias("avg_price"),
        )
    )


Q16_SQL = f"""
SELECT upper(p_type)        AS type_upper,
       substr(p_name, 1, 4) AS name_prefix,
       regexp_matches(p_type, '^(ECONOMY|PROMO)') AS is_budget,
       count(*)             AS n,
       CAST(max(length(p_name)) AS INT)            AS max_name_len,
       count(DISTINCT p_brand || '|' || p_type)    AS n_brand_types,
       CAST(max(CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INT)) AS INT)
         AS max_brand_num,
       {_sql_gridavg("p_retailprice", 100, 4)}     AS avg_price
FROM part
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# q17 — date functions: monthly revenue trend.
def q17_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
        )
        .agg(
            _gridsum(F.col("o_totalprice"), 100, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


Q17_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       {_sql_gridsum("o_totalprice", 100, 2)} AS revenue,
       count(*)                    AS n_orders
FROM orders
GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE)
"""


# --------------------------------------------------------------------------
# q18 — JSON extraction from the events props column.
def q18_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", (k % 10).alias("k_bucket"), "value")
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _gridsum(F.col("value"), 100, 2).alias("total_value"),
        )
    )


Q18_SQL = f"""
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*)                   AS n,
       {_sql_gridsum("value", 100, 2)}       AS total_value
FROM events
GROUP BY event_type, CAST(json_extract_string(props, '$.k') AS INT) % 10
"""


# --------------------------------------------------------------------------
# q19 — batch sessionization: gap > 30 min starts a new session; emit
# sessions-per-user histogram. Window lag + running sum of boundaries —
# the classic shuffle-once sessionization (pyspark_guide 'Sessionization').
def q19_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_timestamp, not cast("long"): valid on TIMESTAMP and
    # TIMESTAMP_NTZ alike (Spark 4 refuses NTZ -> BIGINT casts), so the
    # gap math holds even for a frame that bypassed reader normalization
    ts_s = F.unix_timestamp(F.col("ts"))
    gap = ts_s - F.lag(ts_s).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.select(
        "user_id",
        F.sum(is_new)
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_id"),
    )
    per_user = sess.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions")
    )
    return per_user.groupBy("n_sessions").agg(
        F.count(F.lit(1)).alias("n_users")
    )


Q19_SQL = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per_user AS (
  SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
  FROM marked GROUP BY user_id
)
SELECT n_sessions, count(*) AS n_users
FROM per_user
GROUP BY n_sessions
"""


# --------------------------------------------------------------------------
# q20 — pivot + unpivot roundtrip in ONE plan: daily counts per event
# type widened to columns (pivot), then melted back to long form
# (unpivot/melt, the former q29) and filtered to observed cells. Both
# reshaping operators are exercised and the result is oracle-checkable
# as a plain grouped count.
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q20_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.to_date(F.col("ts")).alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )
    return wide.unpivot("day", _EVENT_TYPES, "event_type", "n").where(
        F.col("n") > 0
    )


Q20_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q21 — TPC-H Q13 shape: customer order-count distribution (left outer
# join + two-level aggregation).
def q21_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q21_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# q22 — subquery battery: TPC-H Q22 shape (scalar subquery global
# average + anti join: wealthy inactive customers per nation) united
# with a correlated per-group scalar subquery (parts priced above their
# own brand's average, the former q32 — decorrelated by Catalyst into a
# join under the hood). Both averages are exact (grid-decimal sums, see
# module doc) so the filter boundaries are engine-identical. The q22
# scalar is a driver fetch of ONE double (scale-fine); the correlated
# branch stays fully declarative to exercise the decorrelation path.
def q22_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
                / 100.0
                / F.count(F.lit(1))
            ).alias("a")
        )
        .first()["a"]
    )
    wealthy = (
        c.where(F.col("c_acctbal") > avg_bal)
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("string").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _gridsum(F.col("c_acctbal"), 100, 2).alias("val"),
        )
        .select(F.lit("wealthy_inactive").alias("src"), "grp", "n", "val")
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_q22_part")
    premium = spark.sql(
        """
        SELECT 'brand_premium' AS src, p_brand AS grp, count(*) AS n,
               CAST(NULL AS DOUBLE) AS val
        FROM _q22_part p
        WHERE p_retailprice > (
            SELECT CAST(sum(CAST(round(p2.p_retailprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 / count(*)
            FROM _q22_part p2 WHERE p2.p_brand = p.p_brand
        )
        GROUP BY p_brand
        """
    )
    return wealthy.unionByName(premium)


Q22_SQL = f"""
SELECT 'wealthy_inactive' AS src, CAST(c_nationkey AS VARCHAR) AS grp,
       count(*) AS n,
       {_sql_gridsum("c_acctbal", 100, 2)} AS val
FROM customer
WHERE c_acctbal > (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / count(*)
        FROM customer WHERE c_acctbal > 0.0
      )
  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey
UNION ALL
SELECT 'brand_premium' AS src, p_brand AS grp, count(*) AS n,
       CAST(NULL AS DOUBLE) AS val
FROM part p
WHERE p_retailprice > (
    SELECT CAST(sum(CAST(round(p2.p_retailprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 / count(*)
    FROM part p2 WHERE p2.p_brand = p.p_brand
)
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# q24 — quantiles + statistical aggregates in one grouped pass over
# lineitem:
# - exact percentiles (linear interpolation — same convention in Spark's
#   percentile() and DuckDB's quantile_cont), restricted to the
#   integer-valued quantity column so interpolated midpoints are exact
#   binary values (engine-identical without truncation);
# - stddev/corr from EXACT integer moments (the former q33): built-in
#   stddev/corr accumulate doubles in engine-specific order, so the raw
#   moments (sum x, sum x^2, sum x*y) are accumulated EXACTLY over the
#   decimal grid and the textbook formulas applied in identical op order.
# Moment sums use DECIMAL, not BIGINT: p*p is ~1e14 per row, so BIGINT
# per-group sums overflow int64 (~9.2e18) around sf~1 — Spark would wrap
# silently (non-ANSI) while DuckDB promotes to HUGEINT. decimal(12,0)
# inputs give products decimal(25,0) and sums decimal(35,0) — exact to
# ~1e35, i.e. past 100 TB scale, matching DuckDB's HUGEINT oracle.
def q24_quantiles_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("long")  # quantity is integer-grid
    p = F.round(F.col("l_extendedprice") * 100).cast("long")  # cents
    qd = q.cast("decimal(12,0)")
    pd_ = p.cast("decimal(12,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("l_quantity", 0.5).alias("p50_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(qd).alias("sq_d"),
        F.sum(qd * qd).alias("sqq_d"),
        F.sum(pd_).alias("sp_d"),
        F.sum(pd_ * pd_).alias("spp_d"),
        F.sum(qd * pd_).alias("sqp_d"),
    )
    n = F.col("n").cast("double")
    sq = F.col("sq_d").cast("double")
    sqq = F.col("sqq_d").cast("double")
    sp = F.col("sp_d").cast("double") / 100.0
    spp = F.col("spp_d").cast("double") / 10000.0
    sqp = F.col("sqp_d").cast("double") / 100.0
    var_q = (sqq - sq * sq / n) / (n - 1.0)
    var_p = (spp - sp * sp / n) / (n - 1.0)
    cov = (sqp - sq * sp / n) / (n - 1.0)
    corr = cov / (F.sqrt(var_q) * F.sqrt(var_p))
    return agg.select(
        "l_returnflag",
        "n",
        "p50_qty",
        "p90_qty",
        "min_qty",
        "max_qty",
        (F.floor(F.sqrt(var_q) * 10000.0) / 10000.0).alias("stddev_qty"),
        (F.floor(F.sqrt(var_p) * 100.0) / 100.0).alias("stddev_price"),
        (F.floor(corr * 1000000.0) / 1000000.0).alias("corr_qty_price"),
    )


Q24_SQL = """
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       p50_qty, p90_qty, min_qty, max_qty,
       floor(sqrt((sqq - sq * sq / n) / (n - 1.0)) * 10000.0) / 10000.0
         AS stddev_qty,
       floor(sqrt((spp - sp * sp / n) / (n - 1.0)) * 100.0) / 100.0
         AS stddev_price,
       floor(((sqp - sq * sp / n) / (n - 1.0))
             / (sqrt((sqq - sq * sq / n) / (n - 1.0))
                * sqrt((spp - sp * sp / n) / (n - 1.0))) * 1000000.0) / 1000000.0
         AS corr_qty_price
FROM (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         quantile_cont(l_quantity, 0.5) AS p50_qty,
         quantile_cont(l_quantity, 0.9) AS p90_qty,
         min(l_quantity) AS min_qty,
         max(l_quantity) AS max_qty,
         CAST(sum(q) AS DOUBLE) AS sq,
         CAST(sum(q * q) AS DOUBLE) AS sqq,
         CAST(sum(p) AS DOUBLE) / 100.0 AS sp,
         CAST(sum(p * p) AS DOUBLE) / 10000.0 AS spp,
         CAST(sum(q * p) AS DOUBLE) / 100.0 AS sqp
  FROM (
    SELECT l_returnflag, l_quantity,
           CAST(round(l_quantity) AS BIGINT) AS q,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS p
    FROM lineitem
  )
  GROUP BY l_returnflag
)
"""


# --------------------------------------------------------------------------
# q28 — full outer join: per-nation customer vs supplier account
# balances, keeping nations with only one side present.
def q28_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(_gridsum(F.col("c_acctbal"), 100, 2).alias("cust_bal"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(_gridsum(F.col("s_acctbal"), 100, 2).alias("supp_bal"))
    )
    return c.join(s, c.nk_c == s.nk_s, "full_outer").select(
        F.coalesce(F.col("nk_c"), F.col("nk_s")).alias("nationkey"),
        "cust_bal",
        "supp_bal",
        F.col("nk_c").isNull().alias("customer_missing"),
        F.col("nk_s").isNull().alias("supplier_missing"),
    )


Q28_SQL = f"""
SELECT coalesce(nk_c, nk_s) AS nationkey,
       cust_bal, supp_bal,
       nk_c IS NULL AS customer_missing,
       nk_s IS NULL AS supplier_missing
FROM (SELECT c_nationkey AS nk_c, {_sql_gridsum("c_acctbal", 100, 2)} AS cust_bal
      FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nk_s, {_sql_gridsum("s_acctbal", 100, 2)} AS supp_bal
      FROM supplier GROUP BY s_nationkey) s
  ON nk_c = nk_s
"""


# --------------------------------------------------------------------------
# q30 — posexplode (generator with ordinality): per-position stats over
# the embedding vectors (mean per dimension across the corpus).
def q30_posexplode_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum(F.col("v").cast("double")) * 10000.0 / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("dim_mean"),
        )
    )


Q30_SQL = """
SELECT CAST(u.i - 1 AS INT) AS dim,
       count(*) AS n,
       floor(sum(CAST(embedding[u.i] AS DOUBLE)) * 10000.0 / count(*)) / 10000.0
         AS dim_mean
FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
GROUP BY u.i
"""


# The 22 entries above open the registry (__spark_entry__._entries()).
# 11 former standalone queries were merged into batteries in round 2 so
# the driver's 50-entry CORRECTNESS window holds windows, advanced joins
# and K-Means too; every merged battery still exercises each original
# operator and oracle.


# --------------------------------------------------------------------------
# q40 — RFM customer segmentation: quartile-code every ordering
# customer on Recency (days since their last order, against the
# corpus's max order date), Frequency (order count) and Monetary
# (cents-grid revenue), emit the 64-cell segment histogram. The
# deliberate design choice is CUTPOINT BUCKETING, not ntile(4): a
# global ntile needs one totally-ordered window (SinglePartition — the
# scale-killer), while three exact percentile cutpoints are one scalar
# aggregate each, broadcast as literals into a map-side CASE — the
# same shape at any customer count.
#
# Cross-engine safety of the cutpoint compare: R/F/M are exact
# INTEGERS. Spark's percentile and DuckDB's quantile_cont share the
# p*(n-1) linear-interpolation definition; when the rank is integral
# the cutpoint IS a data value (double-exact, both engines return it
# bit-equal), and when it interpolates it lies strictly BETWEEN two
# integers, where a last-ulp formula difference (the j05 caveat) can
# never flip an integer <= cutpoint comparison.
def q40_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("m_cents"),
    )
    anchor = per_cust.agg(F.max("last_d")).first()[0]
    per_cust = per_cust.withColumn(
        "r_days", F.datediff(F.lit(anchor), F.col("last_d")).cast("bigint")
    )
    cuts = per_cust.agg(
        F.percentile("r_days", F.lit([0.25, 0.5, 0.75])).alias("rc"),
        F.percentile("f", F.lit([0.25, 0.5, 0.75])).alias("fc"),
        F.percentile("m_cents", F.lit([0.25, 0.5, 0.75])).alias("mc"),
    ).first()

    def code(col, c, invert=False):
        # quartile 1..4; recency inverts (small r_days = best = 4)
        q = (
            F.when(F.col(col) <= c[0], 1)
            .when(F.col(col) <= c[1], 2)
            .when(F.col(col) <= c[2], 3)
            .otherwise(4)
        )
        return (F.lit(5) - q) if invert else q

    seg = F.concat(
        F.lit("R"), code("r_days", cuts.rc, invert=True),
        F.lit("F"), code("f", cuts.fc),
        F.lit("M"), code("m_cents", cuts.mc),
    )
    return (
        per_cust.select(seg.alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


Q40_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_d,
         CAST(count(*) AS BIGINT) AS f,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m_cents
  FROM orders GROUP BY o_custkey
),
rdays AS (
  SELECT *,
         CAST(date_diff('day', last_d,
                        (SELECT max(last_d) FROM per_cust)) AS BIGINT)
           AS r_days
  FROM per_cust
),
cuts AS (
  SELECT quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5) AS r2,
         quantile_cont(r_days, 0.75) AS r3,
         quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
         quantile_cont(f, 0.75) AS f3,
         quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5) AS m2,
         quantile_cont(m_cents, 0.75) AS m3
  FROM rdays
),
coded AS (
  SELECT 'R' ||
         (5 - CASE WHEN r_days <= r1 THEN 1 WHEN r_days <= r2 THEN 2
                   WHEN r_days <= r3 THEN 3 ELSE 4 END) ||
         'F' ||
         CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2
              WHEN f <= f3 THEN 3 ELSE 4 END ||
         'M' ||
         CASE WHEN m_cents <= m1 THEN 1 WHEN m_cents <= m2 THEN 2
              WHEN m_cents <= m3 THEN 3 ELSE 4 END AS segment
  FROM rdays, cuts
)
SELECT segment, CAST(count(*) AS BIGINT) AS n_customers
FROM coded GROUP BY segment
"""
