"""Plan-shape pins: the properties that make these queries scale —
pushdown reaching the parquet scan, column pruning, broadcast joins for
dims, map-side partial aggregation — asserted on the optimized physical
plans so a regression is a test failure, not a silent 100 TB slowdown."""

from __future__ import annotations

import re

import pytest

from kmeanwithmapreduce_spark.operators import relational as R
from kmeanwithmapreduce_spark.plans import explain_str
from kmeanwithmapreduce_spark.plans.inspect import count_nodes


def test_q06_pushdown_and_pruning(spark, sf_dir):
    plan = explain_str(R.q06_forecast_revenue(spark, sf_dir))
    # all three range predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: only the 4 needed columns are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4, m.group(1) if m else plan


def test_q01_partial_aggregation(spark, sf_dir):
    plan = explain_str(R.q01_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert count_nodes(plan, "Exchange") == 1  # exactly one shuffle (the groupBy)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q07_broadcasts_all_dims(spark, sf_dir):
    plan = explain_str(R.q07_rollup_region_nation_year(spark, sf_dir))
    assert count_nodes(plan, "BroadcastHashJoin") == 3  # customer, nation, region
    assert "SortMergeJoin" not in plan
    assert "Expand" in plan  # rollup grouping-set expansion


def test_q10_battery_single_window_exchange(spark, sf_dir):
    # running-total frame + lag/lead share one partitioning: one Exchange,
    # one Window node — merging q11 into q10 must not add a shuffle.
    plan = explain_str(R.q10_running_total(spark, sf_dir))
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "Window") == 1


def test_q05_single_fact_shuffle(spark, sf_dir):
    plan = explain_str(R.q05_local_supplier_volume(spark, sf_dir))
    # dims broadcast; the only sort-merge/shuffle join is lineitem-orders
    assert count_nodes(plan, "BroadcastHashJoin") >= 4
    assert count_nodes(plan, "Exchange") <= 3  # fact-fact join + agg


def test_q03_topk_no_global_sort(spark, sf_dir):
    plan = explain_str(R.q03_shipping_priority(spark, sf_dir))
    # orderBy+limit compiles to TakeOrderedAndProject, not a full Sort
    assert "TakeOrderedAndProject" in plan


def test_q09_window_single_shuffle(spark, sf_dir):
    plan = explain_str(R.q09_topk_parts_per_brand(spark, sf_dir))
    assert count_nodes(plan, "Exchange") == 1  # one hash partition by p_brand
    assert "Window" in plan


def test_kmeans_iteration_plan(spark, sf_dir):
    """One K-Means iteration = scan + project(argmin) + partial agg +
    k-row shuffle + final agg. No join, no extra exchange: the centroids
    ride the plan as one array value via a scalar subquery."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.kmeans.core import assign

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    feats = li.select(
        F.array("l_quantity", "l_discount").cast("array<float>").alias("features")
    )
    cents = [[1.0, 0.0], [30.0, 0.1]]
    agg = (
        assign(feats, cents)
        .groupBy("cluster")
        .agg(F.avg(F.col("features")[0]), F.count(F.lit(1)))
    )
    plan = explain_str(agg)
    assert "partial_avg" in plan or "partial_sum" in plan
    assert count_nodes(plan, "Exchange") == 1
    assert "Join" not in plan  # one array value via a scalar subquery, not a join
    assert "BatchEvalPython" not in plan  # no Python in the hot path


def test_d05_distributed_no_driver_collect(spark, sf_dir):
    """d05 is a block-pair cogrouped GEMM: the corpus must never
    materialize on the driver (round-1 regression), and the plan must be
    the cogroup shape with both sides shuffled by block id."""
    import inspect

    from kmeanwithmapreduce_spark.operators import dedup as D

    src = inspect.getsource(D.d05_embedding_neardup_pairs)
    assert ".collect()" not in src and "toPandas" not in src
    plan = explain_str(D.d05_embedding_neardup_pairs(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan  # no full-corpus broadcast either


def test_no_python_udfs_in_relational_plans(spark, sf_dir):
    import __spark_entry__ as entry

    relational = entry._entries()[:22]  # q01-q30: the relational family
    assert len(relational) == 22
    assert {fn.__module__ for fn, _sql in relational} == {R.__name__}
    for fn, _sql in relational:
        plan = explain_str(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__


def test_j04_chunked_plan(spark, sf_dir):
    """Whale-safe as-of merge: purchase filter pushed into the parquet
    scan of the carry branch, exactly one bounded-group applyInPandas,
    one carry-in window, and no broadcast of the (potentially huge)
    events relation."""
    from kmeanwithmapreduce_spark.operators.joins_advanced import (
        j04_asof_merge_grouped,
    )

    plan = explain_str(j04_asof_merge_grouped(spark, sf_dir))
    assert "EqualTo(event_type,purchase)" in plan  # pushed to scan
    assert count_nodes(plan, "FlatMapGroupsInPandas") == 1
    assert count_nodes(plan, "Window") == 1
    # the carry joins are keyed equi-joins on (user_id, chunk) — any
    # nested-loop/cartesian shape here would be quadratic in events
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_registry_wide_plan_hygiene(spark):
    """Every registry entry (all 78: frozen window + extensions) obeys
    the two invariants that hold with NO exceptions across the whole
    surface: no CartesianProduct (a conditionless non-broadcast cross —
    the O(N*M) scale-killer; broadcast nested-loops with a tiny build
    side are legitimate and NOT banned), and no BatchEvalPython (a
    row-at-a-time Python UDF in the plan; Arrow-batched pandas UDFs
    plan as ArrowEvalPython/MapInPandas and are the sanctioned path).
    Per-query pins elsewhere cover the sharper properties (pushdown,
    single-Exchange windows, broadcast choice); this sweep is the
    safety net that covers every FUTURE entry by construction.

    Runs at sf0.001 because the eager entries (k01-k03, g01, s03-s05,
    t06, m03) execute their fits/censuses while building the frame."""
    import __spark_entry__ as entry
    from conftest import SF_DIR_001

    for name, fn in entry.queries().items():
        plan = explain_str(fn(spark, SF_DIR_001))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q40_rfm_hand_computed(spark):
    """4 customers engineered onto distinct quartiles of every
    dimension; recency inverts (most recent buyer = R4). With n=4,
    quartile cutpoints hit p*(n-1) ranks 0.75/1.5/2.25 — the
    interpolating case the integer-compare safety argument covers."""
    from datetime import date

    from kmeanwithmapreduce_spark.operators import relational as R

    rows = []
    # cust 1: 1 order, oldest, small spend -> R1 F1 M1
    rows += [(1, date(2024, 1, 1), 10.0)]
    # cust 2: 2 orders, newer, mid spend -> R2 F2 M2
    rows += [(2, date(2024, 2, 1), 20.0), (2, date(2024, 2, 10), 20.0)]
    # cust 3: 3 orders -> R3 F3 M3
    rows += [(3, date(2024, 3, 1), 30.0)] * 2 + [(3, date(2024, 3, 10), 30.0)]
    # cust 4: 4 orders, most recent, biggest spend -> R4 F4 M4
    rows += [(4, date(2024, 4, 1), 40.0)] * 3 + [(4, date(2024, 4, 10), 40.0)]
    o = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date, o_totalprice double"
    )
    orig = R.load_table
    try:
        R.load_table = lambda s, d, t: o
        got = {
            r.segment: r.n_customers
            for r in R.q40_rfm_segments(spark, "ignored").collect()
        }
    finally:
        R.load_table = orig
    assert got == {"R1F1M1": 1, "R2F2M2": 1, "R3F3M3": 1, "R4F4M4": 1}


def test_q40_no_global_sort_window(spark, sf_dir):
    """The whole point vs ntile(4): no SinglePartition window — the
    cutpoints are scalar aggregates, the coding is map-side."""
    from kmeanwithmapreduce_spark.operators import relational as R
    from kmeanwithmapreduce_spark.plans import explain_str

    plan = explain_str(R.q40_rfm_segments(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
