"""Temporal/interval operators (operators/temporal.py): the binned
range join's equivalence to the nested-loop form and its scale-shape
plan pin, plus hand-computed sweep-line and island-coalescing cases.
DuckDB value parity for all three registry entries is covered by the
ORACLE_CASES sweep in test_oracle_parity.py."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators import temporal as T
from kmeanwithmapreduce_spark.operators.joins_advanced import (
    j02_range_join_campaigns,
)
from kmeanwithmapreduce_spark.plans import explain_str


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_j06_equals_j02(spark, sf_dir):
    """The binned equi-join must reproduce the nested-loop interval join
    row for row — same oracle, different physical plan."""
    assert _sorted_rows(T.j06_range_join_binned(spark, sf_dir)) == _sorted_rows(
        j02_range_join_campaigns(spark, sf_dir)
    )


def test_j06_plan_is_equi_join_not_nested_loop(spark, sf_dir):
    """The whole point of j06: no BroadcastNestedLoopJoin anywhere. The
    join must be hash-based on the bucket key so a large build side
    degrades to SMJ/shuffle-hash instead of O(N x M)."""
    plan = explain_str(T.j06_range_join_binned(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # an actual (equi) join is present


def test_range_join_binned_bucket_size_invariant(spark, sf_dir):
    """Results are a pure function of the interval predicate — the
    bucket width only re-shapes the plan (replication vs residual
    selectivity), never the answer."""
    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    camp = spark.createDataFrame(
        T._CAMPAIGNS, "campaign_id int, start_ts timestamp, end_ts timestamp"
    )
    base = _sorted_rows(
        T.range_join_binned(e, camp).select("event_id", "campaign_id")
    )
    for bucket in (3600, 6 * 3600, 7 * 86400):
        got = _sorted_rows(
            T.range_join_binned(e, camp, bucket_seconds=bucket).select(
                "event_id", "campaign_id"
            )
        )
        assert got == base, f"bucket_seconds={bucket} changed the result"


def test_range_join_binned_exclusive_end_boundary(spark):
    """Half-open semantics at the exact end instant, including an end
    timestamp precisely on a bucket edge (the -1s correction's target:
    an event AT end_ts must not match, one microsecond before must)."""
    day = datetime(2024, 3, 1)
    events = spark.createDataFrame(
        [
            (1, day),                                   # == start: in
            (2, day + timedelta(days=2)),               # inside: in
            (3, day + timedelta(days=3)),               # == end: OUT
            (4, day + timedelta(days=3, microseconds=-1)),  # end-1us: in
            (5, day + timedelta(days=-1)),              # before: out
        ],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(7, day, day + timedelta(days=3))],
        "campaign_id int, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        r.event_id for r in T.range_join_binned(events, iv).select("event_id").collect()
    )
    assert got == [1, 2, 4]


def test_q31_hand_computed(spark):
    """3 users: one with 3 mutually-overlapping events, one whose two
    events touch exactly at the 30-min boundary (NOT concurrent — the
    close-before-open tie rule), one singleton."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: starts at 0, +10min, +20min -> all 3 open at +20min
        (1, 1, t0), (2, 1, t0 + timedelta(minutes=10)),
        (3, 1, t0 + timedelta(minutes=20)),
        # user 2: second event starts exactly when the first closes
        (4, 2, t0), (5, 2, t0 + timedelta(minutes=30)),
        # user 3: alone
        (6, 3, t0),
    ]
    e = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    orig = T.load_table
    try:
        T.load_table = lambda s, d, t: e  # the operator only reads events
        out = {
            r.max_concurrent: r.n_users
            for r in T.q31_concurrency_histogram(spark, "ignored").collect()
        }
    finally:
        T.load_table = orig
    assert out == {3: 1, 1: 2}


def test_q32_hand_computed(spark):
    """user 1: two overlapping + one separate event -> 2 islands,
    covered 50min + 30min; user 2: one event -> 1 island, 30min."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + timedelta(minutes=20)),   # overlaps 1 -> island [0, 50)
        (3, 1, t0 + timedelta(hours=3)),      # separate island
        (4, 2, t0),
    ]
    e = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    orig = T.load_table
    try:
        T.load_table = lambda s, d, t: e
        out = {
            r.user_id: (r.n_islands, r.covered_us)
            for r in T.q32_coalesced_intervals(spark, "ignored").collect()
        }
    finally:
        T.load_table = orig
    us = 60 * 1_000_000
    assert out == {1: (2, 50 * us + 30 * us), 2: (1, 30 * us)}


def test_q31_q32_single_user_window_partitioning(spark, sf_dir):
    """Scale pin: the sweep-line windows partition by user_id (bounded
    per-key state), never by event_type or globally (SinglePartition)."""
    for fn in (T.q31_concurrency_histogram, T.q32_coalesced_intervals):
        plan = explain_str(fn(spark, sf_dir))
        assert "SinglePartition" not in plan, fn.__name__


def test_range_join_binned_subsecond_end_at_bucket_edge(spark):
    """Review regression: an interval ending 0.5s AFTER a bucket edge
    must still cover events in that final fraction (second-truncating
    bucket math assigned the interval a last bucket one too early and
    silently dropped them)."""
    day = datetime(2024, 3, 1)
    end = day + timedelta(days=1, microseconds=500_000)  # midnight + 0.5s
    events = spark.createDataFrame(
        [
            (1, day + timedelta(days=1, microseconds=200_000)),  # in: < end
            (2, end),                                            # == end: out
            (3, day + timedelta(hours=12)),                      # in
        ],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(7, day, end)], "campaign_id int, start_ts timestamp, end_ts timestamp"
    )
    got = sorted(
        r.event_id
        for r in T.range_join_binned(events, iv).select("event_id").collect()
    )
    assert got == [1, 3]


def test_range_join_binned_inverted_interval_no_replication(spark):
    """Advisor regression: an empty/inverted interval (end <= start)
    covers no instant, but an unguarded F.sequence(first, last) would
    generate a DESCENDING bucket list and replicate the zero-match
    interval across |span| buckets. The guard must drop such intervals
    before the explode: zero output rows AND zero binned rows."""
    day = datetime(2024, 3, 1)
    events = spark.createDataFrame(
        [(1, day + timedelta(hours=6))], "event_id long, ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            # inverted: end 30 days BEFORE start
            (1, day, day - timedelta(days=30)),
            (2, day, day),  # empty: end == start
            (3, day, day + timedelta(days=1)),  # normal, matches
        ],
        "campaign_id int, start_ts timestamp, end_ts timestamp",
    )
    out = T.range_join_binned(events, iv).select("campaign_id").collect()
    assert sorted(r.campaign_id for r in out) == [3]
    # replication bound: total joined rows before residual filter is
    # observable via the matched campaign only — the inverted interval
    # must contribute 0 buckets, not 30
    binned = iv.where(F.col("end_ts") > F.col("start_ts"))
    assert binned.count() == 1


# --------------------------------------------------------------------------
# q33 gap-fill LOCF / q34 funnel


def _with_events(spark, rows, fn):
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    orig = T.load_table
    try:
        T.load_table = lambda s, d, t: e
        return fn()
    finally:
        T.load_table = orig


def test_q33_hand_computed(spark):
    """user 1: two same-day events (the LATER value wins the day), a
    one-day gap (filled from the prior day), a day whose last event has
    a NULL value (observed but LOCF skips it), then a fresh value.
    user 2: a single day."""
    from datetime import datetime, timedelta

    d1 = datetime(2024, 3, 1, 10, 0, 0)

    def day(n, hour=12):
        return d1 + timedelta(days=n, hours=hour - 10)

    rows = [
        (1, 1, "view", d1, 1.0),
        (2, 1, "click", d1 + timedelta(hours=1), 2.0),   # later -> wins day 0
        (3, 1, "view", day(2), None),                     # observed, null value
        (4, 1, "purchase", day(3), 7.0),
        (5, 2, "view", d1, 5.0),
    ]

    out = _with_events(
        spark, rows, lambda: T.q33_gapfill_locf(spark, "ignored").collect()
    )
    got = {(r.user_id, str(r.day)): (r.value_filled, r.observed) for r in out}
    assert got == {
        (1, "2024-03-01"): (2.0, 1),
        (1, "2024-03-02"): (2.0, 0),   # gap day: carried forward
        (1, "2024-03-03"): (2.0, 1),   # observed but null -> LOCF
        (1, "2024-03-04"): (7.0, 1),
        (2, "2024-03-01"): (5.0, 1),
    }


def test_q33_scale_plan(spark, sf_dir):
    """The grid explode and both windows stay partitioned by user —
    never a global calendar cross join or SinglePartition sort."""
    plan = explain_str(T.q33_gapfill_locf(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_q34_hand_computed(spark):
    """Ordering is what's under test: user 2's purchase PRECEDES their
    click, so they reach stage 3 but never stage 4; user 3 has the whole
    tail but no signup and counts nowhere; an equal-timestamp step
    (user 5) does not advance (strict >)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    h = timedelta(hours=1)
    rows = [
        # user 1: clean full funnel
        (1, 1, "signup", t0, None), (2, 1, "view", t0 + h, None),
        (3, 1, "click", t0 + 2 * h, None), (4, 1, "purchase", t0 + 3 * h, None),
        # user 2: purchase logged BEFORE the click
        (5, 2, "signup", t0, None), (6, 2, "view", t0 + h, None),
        (7, 2, "purchase", t0 + 2 * h, None), (8, 2, "click", t0 + 3 * h, None),
        # user 3: no signup
        (9, 3, "view", t0, None), (10, 3, "click", t0 + h, None),
        (11, 3, "purchase", t0 + 2 * h, None),
        # user 4: signup only
        (12, 4, "signup", t0, None),
        # user 5: purchase at exactly the click instant
        (13, 5, "signup", t0, None), (14, 5, "view", t0 + h, None),
        (15, 5, "click", t0 + 2 * h, None), (16, 5, "purchase", t0 + 2 * h, None),
    ]
    out = _with_events(spark, rows, lambda: T.q34_funnel(spark, "ignored").collect())
    got = {r.stage: (r.event_type, r.n_users) for r in out}
    assert got == {
        1: ("signup", 4),     # users 1, 2, 4, 5
        2: ("view", 3),       # users 1, 2, 5
        3: ("click", 3),      # users 1, 2, 5
        4: ("purchase", 1),   # user 1 only
    }


def test_q34_monotone_on_real_corpus(spark, sf_dir):
    """Funnel counts can only shrink stage to stage."""
    rows = sorted(
        (r.stage, r.n_users) for r in T.q34_funnel(spark, sf_dir).collect()
    )
    counts = [n for _, n in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


# --------------------------------------------------------------------------
# q35 rolling RANGE-interval frame / q36 cohort retention


def test_q35_hand_computed(spark):
    """The RANGE frame is a TIME bound, not a row bound: an event
    exactly 7 days back is inside the window (inclusive bound); one
    microsecond past it is out. Duplicate-timestamp peers are all
    included regardless of row order."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 10, 12, 0, 0)
    d = timedelta(days=1)
    us = timedelta(microseconds=1)
    rows = [
        (1, 1, "view", t0 - 8 * d, 1.0),          # > 7d before t0: out at t0
        (2, 1, "view", t0 - 7 * d, 2.0),          # exactly 7d: in at t0
        (3, 1, "view", t0 - 7 * d + us, 4.0),     # just inside
        (4, 1, "view", t0, 8.0),
        # user 2: two events at the SAME instant — peers see each other
        (5, 2, "view", t0, 1.5),
        (6, 2, "view", t0, 2.5),
    ]
    out = _with_events(
        spark, rows, lambda: T.q35_rolling_7day(spark, "ignored").collect()
    )
    got = {r.event_id: (r.n_7d, r.sum_value_7d) for r in out}
    assert got[1] == (1, 1.0)
    assert got[2] == (2, 3.0)       # #2's window [t0-14d, t0-7d] holds #1, #2
    assert got[3] == (3, 7.0)       # +1us slides the window over all three
    assert got[4] == (3, 14.0)      # events 2, 3, 4; event 1 aged out
    assert got[5] == (2, 4.0) and got[6] == (2, 4.0)


def test_q36_hand_computed(spark):
    """user 1 first-active in anchor week 0 and returns on day 8
    (offset week 1); user 2 first-active day 9 (cohort week 1), never
    returns; same-day repeat events collapse."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 9, 0, 0)  # anchor day
    d = timedelta(days=1)
    rows = [
        (1, 1, "view", t0, None),
        (2, 1, "view", t0 + timedelta(hours=2), None),  # same day, collapses
        (3, 1, "view", t0 + 8 * d, None),               # offset week 1
        (4, 2, "view", t0 + 9 * d, None),               # cohort week 1
    ]
    out = _with_events(
        spark, rows, lambda: T.q36_cohort_retention(spark, "ignored").collect()
    )
    got = {(r.cohort_week, r.week_offset): r.n_users for r in out}
    assert got == {(0, 0): 1, (0, 1): 1, (1, 0): 1}


def test_q35_q36_scale_plan(spark, sf_dir):
    """Both stay user-partitioned — no SinglePartition window, no
    cartesian anywhere."""
    for fn in (T.q35_rolling_7day, T.q36_cohort_retention):
        plan = explain_str(fn(spark, sf_dir))
        assert "SinglePartition" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_q36_pre_anchor_cohort_floor_semantics(spark, duck):
    """Review regression: DuckDB's // truncates toward zero where
    Spark's floor() floors — a user first active 8 days BEFORE the
    anchor must land in cohort week -2 in BOTH engines (the oracle now
    spells floor(x/7.0) explicitly)."""
    from datetime import datetime

    rows = [(1, 1, "view", datetime(2023, 12, 24, 9, 0, 0), None)]
    out = _with_events(
        spark, rows, lambda: T.q36_cohort_retention(spark, "ignored").collect()
    )
    assert {(r.cohort_week, r.week_offset) for r in out} == {(-2, 0)}
    # the oracle's expression, evaluated on the same date
    (cw,) = duck.execute(
        "SELECT CAST(floor(date_diff('day', DATE '2024-01-01',"
        " DATE '2023-12-24') / 7.0) AS BIGINT)"
    ).fetchone()
    assert cw == -2
