"""Sequence-analysis operators (operators/sequences.py): hand-computed
transition/path cases on constructed streams, the total-order
(ts, event_id) tie rule, and scale plan pins (user-keyed windows,
WindowGroupLimit for the rank<=k path prefix). DuckDB value parity is
covered by the ORACLE_CASES sweep in test_oracle_parity.py."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators import sequences as S
from kmeanwithmapreduce_spark.plans import explain_str
from kmeanwithmapreduce_spark.plans.inspect import count_nodes


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_transition_matrix_hand_computed(spark):
    """user 1: a>b>a gives transitions a->b, b->a; user 2: a single
    event contributes nothing; transitions never cross users."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    h = timedelta(hours=1)
    rows = [
        (1, 1, "a", t0), (2, 1, "b", t0 + h), (3, 1, "a", t0 + 2 * h),
        (4, 2, "c", t0),
        (5, 3, "b", t0), (6, 3, "b", t0 + h),
    ]
    got = {
        (r.from_type, r.to_type): r.n
        for r in S.transition_matrix(_events(spark, rows)).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "b"): 1}


def test_transition_matrix_equal_instant_tie_rule(spark):
    """Two events at the same instant order by event_id — the total
    order both engines share."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [(2, 1, "y", t0), (1, 1, "x", t0)]
    got = {
        (r.from_type, r.to_type): r.n
        for r in S.transition_matrix(_events(spark, rows)).collect()
    }
    assert got == {("x", "y"): 1}


def test_leading_paths_hand_computed(spark):
    """Paths are the first k=3 steps in order; shorter histories give
    shorter prefixes; identical paths aggregate."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    h = timedelta(hours=1)
    rows = [
        (1, 1, "a", t0), (2, 1, "b", t0 + h), (3, 1, "c", t0 + 2 * h),
        (4, 1, "d", t0 + 3 * h),                       # beyond k: ignored
        (5, 2, "a", t0), (6, 2, "b", t0 + h), (7, 2, "c", t0 + 2 * h),
        (8, 3, "a", t0), (9, 3, "b", t0 + h),          # short prefix
    ]
    got = {
        r.path: r.n_users
        for r in S.leading_paths(_events(spark, rows)).collect()
    }
    assert got == {"a>b>c": 2, "a>b": 1}


def test_sequences_scale_plans(spark, sf_dir):
    """q37/q38 stay user-partitioned; q38's rank<=k filter plans as the
    partial WindowGroupLimit (map tasks forward <= k rows per user)."""
    plan37 = explain_str(S.q37_transition_matrix(spark, sf_dir))
    assert "SinglePartition" not in plan37
    plan38 = explain_str(S.q38_leading_paths(spark, sf_dir))
    assert "SinglePartition" not in plan38
    assert "WindowGroupLimit" in plan38


# --------------------------------------------------------------------------
# streaming transition ingest


def _split_events_by_time(spark, sf_dir, src, order="in_order"):
    """Split events at the median ts into two single-file parquet
    batches with EXPLICIT modification times (FileStreamSource orders
    by mtime; back-to-back writes can tie on coarse filesystems, which
    would collapse both files into one batch or reorder them).
    ``order="reversed"`` delivers the late half first — the in-order
    contract violation the on_late check exists for."""
    import glob
    import os
    import time

    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    cut = e.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    early = e.where(F.unix_micros("ts") <= cut)
    late = e.where(F.unix_micros("ts") > cut)
    batch1, batch2 = (early, late) if order == "in_order" else (late, early)
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    first = set(glob.glob(src + "/part-*.parquet"))
    batch2.coalesce(1).write.mode("append").parquet(src)
    second = set(glob.glob(src + "/part-*.parquet")) - first
    assert len(first) == 1 and len(second) == 1
    now = time.time()
    os.utime(first.pop(), (now - 60, now - 60))
    os.utime(second.pop(), (now, now))
    return e


def test_streaming_transitions_equal_batch(spark, sf_dir, tmp_path):
    """Events arrive in two time-ordered micro-batches; the accumulated
    increment grids must equal batch q37 over the full stream —
    boundary pairs (state user -> first batch event) included."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_transition_matrix,
        streaming_transition_ingest,
    )

    src = str(tmp_path / "src")
    e = _split_events_by_time(spark, sf_dir, src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "trans")
    q = streaming_transition_ingest(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    import glob

    assert len(glob.glob(out + "/increments/epoch=*")) >= 2
    got = {
        (r.from_type, r.to_type): r.n
        for r in read_transition_matrix(spark, out).collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in S.transition_matrix(e).collect()
    }
    assert got == want and sum(want.values()) > 0


def test_streaming_transitions_restart_exactly_once(spark, sf_dir, tmp_path):
    """A second start over the same source + checkpoint must not
    double-count any increment epoch."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_transition_matrix,
        streaming_transition_ingest,
    )

    src = str(tmp_path / "src")
    e = _split_events_by_time(spark, sf_dir, src)
    out = str(tmp_path / "trans")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        q = streaming_transition_ingest(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            ckpt,
        )
        q.awaitTermination(120)
    got = {
        (r.from_type, r.to_type): r.n
        for r in read_transition_matrix(spark, out).collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in S.transition_matrix(e).collect()
    }
    assert got == want


def test_streaming_transitions_late_events_fail_loudly(spark, sf_dir, tmp_path):
    """Contract enforcement: a second batch delivering an event OLDER
    than a user's committed last event must fail the query (silent
    boundary-pair corruption is the alternative), and 'permissive'
    must accept the same stream."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        streaming_transition_ingest,
    )

    src = str(tmp_path / "src")
    _split_events_by_time(spark, sf_dir, src, order="reversed")

    def run(mode, out, ckpt):
        return streaming_transition_ingest(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            str(tmp_path / out),
            str(tmp_path / ckpt),
            on_late=mode,
        )

    import pytest as _pytest

    q = run("error", "t_err", "ck_err")
    with _pytest.raises(Exception, match="in-order contract violated"):
        q.awaitTermination(120)

    q2 = run("permissive", "t_perm", "ck_perm")
    # must actually finish (a timeout would pass having verified nothing)
    assert q2.awaitTermination(120)


# --------------------------------------------------------------------------
# q41 — last-touch attribution


def _vevents(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )


def test_last_touch_attribution_hand_computed(spark):
    """user 1: view -> purchase(10.00) -> click -> purchase(2.50):
    first purchase credits 'view', second 'click' (the intervening
    purchase is NOT a touch). user 2: purchase with no prior event ->
    'direct'. user 3's click must not leak into user 2."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    h = timedelta(hours=1)
    rows = [
        (1, 1, "view", t0, 0.0),
        (2, 1, "purchase", t0 + h, 10.0),
        (3, 1, "click", t0 + 2 * h, 0.0),
        (4, 1, "purchase", t0 + 3 * h, 2.5),
        (5, 2, "purchase", t0, 7.0),
        (6, 3, "click", t0 - h, 0.0),
    ]
    got = {
        r.channel: (r.n_purchases, r.revenue_cents)
        for r in S.last_touch_attribution(_vevents(spark, rows)).collect()
    }
    assert got == {
        "view": (1, 1000),
        "click": (1, 250),
        "direct": (1, 700),
    }


def test_last_touch_equal_instant_tie_rule(spark):
    """Touch and purchase at the same instant: event_id breaks the tie —
    the touch with the smaller id precedes the purchase."""
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, "click", t0, 0.0),
        (2, 1, "purchase", t0, 4.0),
    ]
    got = {
        r.channel: r.revenue_cents
        for r in S.last_touch_attribution(_vevents(spark, rows)).collect()
    }
    assert got == {"click": 400}


def test_q41_plan_shape(spark, sf_dir):
    """One user-keyed Window (single hash Exchange before it), no
    SinglePartition, no join — q37's plan shape with a running last()
    instead of lag()."""
    plan = explain_str(S.q41_last_touch_attribution(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert count_nodes(plan, "Window") == 1, plan
    assert "Join" not in plan, plan
