"""File-level data skipping (sources/stats.py): sidecar collection,
pruned reads on both table formats, the safety fallbacks, and the
must-scan-fraction plan pin."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.sources.stats import (
    STATS_FILE,
    collect_file_stats,
    pruned_files,
    scan_bucketed_table,
    scan_table,
    write_file_stats,
)
from kmeanwithmapreduce_spark.sources.table import (
    create_bucketed_table,
    read_bucketed_table,
    read_table,
    upsert_table,
    write_snapshot,
)

# the checkout under test; the subprocess script imports from it
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def _range_table(spark, tpath, n=4000, files=8):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    write_snapshot(
        df.repartitionByRange(files, "v"), tpath, stats_columns=["v"]
    )
    return df


def test_scan_table_prunes_and_matches_full_filter(spark, tpath):
    _range_table(spark, tpath)
    lo, hi = 300, 900  # ~5% of the v range
    got, report = scan_table(spark, tpath, "v", lo, hi)
    want = read_table(spark, tpath).where(F.col("v").between(lo, hi))
    assert _rows(got) == _rows(want) and want.count() > 0
    # the plan pin: a narrow range over range-partitioned files must
    # not scan most of them
    assert report["files_total"] >= 4
    assert report["files_scanned"] < report["files_total"]
    assert report["must_scan_fraction"] <= 0.5


def test_scan_table_no_sidecar_falls_back_to_full_scan(spark, tpath):
    df = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    write_snapshot(df.repartition(4), tpath)  # no stats_columns
    got, report = scan_table(spark, tpath, "v", 10, 20)
    assert _rows(got) == _rows(df.where(F.col("v").between(10, 20)))
    assert report["files_scanned"] == report["files_total"] > 0


def test_scan_empty_survivor_set_is_typed_empty(spark, tpath):
    _range_table(spark, tpath, n=100, files=4)
    got, report = scan_table(spark, tpath, "v", 10_000, 20_000)
    assert got.count() == 0
    assert report["files_scanned"] == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def test_timestamp_pruning_and_halfopen_bounds(spark, tpath):
    base = datetime.datetime(2020, 1, 1)
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.lit(base) + F.make_interval(days=F.col("id").cast("int"))).alias(
            "ts"
        ),
    )
    write_snapshot(df.repartitionByRange(8, "ts"), tpath, stats_columns=["ts"])
    lo = datetime.datetime(2021, 6, 1)  # ~day 517 of 1000: mid-table
    got, report = scan_table(spark, tpath, "ts", lower=lo)
    want = read_table(spark, tpath).where(F.col("ts") >= F.lit(lo))
    assert _rows(got) == _rows(want)
    assert report["files_scanned"] < report["files_total"]
    # upper-only
    got2, report2 = scan_table(spark, tpath, "ts", upper=lo)
    want2 = read_table(spark, tpath).where(F.col("ts") <= F.lit(lo))
    assert _rows(got2) == _rows(want2)
    assert report2["files_scanned"] < report2["files_total"]


def test_all_null_file_is_skipped_under_bounded_predicate(spark, tmp_path):
    d = str(tmp_path / "plain")
    a = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    b = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit(None).cast("bigint").alias("v")
    )
    a.coalesce(1).write.parquet(d)
    b.coalesce(1).write.mode("append").parquet(d)
    write_file_stats(spark, d)
    keep, total = pruned_files(spark, d, "v", 0, 100)
    assert total == 2 and len(keep) == 1
    # unbounded: the NULL file must stay (no predicate drops NULLs)
    keep2, _ = pruned_files(spark, d, "v", None, None)
    assert len(keep2) == 2


def test_unknown_column_and_foreign_file_are_never_skipped(spark, tmp_path):
    d = str(tmp_path / "plain")
    spark.range(10).select(F.col("id").alias("v")).repartition(2).write.parquet(d)
    write_file_stats(spark, d, ["v"])
    # a file that landed AFTER the sidecar (no stats entry): kept
    spark.range(100, 110).select(F.col("id").alias("v")).coalesce(
        1
    ).write.mode("append").parquet(d)
    keep, total = pruned_files(spark, d, "v", 0, 5)
    assert total == 3 and len(keep) >= 2  # the late file always survives
    # a column the sidecar doesn't carry: everything survives
    keep2, _ = pruned_files(spark, d, "nope", 0, 5)
    assert len(keep2) == 3


def test_collect_file_stats_values(spark, tmp_path):
    d = str(tmp_path / "plain")
    spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.format_string("%03d", F.col("id"))).alias("s"),
    ).coalesce(1).write.parquet(d)
    stats = collect_file_stats(spark, d)
    assert stats["columns"] == {"k": "bigint", "s": "string"}
    (entry,) = stats["files"].values()
    assert entry["rows"] == 100
    assert entry["k"] == [0, 99, 0]
    assert entry["s"] == ["s000", "s099", 0]
    assert os.path.exists(os.path.join(d, STATS_FILE)) is False  # collect only


def test_in_list_pruning_matches_and_prunes(spark, tpath):
    """IN-list fast path: a 2-value IN over range-partitioned files
    must touch at most 2 files and return exactly the full-scan rows."""
    _range_table(spark, tpath)  # v = 3*k over 8 range files
    vals = [30, 11100]  # first and last file's territory
    got, report = scan_table(spark, tpath, predicates={"v": {"in": vals}})
    want = read_table(spark, tpath).where(F.col("v").isin(vals))
    assert _rows(got) == _rows(want) and want.count() == 2
    assert report["files_scanned"] <= 2 < report["files_total"]
    # values in no file's range prune everything
    got2, report2 = scan_table(
        spark, tpath, predicates={"v": {"in": [31, 11101]}}
    )
    assert got2.count() == 0
    # 31 and 11101 sit INSIDE two files' [min, max] (stats are ranges,
    # not membership) — those files are scanned, the residual filters
    assert report2["files_scanned"] <= 2
    # empty IN list (after NULL drop) matches nothing anywhere
    got3, report3 = scan_table(spark, tpath, predicates={"v": {"in": []}})
    assert got3.count() == 0 and report3["files_scanned"] == 0


def test_in_list_composes_with_range(spark, tpath):
    _range_table(spark, tpath)
    got, report = scan_table(
        spark, tpath,
        predicates={"v": {"lower": 0, "upper": 600, "in": [30, 11100]}},
    )
    want = read_table(spark, tpath).where(
        F.col("v").between(0, 600) & F.col("v").isin([30, 11100])
    )
    assert _rows(got) == _rows(want) and want.count() == 1
    assert report["files_scanned"] <= 1


def test_not_in_prunes_constant_files_only(spark, tmp_path):
    """NOT IN can prove exclusion only for a file that is CONSTANT at
    an excluded value; mixed files are kept and filtered by the
    residual."""
    tpath = str(tmp_path / "nin")
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("tag")
    )
    # range-partition by tag: 3 files, each constant in tag
    write_snapshot(
        df.repartitionByRange(3, "tag"), tpath, stats_columns=["tag"]
    )
    got, report = scan_table(
        spark, tpath, predicates={"tag": {"not_in": [1]}}
    )
    want = read_table(spark, tpath).where(~F.col("tag").isin([1]))
    assert _rows(got) == _rows(want) and want.count() == 200
    # hash-repartition by tag may co-locate tags; prune exactly the
    # files that are constant-1 (here: at least one fewer than total)
    assert report["files_scanned"] < report["files_total"]
    # NOT IN with a NULL is vacuously false — full prune, zero rows,
    # exactly what the residual filter would compute
    got2, report2 = scan_table(
        spark, tpath, predicates={"tag": {"not_in": [1, None]}}
    )
    assert got2.count() == 0 and report2["files_scanned"] == 0


def test_predicate_spec_validation(spark, tpath):
    _range_table(spark, tpath)
    with pytest.raises(ValueError, match="unknown key"):
        scan_table(spark, tpath, predicates={"v": {"between": (1, 2)}})


def test_footer_harvest_matches_scan_across_types(spark, tmp_path):
    """write_file_stats' footer harvest (the fold-into-write path: no
    second pass over the data) must produce the EXACT sidecar the
    distributed scan produces — numeric, string-with-nulls, date,
    timestamp, and an all-null column, across multiple files."""
    from kmeanwithmapreduce_spark.sources.stats import (
        harvest_file_stats,
    )

    d = str(tmp_path / "hdir")
    spark.range(5000).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id")))
        .alias("s"),
        F.date_add(
            F.lit("2020-01-01").cast("date"), (F.col("id") % 900).cast("int")
        ).alias("dt"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(secs=F.col("id"))
        ).alias("ts"),
        F.lit(None).cast("double").alias("allnull"),
    ).repartitionByRange(6, "k").write.parquet(d)
    h = harvest_file_stats(spark, d)
    c = collect_file_stats(spark, d)
    assert h == c
    assert len(c["files"]) == 6
    # and the write path picks the harvest without changing the sidecar
    w = write_file_stats(spark, d)
    assert w == c


def test_footer_harvest_falls_back_for_statless_files(spark, tmp_path):
    """A file whose footer carries no statistics (foreign writer with
    write_statistics off) must not blind the sidecar: auto mode scans
    exactly the short columns, footer mode refuses loudly, and the
    final sidecar equals the pure-scan sidecar."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kmeanwithmapreduce_spark.sources.stats import harvest_file_stats

    d = str(tmp_path / "mixed")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(d)
    pq.write_table(
        pa.table({"k": [1000, 1001], "v": [7, 8]}),
        os.path.join(d, "part-foreign.parquet"),
        write_statistics=False,
    )
    h = harvest_file_stats(spark, d)
    foreign = h["files"]["part-foreign.parquet"]
    assert "k" not in foreign and "v" not in foreign  # omitted, not guessed
    assert foreign["rows"] == 2
    with pytest.raises(ValueError, match="footer"):
        write_file_stats(spark, d, method="footer")
    assert write_file_stats(spark, d) == collect_file_stats(spark, d)
    # the merged sidecar still prunes correctly and never loses rows
    keep, total = pruned_files(spark, d, "k", 1000, None)
    assert total == 2 and [f.rsplit("/", 1)[1] for f in keep] == [
        "part-foreign.parquet"
    ]


def test_bucketed_scan_prunes_unrewritten_epochs(spark, tmp_path):
    """The fact-table pattern: each upsert epoch carries a narrow
    time range, so a recent-range scan prunes the old epochs' bucket
    files wholesale (hash bucketing kills KEY locality, but epoch
    sidecars keep TIME locality)."""
    tpath = str(tmp_path / "btbl")
    jan = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 31 + 1).cast("int").alias("day"),
        F.lit("jan").alias("mo"),
    )
    create_bucketed_table(
        jan, tpath, key="k", n_buckets=8, stats_columns=["day", "mo"]
    )
    mar = spark.range(1000, 1010).select(
        F.col("id").alias("k"),
        (F.col("id") % 28 + 100).cast("int").alias("day"),
        F.lit("mar").alias("mo"),
    )
    upsert_table(mar, tpath)
    got, report = scan_bucketed_table(spark, tpath, "day", 100, 200)
    want = read_bucketed_table(spark, tpath).where(
        F.col("day").between(100, 200)
    )
    assert _rows(got) == _rows(want) and want.count() == 10
    assert report["files_scanned"] < report["files_total"]
    # string-column pruning through the same sidecar
    got2, report2 = scan_bucketed_table(spark, tpath, "mo", "mar", "mar")
    assert _rows(got2) == _rows(
        read_bucketed_table(spark, tpath).where(F.col("mo") == "mar")
    )
    assert report2["files_scanned"] < report2["files_total"]


def test_bucketed_scan_time_travel_and_rebucket(spark, tmp_path):
    from kmeanwithmapreduce_spark.sources.table import rebucket_table

    tpath = str(tmp_path / "btbl")
    v0 = spark.range(200).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    create_bucketed_table(v0, tpath, key="k", n_buckets=4, stats_columns=["v"])
    upsert_table(
        spark.range(500, 520).select(F.col("id").alias("k"), F.col("id").alias("v")),
        tpath,
    )
    rebucket_table(spark, tpath, 16)  # full epoch; sidecar must follow
    for as_of in (0, 1, 2):
        got, report = scan_bucketed_table(
            spark, tpath, "v", 100, 600, as_of=as_of
        )
        want = read_bucketed_table(spark, tpath, as_of=as_of).where(
            F.col("v").between(100, 600)
        )
        assert _rows(got) == _rows(want)
        assert report["files_scanned"] <= report["files_total"]
    # post-rebucket epoch is full: pruning still bites on the range col
    _, rep2 = scan_bucketed_table(spark, tpath, "v", 0, 10, as_of=2)
    assert rep2["files_scanned"] < rep2["files_total"]


def test_zordered_dir_prunes_with_sidecar(spark, tmp_path):
    from kmeanwithmapreduce_spark.sources.layout import write_zordered

    d = str(tmp_path / "z")
    df = spark.range(5000).select(
        (F.col("id") % 71).alias("x"), (F.col("id") % 97).alias("y")
    )
    write_zordered(df, d, ["x", "y"], max_records_per_file=500)
    write_file_stats(spark, d, ["x", "y"])
    keep, total = pruned_files(spark, d, "x", 0, 5)
    assert total >= 8 and len(keep) < total
    got = spark.read.parquet(*keep).where(F.col("x").between(0, 5))
    assert _rows(got) == _rows(df.where(F.col("x").between(0, 5)))


# --------------------------------------------------------------------------
# Round 10 (second block): multi-column predicates — the Z-order box
# shape at the file-skipping level.


def test_multi_column_scan_matches_and_prunes_tighter(spark, tmp_path):
    from kmeanwithmapreduce_spark.sources.layout import write_zordered

    tpath = str(tmp_path / "ztbl")
    df = spark.range(20_000).select(
        (F.col("id") % 211).alias("x"),
        ((F.col("id") * 7) % 197).alias("y"),
        F.col("id").alias("k"),
    )
    from kmeanwithmapreduce_spark.sources.layout import zorder_key

    z = zorder_key(df, ["x", "y"]).repartitionByRange(16, "_zkey").drop("_zkey")
    write_snapshot(z, tpath, stats_columns=["x", "y"])
    box = {"x": (0, 20), "y": (0, 20)}
    got, rep_box = scan_table(spark, tpath, predicates=box)
    want = read_table(spark, tpath).where(
        F.col("x").between(0, 20) & F.col("y").between(0, 20)
    )
    assert _rows(got) == _rows(want) and want.count() > 0
    # the 2-D box must prune at least as tight as either 1-D slice
    _, rep_x = scan_table(spark, tpath, "x", 0, 20)
    _, rep_y = scan_table(spark, tpath, "y", 0, 20)
    assert rep_box["files_scanned"] <= min(
        rep_x["files_scanned"], rep_y["files_scanned"]
    )
    assert rep_box["files_scanned"] < rep_box["files_total"]
    # single-column sugar and predicates compose (AND)
    got2, _ = scan_table(spark, tpath, "x", 0, 20, predicates={"y": (0, 20)})
    assert _rows(got2) == _rows(want)


def test_multi_column_bucketed_scan(spark, tmp_path):
    tpath = str(tmp_path / "btbl")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).cast("int").alias("a"),
        (F.col("id") % 7).cast("int").alias("b"),
    )
    create_bucketed_table(df, tpath, key="k", n_buckets=4, stats_columns=["a", "b"])
    got, rep = scan_bucketed_table(
        spark, tpath, predicates={"a": (10, 20), "b": (2, 4)}
    )
    want = read_bucketed_table(spark, tpath).where(
        F.col("a").between(10, 20) & F.col("b").between(2, 4)
    )
    assert _rows(got) == _rows(want) and want.count() > 0
    assert rep["files_scanned"] <= rep["files_total"]


def test_datetime_bounds_over_date_column_never_lose_rows(spark, tpath):
    """Round-10 ADVICE (medium): a datetime predicate bound over a
    DATE column used to compare as a longer ISO string than the
    sidecar's date max ('1997-01-05' < '1997-01-05T00:00:00'), pruning
    a file whose boundary-date rows DO match the residual Spark filter
    — silent row loss. Bounds must normalize by the sidecar column
    type."""
    df = spark.createDataFrame(
        [(i, datetime.date(1997, 1, 1 + i)) for i in range(8)],
        "k int, d date",
    )
    write_snapshot(df.repartitionByRange(4, "d"), tpath, stats_columns=["d"])
    # upper bound exactly at a file's max date, as a midnight datetime
    hi = datetime.datetime(1997, 1, 5, 0, 0, 0)
    got, report = scan_table(spark, tpath, "d", None, hi)
    want = read_table(spark, tpath).where(F.col("d") <= F.lit(hi))
    assert _rows(got) == _rows(want) and want.count() == 5
    # and the skipping still prunes the out-of-range files
    assert report["files_scanned"] < report["files_total"]
    # a time-of-day lower bound stays conservative (never loses rows)
    lo = datetime.datetime(1997, 1, 3, 10, 30, 0)
    got2, _ = scan_table(spark, tpath, "d", lo, None)
    want2 = read_table(spark, tpath).where(F.col("d") >= F.lit(lo))
    assert _rows(got2) == _rows(want2)
    # date bounds over a date column keep pruning exactly
    got3, r3 = scan_table(
        spark, tpath, "d", datetime.date(1997, 1, 7), None
    )
    want3 = read_table(spark, tpath).where(
        F.col("d") >= F.lit(datetime.date(1997, 1, 7))
    )
    assert _rows(got3) == _rows(want3) and r3["files_scanned"] <= 2


def test_footer_harvest_tz_hostile_parity():
    """Round-11 ADVICE (medium): footer-harvested timestamp stats used
    to normalize to spark.sql.session.timeZone, but collect() and
    naive predicate literals run through the driver's OS zone — on a
    host where OS tz != session tz the harvested min/max were offset
    by the delta and pruning could drop files containing matching
    rows. Rerun the harvest-vs-scan parity and a bounded scan in a
    subprocess pinned to TZ=America/New_York with a UTC session."""
    import subprocess
    import sys

    script = r"""
import sys
sys.path.insert(0, REPO)
import datetime, os, tempfile
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[2]")
    .appName("tz-hostile-stats")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    # the engine session writes TIMESTAMP_MICROS (session.py:124) so
    # footers CARRY timestamp stats — set it here too, else the footer
    # path legitimately falls back to the scan and the tz bug hides
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from kmeanwithmapreduce_spark.sources.stats import (
    collect_file_stats, harvest_file_stats, scan_table,
)
from kmeanwithmapreduce_spark.sources.table import read_table, write_snapshot

tp = os.path.join(tempfile.mkdtemp(), "tbl")
df = spark.range(2000).select(
    F.col("id").alias("k"),
    (
        F.lit("2024-03-01").cast("timestamp")
        + F.make_interval(hours=(F.col("id") % 500))
    ).alias("ts"),
)
write_snapshot(df.repartitionByRange(5, "ts"), tp, stats_columns=["ts"])
epoch = read_table(spark, tp).inputFiles()[0].rsplit("/", 1)[0]
h = harvest_file_stats(spark, epoch)
c = collect_file_stats(spark, epoch)
assert h == c, ("harvest/scan sidecars diverge under hostile OS tz",
                h["files"], c["files"])
lo = datetime.datetime(2024, 3, 5, 0, 0)
hi = datetime.datetime(2024, 3, 9, 12, 0)
got, report = scan_table(spark, tp, "ts", lo, hi)
want = read_table(spark, tp).where(F.col("ts").between(F.lit(lo), F.lit(hi)))
g = sorted(map(tuple, got.collect()))
w = sorted(map(tuple, want.collect()))
assert g == w and len(w) > 0, (len(g), len(w))
assert report["files_scanned"] < report["files_total"], report
print("TZ_HOSTILE_OK")
"""
    env = dict(os.environ, TZ="America/New_York")
    r = subprocess.run(
        [sys.executable, "-c", f"REPO = {REPO!r}\n" + script],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert r.returncode == 0 and "TZ_HOSTILE_OK" in r.stdout, (
        r.stdout[-2000:],
        r.stderr[-4000:],
    )
