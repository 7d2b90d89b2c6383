"""SCD2 merge (operators/scd.py): version-chaining semantics on
hand-computed batches, invariants on the real customer dim, and the
broadcast-only plan pin. DuckDB value parity for the c10 registry entry
is covered by the ORACLE_CASES sweep in test_oracle_parity.py."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators import scd as S
from kmeanwithmapreduce_spark.plans import explain_str

T0 = datetime(2024, 1, 1)
T1 = datetime(2024, 6, 1)
T2 = datetime(2025, 1, 1)


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean"
    )


def _ch(spark, rows):
    return spark.createDataFrame(rows, "k long, seg string, change_ts timestamp")


def _rows(df_or_list):
    # multiset compare, None-safe: canonical repr order; accepts a
    # DataFrame or an expected-rows list so both sides sort identically
    rows = (
        df_or_list
        if isinstance(df_or_list, list)
        else [tuple(r) for r in df_or_list.collect()]
    )
    return sorted((tuple(r) for r in rows), key=repr)


def test_scd2_two_batch_version_chain(spark):
    """Apply two consecutive batches: versions must chain exactly
    (v1.valid_to == v2.valid_from == t1, etc.), with one current row at
    the end holding the latest value."""
    dim0 = _dim(spark, [(1, "A", T0, None, True)])
    dim1 = S.scd2_apply(dim0, _ch(spark, [(1, "B", T1)]), "k", ["seg"])
    dim2 = S.scd2_apply(dim1, _ch(spark, [(1, "C", T2)]), "k", ["seg"])
    assert _rows(dim2) == _rows([
        (1, "A", T0, T1, False),
        (1, "B", T1, T2, False),
        (1, "C", T2, None, True),
    ])


def test_scd2_noop_change_creates_no_version(spark):
    """A change row carrying the already-current value must leave the
    dimension byte-identical — no zero-width or duplicate versions."""
    dim0 = _dim(spark, [(1, "A", T0, None, True), (2, "B", T0, None, True)])
    out = S.scd2_apply(dim0, _ch(spark, [(1, "A", T1)]), "k", ["seg"])
    assert _rows(out) == _rows(dim0)


def test_scd2_new_key_inserted_current(spark):
    dim0 = _dim(spark, [(1, "A", T0, None, True)])
    out = S.scd2_apply(dim0, _ch(spark, [(9, "Z", T1)]), "k", ["seg"])
    assert _rows(out) == _rows([(1, "A", T0, None, True), (9, "Z", T1, None, True)])


def test_scd2_null_attr_transitions_are_changes(spark):
    """NULL -> value and value -> NULL must both version (the eqNullSafe
    guard); NULL -> NULL must be a no-op."""
    dim0 = _dim(
        spark,
        [(1, None, T0, None, True), (2, "B", T0, None, True), (3, None, T0, None, True)],
    )
    ch = _ch(spark, [(1, "X", T1), (2, None, T1), (3, None, T1)])
    out = S.scd2_apply(dim0, ch, "k", ["seg"])
    assert _rows(out) == _rows([
        (1, None, T0, T1, False),
        (1, "X", T1, None, True),
        (2, "B", T0, T1, False),
        (2, None, T1, None, True),
        (3, None, T0, None, True),  # NULL == NULL: untouched
    ])


def test_scd2_history_rows_never_touched(spark):
    """Closed versions pass through even when their key changes again."""
    dim0 = _dim(spark, [(1, "A", T0, T1, False), (1, "B", T1, None, True)])
    out = S.scd2_apply(dim0, _ch(spark, [(1, "C", T2)]), "k", ["seg"])
    assert _rows(out) == _rows([
        (1, "A", T0, T1, False),
        (1, "B", T1, T2, False),
        (1, "C", T2, None, True),
    ])


def test_c10_invariants_on_real_dim(spark, sf_dir):
    """Registry entry invariants: exactly one current row per key,
    current rows have NULL valid_to, closed rows end exactly where
    their successor starts."""
    out = S.c10_scd2_customer(spark, sf_dir).cache()
    try:
        per_key = out.groupBy("c_custkey").agg(
            F.sum(F.col("is_current").cast("int")).alias("n_cur"),
            F.count(F.lit(1)).alias("n_vers"),
        )
        assert per_key.where(F.col("n_cur") != 1).count() == 0
        assert out.where(F.col("is_current") & F.col("valid_to").isNotNull()).count() == 0
        # closed row's valid_to must equal the successor's valid_from
        closed = out.where(~F.col("is_current")).select("c_custkey", "valid_to")
        succ = out.select("c_custkey", F.col("valid_from").alias("valid_to"))
        assert closed.join(succ, ["c_custkey", "valid_to"], "left_anti").count() == 0
    finally:
        out.unpersist()


def test_scd2_plan_broadcasts_change_side_only(spark, sf_dir):
    """Scale pin: every join build side is broadcast (the change batch
    or a <=|batch| derived frame); the dimension is never hashed into a
    join build nor shuffled (no SortMergeJoin, no ShuffledHashJoin)."""
    plan = explain_str(S.c10_scd2_customer(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_streaming_scd2_accumulates_to_sequential_fold(spark, tmp_path):
    """Changes arrive in two micro-batches; the snapshot chain must
    equal folding the same batches through scd2_apply sequentially —
    including a key changed in BOTH batches (two chained versions) and
    a multi-change batch collapsing to its latest change."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_scd2_dim,
        streaming_scd2_ingest,
    )

    dim_path = str(tmp_path / "dim")
    dim0 = _dim(
        spark, [(1, "A", T0, None, True), (2, "B", T0, None, True)]
    )
    dim0.write.parquet(dim_path + "/base")

    batch1 = [(1, "A2", T1), (9, "NEW", T1)]
    # batch2 changes key 1 again AND carries two changes for key 2 —
    # only the later (T2) one may apply
    t15 = datetime(2024, 9, 1)
    batch2 = [(1, "A3", T2), (2, "B_mid", t15), (2, "B2", T2)]
    src = str(tmp_path / "changes")
    _ch(spark, batch1).coalesce(1).write.mode("overwrite").parquet(src)
    _ch(spark, batch2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_scd2_ingest(
        stream, dim_path, str(tmp_path / "ckpt"), "k", ["seg"]
    )
    q.awaitTermination(120)

    want = S.scd2_apply(dim0, _ch(spark, batch1), "k", ["seg"])
    latest2 = (
        _ch(spark, batch2)
        .groupBy("k")
        .agg(F.max_by(F.struct("seg", "change_ts"), F.col("change_ts")).alias("_c"))
        .select("k", "_c.*")
    )
    want = S.scd2_apply(want, latest2, "k", ["seg"])
    got = read_scd2_dim(spark, dim_path)
    assert _rows(got) == _rows(want)
    # the chain really has two committed epochs, ordered fold visible
    # in key 1's three versions
    vers = sorted(r.seg for r in got.where(F.col("k") == 1).collect())
    assert vers == ["A", "A2", "A3"]


def test_streaming_scd2_restart_is_exactly_once(spark, tmp_path):
    """Restarting the stream over the same source (same checkpoint)
    must not re-apply committed epochs."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_scd2_dim,
        streaming_scd2_ingest,
    )

    dim_path = str(tmp_path / "dim")
    _dim(spark, [(1, "A", T0, None, True)]).write.parquet(dim_path + "/base")
    src = str(tmp_path / "changes")
    _ch(spark, [(1, "B", T1)]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    for _ in range(2):  # second start replays nothing new
        q = streaming_scd2_ingest(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
            dim_path, ckpt, "k", ["seg"],
        )
        q.awaitTermination(120)
    got = read_scd2_dim(spark, dim_path)
    assert _rows(got) == _rows([
        (1, "A", T0, T1, False),
        (1, "B", T1, None, True),
    ])


def test_gc_table_composes_with_scd2_chain(spark, tmp_path):
    """The dimension chain has the table layer's epoch/_SUCCESS layout,
    so gc_table prunes its history: old epochs go, `base` and the
    latest snapshot stay, read_scd2_dim is unaffected."""
    from kmeanwithmapreduce_spark.sources.table import gc_table, table_epochs
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_scd2_dim,
        streaming_scd2_ingest,
    )

    dim_path = str(tmp_path / "dim")
    _dim(spark, [(1, "A", T0, None, True)]).write.parquet(dim_path + "/base")
    src = str(tmp_path / "changes")
    _ch(spark, [(1, "B", T1)]).coalesce(1).write.mode("overwrite").parquet(src)
    _ch(spark, [(1, "C", T2)]).coalesce(1).write.mode("append").parquet(src)
    q = streaming_scd2_ingest(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        dim_path, str(tmp_path / "ckpt"), "k", ["seg"],
    )
    q.awaitTermination(120)
    done = table_epochs(spark, dim_path)
    assert len(done) == 2
    before = _rows(read_scd2_dim(spark, dim_path))
    assert gc_table(spark, dim_path, keep=1) == done[:-1]
    assert _rows(read_scd2_dim(spark, dim_path)) == before
    assert os.path.isdir(os.path.join(dim_path, "base"))  # untouched
