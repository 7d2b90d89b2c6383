"""Dataset snapshot diff — the versioned-corpus audit operator: given
two snapshots of a keyed table, classify every key as added / removed /
changed / unchanged by comparing a content digest. A training-data
pipeline runs this between corpus releases to bound how much an eval
or a model can have drifted (and to verify an "incremental" build
actually only touched what it claimed).

Spark-first shape: ONE full outer join on the key comparing md5
digests — at 100 TB this plans as a sort-merge join co-partitioned on
the key (linear, no driver state), and Catalyst prunes both scans to
(key, digest-input) columns. The digest is md5 of the compared columns
(null-tagged concat, so NULL vs 'empty string' differ), making the
row-compare O(1) regardless of how wide the compared payload is.

The registry entry (c14) derives snapshot v2 from the documents table
itself by deterministic rules (every 17th key dropped / rewritten /
re-keyed as new), so the diff is a fixed, oracle-checkable table per
corpus — no side files, same discipline as c10's synthetic CDC batch.

Reference parity: no reference analog (the reference is a single
K-Means job); part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table


def _digest(cols: list[str]):
    # null-tagged: coalesce each col to a sentinel PLUS a null-flag
    # bit, so (NULL) and ('') hash differently and a flipped NULL is a
    # change, not an ignore
    parts = []
    for c in cols:
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
        parts.append(F.col(c).isNull().cast("int").cast("string"))
    return F.md5(F.concat_ws("\x1f", *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Per-key diff status between two snapshots: (key_col, status) with
    status in {'added', 'removed', 'changed', 'unchanged'}."""
    if not compare_cols:
        raise ValueError("snapshot_diff: compare_cols is empty")
    o = old.select(F.col(key_col).alias("k"), _digest(compare_cols).alias("oh"))
    n = new.select(F.col(key_col).alias("k"), _digest(compare_cols).alias("nh"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("oh").isNull(), F.lit("added"))
        .when(F.col("nh").isNull(), F.lit("removed"))
        .when(F.col("oh") != F.col("nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("k").alias(key_col), status.alias("status"))


def diff_summary(diff: DataFrame) -> DataFrame:
    """Fixed-size rollup of a snapshot_diff: one row per status."""
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def merge_changeset(
    old: DataFrame, new: DataFrame, key_col: str, compare_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The (changed_rows, removed_keys) MERGE inputs between two
    UNIQUE-keyed snapshots, from ONE digest-keyed full-outer join — the
    snapshot_diff shape. The previous derivation
    (``new.subtract(old)`` + ``old.join(new, key, 'left_anti')``) paid
    two independent wide shuffles of full rows, and the anti-join was
    re-evaluated for each consumer inside upsert_table; here the
    payload crosses the exchange once, digests (O(1) per row however
    wide the payload) decide membership, and the caller persists the
    returned frames' shared parent via ``changed.persist()`` semantics
    only if it needs to. Both frames are exactly the set-semantics
    results of the old derivation for unique-keyed inputs (same md5
    digest discipline as snapshot_diff).

    Preconditions GUARDED here (round-13 ADVICE — they were documented
    but unenforced): ``compare_cols`` + ``key_col`` must cover BOTH
    schemas exactly — an uncovered column would make real changes
    invisible to the digest — and key uniqueness (which the full-outer
    join needs; duplicate keys would multiply rows) stays the caller's
    contract, enforced downstream by upsert_table's _check_keys."""
    need = {key_col, *compare_cols}
    for side, df in (("old", old), ("new", new)):
        extra = set(df.columns) - need
        missing = need - set(df.columns)
        if extra or missing:
            raise ValueError(
                f"merge_changeset: {side} schema {df.columns} does not "
                f"match key_col+compare_cols {sorted(need)} "
                f"(uncovered: {sorted(extra)}, missing: {sorted(missing)}) "
                "— an uncovered column would make its changes invisible "
                "to the digest"
            )
    o = old.select(
        F.col(key_col).alias("k"), _digest(compare_cols).alias("oh")
    )
    n = new.select(
        F.col(key_col).alias("k"),
        _digest(compare_cols).alias("nh"),
        F.struct(*new.columns).alias("_row"),
    )
    j = o.join(n, "k", "full_outer")
    changed = j.where(
        F.col("nh").isNotNull()
        & (F.col("oh").isNull() | (F.col("oh") != F.col("nh")))
    ).select("_row.*")
    removed = j.where(F.col("nh").isNull()).select(F.col("k").alias(key_col))
    return changed, removed


# --------------------------------------------------------------------------
# c14 registry entry: documents (v1) vs a deterministically mutated v2.
# Mutation rules on doc_id mod 17: 3 -> dropped (removed), 5 -> text
# rewritten (changed), 7 -> also re-keyed into the disjoint negative
# key space as a NEW doc (added; c10's collision-proof convention).
# Everything else carries over byte-identical (unchanged).


def _mutate_v2(docs: DataFrame) -> DataFrame:
    kept = docs.where(F.col("doc_id") % 17 != 3)
    rewritten = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 5, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")),
    )
    added = docs.where(F.col("doc_id") % 17 == 7).withColumn(
        "doc_id", -F.col("doc_id") - F.lit(1)
    )
    return rewritten.unionByName(added)


def c14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return diff_summary(snapshot_diff(d, _mutate_v2(d), "doc_id", ["text", "lang"]))


C14_SQL = r"""
WITH v1 AS (
  SELECT doc_id,
         md5(coalesce(CAST(text AS VARCHAR), '') || chr(31) ||
             CASE WHEN text IS NULL THEN '1' ELSE '0' END || chr(31) ||
             coalesce(CAST(lang AS VARCHAR), '') || chr(31) ||
             CASE WHEN lang IS NULL THEN '1' ELSE '0' END) AS h
  FROM documents
),
v2src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 5 THEN text || ' [v2]' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT -doc_id - 1 AS doc_id, text, lang
  FROM documents WHERE doc_id % 17 = 7
),
v2 AS (
  SELECT doc_id,
         md5(coalesce(CAST(text AS VARCHAR), '') || chr(31) ||
             CASE WHEN text IS NULL THEN '1' ELSE '0' END || chr(31) ||
             coalesce(CAST(lang AS VARCHAR), '') || chr(31) ||
             CASE WHEN lang IS NULL THEN '1' ELSE '0' END) AS h
  FROM v2src
),
d AS (
  SELECT CASE WHEN v1.h IS NULL THEN 'added'
              WHEN v2.h IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY status
"""


def _reset_epoch_dir(spark: SparkSession, base: str, who: str) -> None:
    """Clear a rebuild dir via the Hadoop FS (remote-URI safe), refusing
    any dir that holds something other than an epoch-table layout — the
    rebuild must never destroy a directory it does not own."""
    from ..sources.fsutil import hadoop

    _jvm, jbase, fs = hadoop(spark, base)
    if not fs.exists(jbase):
        return
    allowed = ("epoch=", "_gc_log.json", "_table_meta.json", "_claims", "_staged")
    foreign = [
        st.getPath().getName()
        for st in fs.listStatus(jbase)
        if not st.getPath().getName().startswith(allowed)
    ]
    if foreign:
        raise ValueError(
            f"{who}: base_path {base!r} is non-empty and does not look "
            f"like this entry's epoch layout (unexpected: {foreign[:5]}); "
            "refusing to clear it. Pass an empty or dedicated directory."
        )
    fs.delete(jbase, True)


def _entry_base(sf_dir: str, tag: str, base_path: str | None) -> str:
    import hashlib
    import tempfile

    return base_path or os.path.join(
        tempfile.gettempdir(),
        "spark_graft_{}_{}_{}".format(
            tag, hashlib.md5(sf_dir.encode()).hexdigest()[:8], os.getpid()
        ),
    )


def v02_table_time_travel(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """c14's diff computed through the VERSIONED TABLE layer
    (sources/table.py): documents v1 committed as epoch 0 of one
    snapshot-chained table, the mutated v2 as epoch 1, then a
    copy-forward rollback to epoch 0 (epoch 2). Output is the
    time-travel diff summary between the two epoch READS plus a
    ``rollback_clean`` row asserting the rolled-back current content is
    key-for-key unchanged vs epoch 0 — same (status, n) schema, same
    mutation rules, so the oracle is C14_SQL plus one literal row.

    The table materializes under ``base_path`` when given (pass a
    shared filesystem dir — e.g. under spark.sql.warehouse.dir — on a
    real cluster); the default is a per-process dir under the DRIVER'S
    local tempfile.gettempdir(), which is only readable by executors in
    local mode — the registry/bench envelope this entry runs in. The
    dir is REBUILT each call: it is cleared via the Hadoop FS (so
    remote URIs work, unlike a local shutil), and a non-empty
    ``base_path`` that does not look like this entry's own epoch
    layout is refused rather than deleted — the rebuild must never
    destroy a dir that holds anything else."""
    from ..sources.table import read_table, rollback, write_snapshot

    base = _entry_base(sf_dir, "v02", base_path)
    _reset_epoch_dir(spark, base, "v02_table_time_travel")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    e0 = write_snapshot(d, base)
    e1 = write_snapshot(_mutate_v2(d), base)
    rollback(spark, base, e0)

    v0 = read_table(spark, base, as_of=e0)
    v1 = read_table(spark, base, as_of=e1)
    cur = read_table(spark, base)  # latest = the rolled-back content
    diff = diff_summary(snapshot_diff(v0, v1, "doc_id", ["text", "lang"]))
    clean = (
        snapshot_diff(v0, cur, "doc_id", ["text", "lang"])
        .agg(
            F.lit("rollback_clean").alias("status"),
            (F.sum((F.col("status") != "unchanged").cast("int")) == 0)
            .cast("bigint")
            .alias("n"),
        )
    )
    return diff.unionByName(clean)


V02_SQL = C14_SQL + "\nUNION ALL\nSELECT 'rollback_clean' AS status, CAST(1 AS BIGINT) AS n\n"


def v03_bucketed_upsert_time_travel(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """v02's time-travel diff computed through the BUCKETED upsert table
    (sources/table.py bucketed section): documents v1 as epoch 0, the
    c14 mutation applied as a MERGE (upsert changed/added rows + delete
    removed ids — epoch 1 rewrites only the touched buckets, never the
    whole table), then a copy-forward rollback to epoch 0 (epoch 2),
    and THREE time-travel reads (as_of=e0, as_of=e1, current — matching
    BASELINE §M). Output shape and values are identical to v02 — the oracle is the
    same SQL — so this entry pins that partial-bucket epochs compose to
    exactly the snapshot semantics."""
    from ..sources.table import (
        create_bucketed_table,
        read_bucketed_table,
        rollback_bucketed,
        upsert_table,
    )

    base = _entry_base(sf_dir, "v03", base_path)
    _reset_epoch_dir(spark, base, "v03_bucketed_upsert_time_travel")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    v2 = _mutate_v2(d)
    e0 = create_bucketed_table(d, base, "doc_id", n_buckets=16)
    # the v1 -> v2 change set as a MERGE: only CHANGED/ADDED rows are
    # upserted (epoch 1 touches only their buckets); removed ids
    # deleted. One digest join derives both (see merge_changeset) —
    # identical sets to the old subtract + anti-join, one wide shuffle
    # instead of two
    changed, removed = merge_changeset(d, v2, "doc_id", ["text", "lang"])
    removed = removed.persist()  # consumed twice inside upsert_table
    try:
        e1 = upsert_table(changed, base, deletes=removed)
    finally:
        removed.unpersist()
    rollback_bucketed(spark, base, e0)

    t0 = read_bucketed_table(spark, base, as_of=e0)
    t1 = read_bucketed_table(spark, base, as_of=e1)
    cur = read_bucketed_table(spark, base)
    diff = diff_summary(snapshot_diff(t0, t1, "doc_id", ["text", "lang"]))
    clean = (
        snapshot_diff(t0, cur, "doc_id", ["text", "lang"])
        .agg(
            F.lit("rollback_clean").alias("status"),
            (F.sum((F.col("status") != "unchanged").cast("int")) == 0)
            .cast("bigint")
            .alias("n"),
        )
    )
    return diff.unionByName(clean)


def v04_rebucket_time_travel(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """v03 with a REBUCKET boundary in the middle (sources/table.py
    rebucket_table): documents v1 as epoch 0 (4 buckets), the c14
    mutation MERGEd as epoch 1, the modulus changed 4 -> 16 as epoch 2
    (one full epoch recorded in the meta's modulus history), then a
    copy-forward rollback to epoch 0 under the NEW modulus (epoch 3).
    Output is v02/v03's diff + rollback_clean plus one extra row,
    ``rebucket_clean`` — the read at the rebucket epoch must be
    key-for-key identical to the read just before it (a rebucket moves
    bytes between buckets, never changes content) — so the oracle is
    V02_SQL plus one literal row. Pins that time travel stays exact
    across a modulus boundary and that post-boundary writes compose."""
    from ..sources.table import (
        create_bucketed_table,
        read_bucketed_table,
        rebucket_table,
        rollback_bucketed,
        upsert_table,
    )

    base = _entry_base(sf_dir, "v04", base_path)
    _reset_epoch_dir(spark, base, "v04_rebucket_time_travel")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    v2 = _mutate_v2(d)
    e0 = create_bucketed_table(d, base, "doc_id", n_buckets=4)
    changed, removed = merge_changeset(d, v2, "doc_id", ["text", "lang"])
    removed = removed.persist()  # consumed twice inside upsert_table
    try:
        e1 = upsert_table(changed, base, deletes=removed)
    finally:
        removed.unpersist()
    e2 = rebucket_table(spark, base, 16)
    rollback_bucketed(spark, base, e0)

    t0 = read_bucketed_table(spark, base, as_of=e0)
    t1 = read_bucketed_table(spark, base, as_of=e1)
    t2 = read_bucketed_table(spark, base, as_of=e2)
    cur = read_bucketed_table(spark, base)
    diff = diff_summary(snapshot_diff(t0, t1, "doc_id", ["text", "lang"]))

    def _clean(label, old, new):
        return snapshot_diff(old, new, "doc_id", ["text", "lang"]).agg(
            F.lit(label).alias("status"),
            (F.sum((F.col("status") != "unchanged").cast("int")) == 0)
            .cast("bigint")
            .alias("n"),
        )

    return diff.unionByName(_clean("rollback_clean", t0, cur)).unionByName(
        _clean("rebucket_clean", t1, t2)
    )


V04_SQL = (
    V02_SQL
    + "UNION ALL\nSELECT 'rebucket_clean' AS status, CAST(1 AS BIGINT) AS n\n"
)


def v05_file_skipping_scan(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """FILE-LEVEL DATA SKIPPING through the versioned-table layer
    (sources/stats.py): orders committed as one snapshot epoch, range-
    partitioned on o_orderdate into 8 files with a per-file min/max
    sidecar written at commit, then a one-year range scan through
    ``scan_table`` — which must (a) return exactly the rows a full-scan
    filter returns (the oracle: count + cents-exact sum over the same
    predicate) and (b) PRUNE: the report's files_scanned must be
    strictly below files_total (a 1-year window over a range-
    partitioned 6.5-year span can never need every file), emitted as
    the literal ``pruned`` flag the oracle pins to 1."""
    import datetime

    from ..sources.stats import scan_table
    from ..sources.table import write_snapshot

    base = _entry_base(sf_dir, "v05", base_path)
    _reset_epoch_dir(spark, base, "v05_file_skipping_scan")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_snapshot(
        orders.repartitionByRange(8, "o_orderdate"),
        base,
        stats_columns=["o_orderdate"],
    )
    df, report = scan_table(
        spark,
        base,
        "o_orderdate",
        lower=datetime.datetime(1997, 1, 1),
        upper=datetime.datetime(1997, 12, 31),
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.lit(
            int(report["files_scanned"] < report["files_total"])
        ).cast("bigint").alias("pruned"),
    )


V05_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(1 AS BIGINT) AS pruned
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <= TIMESTAMP '1997-12-31'
"""


def v06_in_list_skipping_scan(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """IN-LIST + NOT-IN FILE SKIPPING through the versioned-table layer
    (round 11, sources/stats.py predicate specs): orders committed as
    one snapshot epoch range-partitioned on o_orderpriority into 5
    files — one per priority, so every file is CONSTANT in the stats
    column — then two pruned scans:

    - ``{"in": ['1-URGENT', '5-LOW']}`` must scan exactly the two
      matching files (the IN fast path),
    - ``{"not_in": ['3-MEDIUM']}`` must skip exactly the one constant
      excluded file (the only negation min/max stats can prove),

    both returning exactly the rows the full-scan filters return (the
    oracle: per-branch count + cents-exact sum) and both PRUNING
    (emitted as literal flags the oracle pins to 1)."""
    from ..sources.stats import scan_table
    from ..sources.table import write_snapshot

    base = _entry_base(sf_dir, "v06", base_path)
    _reset_epoch_dir(spark, base, "v06_in_list_skipping_scan")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    # one file per priority, DETERMINISTICALLY: hash-repartition on
    # the priority with a modulus under which the five priority
    # hashes are COLLISION-FREE (computed from the engine's own hash
    # — fixed murmur3, so the layout is stable across runs/machines).
    # repartitionByRange's sampled boundaries can merge two values
    # into one partition, and AQE collapses unions of repartition(1)
    # slices — both break the exact files_scanned pin below.
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    hashes = [
        r.h
        for r in spark.createDataFrame([(p,) for p in prios], "p string")
        .select(F.hash("p").alias("h"))
        .collect()
    ]
    k = next(
        k for k in range(5, 512) if len({h % k for h in hashes}) == len(prios)
    )
    write_snapshot(
        orders.repartition(k, "o_orderpriority"),
        base,
        stats_columns=["o_orderpriority"],
    )
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("long")
    ).alias("sum_cents")

    df_in, rep_in = scan_table(
        spark, base,
        predicates={"o_orderpriority": {"in": ["1-URGENT", "5-LOW"]}},
    )
    df_nin, rep_nin = scan_table(
        spark, base,
        predicates={"o_orderpriority": {"not_in": ["3-MEDIUM"]}},
    )

    def _agg(df, branch, rep, expect_scanned):
        return df.agg(
            F.lit(branch).alias("branch"),
            F.count(F.lit(1)).alias("n_orders"),
            cents,
            F.lit(
                int(
                    rep["files_scanned"] == expect_scanned
                    and rep["files_scanned"] < rep["files_total"]
                )
            ).cast("bigint").alias("pruned"),
        )

    return _agg(df_in, "in_two", rep_in, 2).unionByName(
        _agg(df_nin, "not_in_one", rep_nin, 4)
    )


V06_SQL = """
SELECT 'in_two' AS branch,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(1 AS BIGINT) AS pruned
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
UNION ALL
SELECT 'not_in_one' AS branch,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(1 AS BIGINT) AS pruned
FROM orders
WHERE o_orderpriority NOT IN ('3-MEDIUM')
"""


def v07_schema_evolution(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION through the bucketed table layer
    (sources/table.py round 12): documents committed as epoch 0
    (doc_id, text, lang; 8 buckets), then one MERGE with
    ``allow_add_columns=True`` appending a ``quality double`` column —
    batch = every doc_id % 7 == 0 row carrying quality =
    (doc_id % 100) / 10, deletes = doc_id % 13 == 0 (batch wins the
    overlap, the upsert precedence). Cross-boundary reads pinned
    against DuckDB recomputing the same states from the raw parquet:

    - ``e0_cols`` / ``e1_cols``: the time-travel read BEFORE the
      boundary keeps the 3-column schema; after, 4;
    - ``e0_rows_clean``: the e0 read is row-identical to the source;
    - ``e1_rows``: post-MERGE row count (deletes minus the overlap);
    - ``q_rows`` / ``q_cents``: non-NULL quality count and the exact
      integer cents sum — every untouched row NULL-fills, every batch
      row carries its value (quality * 10 is integral by
      construction, so the sum is grid-exact across engines)."""
    from ..sources.table import (
        create_bucketed_table,
        read_bucketed_table,
        upsert_table,
    )

    base = _entry_base(sf_dir, "v07", base_path)
    _reset_epoch_dir(spark, base, "v07_schema_evolution")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    e0 = create_bucketed_table(d, base, "doc_id", n_buckets=8)
    batch = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "quality", (F.col("doc_id") % 100) / F.lit(10.0)
    )
    removed = d.where(F.col("doc_id") % 13 == 0).select("doc_id")
    e1 = upsert_table(batch, base, deletes=removed, allow_add_columns=True)

    t0 = read_bucketed_table(spark, base, as_of=e0)
    t1 = read_bucketed_table(spark, base, as_of=e1)
    # one digest full-outer join replaces the two subtract shuffles the
    # bidirectional set-equality check used to pay (same md5 digest
    # discipline as snapshot_diff; unique keys per side)
    clean = int(
        t0.columns == ["doc_id", "text", "lang"]
        and snapshot_diff(d, t0, "doc_id", ["text", "lang"])
        .where(F.col("status") != "unchanged")
        .count()
        == 0
    )
    stats = t1.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("quality").isNotNull().cast("bigint")).alias("q_rows"),
        F.sum(F.round(F.col("quality") * 10).cast("bigint")).alias("q_cents"),
    ).first()
    rows = [
        ("e0_cols", len(t0.columns)),
        ("e1_cols", len(t1.columns)),
        ("e0_rows_clean", clean),
        ("e1_rows", int(stats["rows"])),
        ("q_rows", int(stats["q_rows"])),
        ("q_cents", int(stats["q_cents"] or 0)),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint")


V07_SQL = """
SELECT 'e0_cols' AS metric, CAST(3 AS BIGINT) AS value
UNION ALL
SELECT 'e1_cols', CAST(4 AS BIGINT)
UNION ALL
SELECT 'e0_rows_clean', CAST(1 AS BIGINT)
UNION ALL
SELECT 'e1_rows',
       CAST((SELECT count(*) FROM documents
             WHERE NOT (doc_id % 13 = 0 AND doc_id % 7 <> 0)) AS BIGINT)
UNION ALL
SELECT 'q_rows',
       CAST((SELECT count(*) FROM documents WHERE doc_id % 7 = 0) AS BIGINT)
UNION ALL
SELECT 'q_cents',
       CAST((SELECT coalesce(sum(doc_id % 100), 0) FROM documents
             WHERE doc_id % 7 = 0) AS BIGINT)
"""
