"""Type-2 slowly-changing-dimension (SCD2) merge: apply a batch of
attribute changes to a versioned dimension, closing superseded rows and
appending new versions — the upsert-with-history primitive every
warehouse feed needs (Kimball's type-2 dimension; Spark itself only
ships MERGE INTO for table formats, so over plain parquet the engine
composes it from joins).

No reference-repo counterpart (the reference is a single K-Means job);
SURVEY §2 Part B "sources/sinks + joins" extension.

Scale shape: a change batch is events-sized-per-interval — orders of
magnitude smaller than the dimension — so BOTH joins (attach + new-key
anti) broadcast the change side [pinned]; the dimension itself is never
shuffled, and each current row expands into its 0/1/2 output rows via a
single explode. History (non-current) rows pass through a narrow
filter. One wide pass over the dim total, at any dimension size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

_META = ("valid_from", "valid_to", "is_current")


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    attr_cols: list[str],
    change_ts_col: str = "change_ts",
) -> DataFrame:
    """Apply one change batch to an SCD2 dimension.

    ``dim``: ``key, *attr_cols, valid_from, valid_to, is_current`` —
    exactly one current row per key (valid_to NULL on current rows).
    ``changes``: ``key, *attr_cols, change_ts`` — at most one row per
    key (pre-aggregate multi-change batches with max_by first).

    Rules: changed attrs → close the current row at change_ts and
    append the new version; identical attrs → no-op (no empty version);
    unseen key → insert as a brand-new current row; closed history rows
    are never touched.
    """
    ch = F.broadcast(
        changes.select(
            F.col(key),
            *[F.col(c).alias(f"_ch_{c}") for c in attr_cols],
            F.col(change_ts_col).alias("_ch_ts"),
        )
    )
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))
    out_cols = [key, *attr_cols, *_META]

    differs = F.lit(False)
    for c in attr_cols:
        # null-safe inequality: NULL -> non-NULL must count as a change
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"_ch_{c}"))

    old_version = F.struct(
        *[F.col(c).alias(c) for c in attr_cols],
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").alias("valid_to"),
        F.col("is_current").alias("is_current"),
    )
    closed_version = F.struct(
        *[F.col(c).alias(c) for c in attr_cols],
        F.col("valid_from").alias("valid_from"),
        F.col("_ch_ts").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    new_version = F.struct(
        *[F.col(f"_ch_{c}").alias(c) for c in attr_cols],
        F.col("_ch_ts").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    merged_cur = (
        cur.join(ch, key, "left")
        .withColumn(
            "_vers",
            F.when(F.col("_ch_ts").isNull() | ~differs, F.array(old_version))
            .otherwise(F.array(closed_version, new_version)),
        )
        .select(key, F.explode("_vers").alias("_v"))
        .select(key, "_v.*")
        .select(*out_cols)
    )
    # New-key detection must NOT hash the dimension into a join build
    # side (changes ANTI JOIN dim builds on dim — a 100 TB build). The
    # matched-key set is <= |changes| rows: compute it with a broadcast
    # SEMI join (stream dim, build tiny changes), then anti-join the
    # change batch against THAT — both joins broadcast-sized builds.
    matched_keys = cur.select(key).join(
        F.broadcast(changes.select(key)), key, "left_semi"
    )
    inserted = (
        changes.join(F.broadcast(matched_keys), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(c) for c in attr_cols],
            F.col(change_ts_col).alias("valid_from"),
            F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return hist.select(*out_cols).unionByName(merged_cur).unionByName(inserted)


# --------------------------------------------------------------------------
# c10 — registry instantiation over the customer dimension, change
# batch derived deterministically from the data itself so the DuckDB
# twin reconstructs the byte-identical inputs:
#   keys % 10 in (0,1,2): segment rewritten to '<seg>_v2'  -> versioned
#   keys % 10 == 3:       "change" carrying the same value -> no-op
#   keys % 100 == 7:      a NEW key (-(base+1): the negative key space
#                          cannot collide with real positive custkeys
#                          at ANY scale factor — a fixed positive
#                          offset would at sf ~67+), segment 'NEW'
_T0 = "2024-01-01 00:00:00"
_T1 = "2025-06-01 00:00:00"


def c10_scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_mktsegment",
        F.to_timestamp(F.lit(_T0)).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ts1 = F.to_timestamp(F.lit(_T1))
    changes = (
        c.where(F.col("c_custkey") % 10 < 3)
        .select(
            "c_custkey",
            F.concat("c_mktsegment", F.lit("_v2")).alias("c_mktsegment"),
            ts1.alias("change_ts"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 10 == 3).select(
                "c_custkey", "c_mktsegment", ts1.alias("change_ts")
            )
        )
        .unionByName(
            c.where(F.col("c_custkey") % 100 == 7).select(
                (-(F.col("c_custkey") + 1)).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                ts1.alias("change_ts"),
            )
        )
    )
    return scd2_apply(dim, changes, "c_custkey", ["c_mktsegment"])


C10_SQL = f"""
WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer)
SELECT k AS c_custkey, seg AS c_mktsegment,
       TIMESTAMP '{_T0}' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to,
       TRUE AS is_current
FROM cur WHERE k % 10 >= 3            -- unchanged + no-op keys
UNION ALL
SELECT k, seg, TIMESTAMP '{_T0}', TIMESTAMP '{_T1}', FALSE
FROM cur WHERE k % 10 < 3             -- closed superseded versions
UNION ALL
SELECT k, seg || '_v2', TIMESTAMP '{_T1}', NULL, TRUE
FROM cur WHERE k % 10 < 3             -- the new versions
UNION ALL
SELECT -(k + 1), 'NEW', TIMESTAMP '{_T1}', NULL, TRUE
FROM cur WHERE k % 100 = 7            -- brand-new keys (negative space)
"""
