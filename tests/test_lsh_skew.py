"""d03 band-join hot-key robustness: thousands of byte-identical
documents collapse into ONE (band, key) bucket, making the LSH
candidate join locally quadratic. The output is still correct (those
docs ARE all pairwise candidates); the pin here is that the physical
plan survives it — AQE's skew-join split fires on the hot partition
and the job completes under a constrained (1 GiB) heap.

Runs in a SUBPROCESS because both the heap bound and the forced-skew
configs must be set at JVM launch / session build, and the shared
conftest session would leak them into every other test."""

from __future__ import annotations

import os
import subprocess
import sys

# the checkout under test; the subprocess script imports from it
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("lsh-skew")
    .config("spark.driver.memory", "1g")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    # force the skew machinery to engage on a test-sized hot bucket:
    # the hot (band, key) partition is ~hundreds of KB raw but its
    # 5000 identical keys COMPRESS to a few KB of shuffle bytes (the
    # size AQE sees), so the threshold drops to 4 KiB; it must be
    # split into advisory-sized task chunks instead of one monster task
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4096")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
    # the distinct downstream of the join would normally make the rule
    # decline (splitting adds a shuffle it wanted to avoid); force it —
    # a real deployment sets this when dup-mass skew is known
    .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    # the band index is small; without this the join broadcasts and the
    # skew path (SMJ-only) never exercises
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F
from kmeanwithmapreduce_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_bands,
)

N_HOT = 5000
hot_text = "the quick brown fox jumps over the lazy dog again and again"
docs = spark.range(N_HOT + 100).select(
    F.col("id").alias("doc_id"),
    F.when(F.col("id") < N_HOT, F.lit(hot_text))
    .otherwise(
        F.concat_ws(
            " ",
            F.lit("unique filler"),
            F.col("id").cast("string"),
            F.md5(F.col("id").cast("string")),
            F.md5((F.col("id") + 1).cast("string")),
            F.md5((F.col("id") + 2).cast("string")),
            F.md5((F.col("id") + 3).cast("string")),
        )
    )
    .alias("text"),
)

pairs = lsh_candidate_pairs(minhash_bands(docs))
hot_pairs = pairs.where((F.col("doc_a") < N_HOT) & (F.col("doc_b") < N_HOT))
# count through THIS DataFrame's own query execution so the adaptive
# final plan we inspect is the one that actually ran (df.count() would
# build a separate execution)
cnt = hot_pairs.groupBy().count()
n = cnt.collect()[0][0]
expect = N_HOT * (N_HOT - 1) // 2
assert n == expect, (n, expect)

# the skew split must actually have fired: the finished adaptive plan
# marks the split SMJ with skew=true
plan = cnt._jdf.queryExecution().executedPlan().toString()
assert "skew=true" in plan, plan[:4000]
print("OK", n)
"""


def test_lsh_hot_bucket_5k_under_1g_heap_with_skew_split():
    r = subprocess.run(
        [sys.executable, "-c", f"REPO = {REPO!r}\n" + SCRIPT],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    assert "OK 12497500" in r.stdout
