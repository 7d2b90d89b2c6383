"""Seeded input generators for the benchmark workloads.

Every table is a pure function of its seed: the same seed writes the same
rows. Sizes do not depend on the seed, so run time does not either.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "epoch",
    "shard", "token", "corpus", "bucket", "lloyd", "centroid", "point",
    "iteration",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.45, 0.15, 0.15, 0.13, 0.12]
DUP_RATE = 0.05  # share of documents that are exact copies of an earlier one
SAMPLE_SALT = "t08"  # operators.corpus.stratified_sample's default salt
SAMPLE_BUCKETS = 10_000


def _u(seed: int, salt: str, *cols) -> F.Column:
    """Deterministic uniform in [0, 1) from (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1_000_003)) / 1_000_003.0


def write_lineitem(spark: SparkSession, out_dir: str, n: int, seed: int) -> str:
    """A lineitem table with the four columns the Lloyd projection reads,
    drawn from the TPC-H value domains."""
    i = F.col("id")
    df = spark.range(0, n, 1, 4).select(
        i.alias("l_orderkey"),
        F.floor(_u(seed, "qty", i) * 50 + 1).cast("double").alias("l_quantity"),
        F.round(F.lit(900.0) + _u(seed, "price", i) * 104100.0, 2).alias(
            "l_extendedprice"
        ),
        (F.floor(_u(seed, "disc", i) * 11) / 100.0).alias("l_discount"),
        (F.floor(_u(seed, "tax", i) * 9) / 100.0).alias("l_tax"),
    )
    path = os.path.join(out_dir, "lineitem.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


def lineitem_features(spark: SparkSession, path: str) -> DataFrame:
    """The k01 feature projection: quantity, price in thousands,
    discount, tax as array<float>."""
    li = spark.read.parquet(path)
    return li.select(
        F.array(
            F.col("l_quantity"),
            F.col("l_extendedprice") / 1000.0,
            F.col("l_discount"),
            F.col("l_tax"),
        )
        .cast("array<float>")
        .alias("features")
    )


def document_rows(n: int, seed: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows. About DUP_RATE of them
    are byte-identical copies of an earlier document; the rest are random
    word sequences, which share too few 3-gram shingles to collide in LSH.
    So the near-duplicate clusters are exactly the copy groups."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 120, size=n)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), size=int(lens[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    srcs = rng.integers(0, 20, size=n)
    return [
        (i, t, LANGS[int(lg)], f"src{int(s)}", len(t))
        for i, (t, lg, s) in enumerate(zip(texts, langs, srcs))
    ]


DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def write_documents(
    spark: SparkSession, out_dir: str, rows: list[tuple]
) -> str:
    path = os.path.join(out_dir, "documents.parquet")
    spark.createDataFrame(rows, DOC_SCHEMA).repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _quality_score(text: str) -> float:
    """Pure-Python twin of operators.textops.quality_score_frame."""
    toks = text.split(" ")
    n = len(toks)
    uniq = len(set(toks)) * 1.0 / n
    avg = (len(text) - (n - 1)) * 1.0 / n
    raw = 0.4 * uniq + 0.3 * min(n / 100.0, 1.0) + 0.3 * min(avg / 8.0, 1.0)
    return math.floor(raw * 10000.0) / 10000.0


def _sample_bucket(doc_id: int) -> int:
    h = hashlib.md5(f"{SAMPLE_SALT}:{doc_id}".encode()).hexdigest()[:8]
    return int(h, 16) % SAMPLE_BUCKETS


def expected_funnel(
    rows: list[tuple], lang_rates: dict[str, float], quality_threshold: float = 0.5
) -> dict[str, int]:
    """The corpus funnel computed without Spark: copy groups keep their
    lowest doc_id, then the quality threshold, then per-language
    md5-bucket sampling (languages not in ``lang_rates`` keep rate 1)."""
    first: dict[str, int] = {}
    for doc_id, text, *_ in rows:
        first.setdefault(text, doc_id)
    kept = [r for r in rows if first[r[1]] == r[0]]
    good = [r for r in kept if _quality_score(r[1]) >= quality_threshold]
    sampled = [
        r for r in good
        if _sample_bucket(r[0]) < lang_rates.get(r[2], 1.0) * SAMPLE_BUCKETS
    ]
    return {
        "input": len(rows),
        "after_dedup": len(kept),
        "after_quality": len(good),
        "after_sample": len(sampled),
    }
