"""Expression-tree kernels vs plain-Python references, evaluated in ONE
Spark round-trip over a batch of generated cases (hypothesis-style
coverage without per-example Spark latency)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _py_shingles(text: str, n: int = 3) -> list[str]:
    toks = text.split(" ")
    out: list[str] = []
    seen = set()
    for i in range(max(len(toks) - n + 1, 0)):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def test_shingles_expr_matches_python(spark):
    from kmeanwithmapreduce_spark.operators.dedup import _shingles

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)]
    cases = [
        " ".join(rng.choices(vocab, k=rng.randint(1, 30))) for _ in range(200)
    ]
    cases += ["a", "a b", "a b c", "x x x x x"]  # short/degenerate
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = {
        r["text"]: list(r["sh"])
        for r in df.select("text", _shingles(F.col("text")).alias("sh")).collect()
    }
    for c in cases:
        assert got[c] == _py_shingles(c), c


def test_quality_score_expr_matches_python(spark, sf_dir):
    import math

    from kmeanwithmapreduce_spark.operators.textops import t02_quality_score
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(100).collect()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["uniq_ratio"], r["quality_score"], r["keep"])
        for r in t02_quality_score(spark, sf_dir).collect()
        if r["doc_id"] in docs
    }
    for doc_id, text in docs.items():
        toks = text.split(" ")
        nt = len(toks)
        uniq = len(set(toks)) * 1.0 / nt
        avg_len = (len(text) - (nt - 1)) * 1.0 / nt
        raw = 0.4 * uniq + 0.3 * min(nt / 100.0, 1.0) + 0.3 * min(avg_len / 8.0, 1.0)
        score = math.floor(raw * 10000.0) / 10000.0
        g = got[doc_id]
        assert g[0] == nt
        assert g[1] == math.floor(uniq * 10000.0) / 10000.0
        assert g[2] == score
        assert g[3] == (score >= 0.5)


def test_vector_sql_twins_match_column_builders(spark):
    """The SQL-text expression builders (round-13: one F.expr parse
    replaces thousands of py4j round-trips in lloyd/pq_encode) must
    produce BIT-IDENTICAL values to the Column builders they twin —
    distances and argmin labels, across both the unrolled (d <= 32)
    and zip_with (d > 32) regimes, including exact ties. The twins read
    the centroids from one array value (a scalar subquery over
    ``centroids_values_sql``), as kmeans.core's assign path does."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.functions.vector import (
        centroids_values_sql,
        distance_array_expr,
        distance_array_ref_sql,
        nearest_centroid_expr,
        nearest_centroid_ref_sql,
    )

    rng = random.Random(7)
    for d, k in [(4, 8), (7, 3), (32, 5), (64, 8), (40, 2)]:
        rows = [
            ([rng.uniform(-5, 5) for _ in range(d)],) for _ in range(60)
        ]
        cents = [[rng.uniform(-5, 5) for _ in range(d)] for _ in range(k)]
        # exact ties: two identical centroids, and a row equal to one
        cents[-1] = list(cents[0])
        rows.append((list(cents[0]),))
        df = spark.createDataFrame(rows, "features array<double>")
        value = spark.sql(centroids_values_sql(cents)).scalar()
        got = df.withColumn("c", value).select(
            distance_array_expr(F.col("features"), cents).alias("dc"),
            F.expr(distance_array_ref_sql("`features`", "`c`", k, d)).alias("ds"),
            nearest_centroid_expr(F.col("features"), cents).alias("ac"),
            F.expr(nearest_centroid_ref_sql("`features`", "`c`", k, d)).alias("as_"),
        ).collect()
        for r in got:
            assert list(r["dc"]) == list(r["ds"]), (d, k)
            assert r["ac"] == r["as_"], (d, k)
