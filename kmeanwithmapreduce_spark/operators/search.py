"""BM25 keyword search over the documents table — the text-retrieval
dual of the embedding ANN surface (s01-s05): score every document
against a fixed query-term set with Okapi BM25 and return the top-k.

Spark-first design — NO inverted index materialization, NO explode:

- For a *known* query (the only time a search runs), per-term term
  frequencies are map-side array ops on the token list
  (``size(filter(tokens, x -> x = term))``) — one narrow projection
  per document, zero shuffle.
- The corpus statistics BM25 needs (N, avgdl, per-term document
  frequency) are ONE tiny scalar aggregate (a handful of longs),
  collected to the driver and folded back into the scoring expression
  as literals — the q40 cutpoint idiom. No join, no second wide scan
  shape: at 100 TB this is two embarrassingly-parallel scans + a
  TakeOrderedAndProject, the same plan at any corpus size.
- idf is computed in Python (``math.log``) so the engine and the
  DuckDB oracle resolve ln() against the same platform libm; the final
  score is rounded to 6 dp (the c08 discipline) so a last-ulp
  difference in the per-row double chain can never flip the value
  compare, and the top-k ORDERS BY THE ROUNDED SCORE (then doc_id) so
  the selected set is exactly as deterministic as the values.

An inverted-index/explode formulation would pay a full shuffle on the
token stream to answer the same fixed query — the map-side fold is
strictly better until queries are ad-hoc AND the corpus is re-queried
enough to amortize an index (that materialized-index path is t05/t07's
TF-IDF surface).

Reference parity: the reference engine has no text retrieval; this is
part of the training-data-pipeline extension surface (brief: text
analysis / similarity search).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

# Fixed registry query: three mid-frequency vocabulary terms (the
# synthetic docs draw ~40 tokens from a ~30-word vocab, so df is high
# and discrimination comes from tf and dl — exactly BM25's job).
_S06_TERMS = ("spark", "vector", "merge")
_S06_K = 15
_K1 = 1.2
_B = 0.75


def bm25_search(
    docs: DataFrame,
    terms: tuple[str, ...],
    k: int = 15,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = _K1,
    b: float = _B,
) -> DataFrame:
    """Top-k documents by Okapi BM25 for a fixed ``terms`` set.

    Returns (id_col, dl, score) with score rounded to 6 dp; rows are
    the k highest (rounded score, id) pairs among docs matching at
    least one term. Two passes over ``docs``: a scalar stats aggregate
    (N, Σdl, df per term) and the scoring scan — both narrow.
    """
    if not terms:
        raise ValueError("bm25_search: empty query")
    toks = F.split(F.col(text_col), " ")

    def _match(term: str):
        # factory, NOT a default-arg lambda: F.filter introspects lambda
        # arity, and a second (defaulted) parameter flips it into the
        # (element, index) form — the index column would shadow the term
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _match(t))).cast("bigint").alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    base = docs.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl"), *tf_cols
    )

    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("sumdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).first()
    n = stats["n"]
    if n == 0:
        raise ValueError("bm25_search: empty corpus")
    # exact-int -> double divisions: bit-equal in any IEEE engine
    avgdl = stats["sumdl"] / n
    idf = [
        math.log((n - stats[f"df_{i}"] + 0.5) / (stats[f"df_{i}"] + 0.5) + 1.0)
        for i in range(len(terms))
    ]

    # score = sum_t idf_t * (tf*(k1+1)) / (tf + k1*(0.25 + 0.75*dl/avgdl))
    # — written in the SAME association order as the SQL oracle so the
    # double chains are instruction-identical.
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    contrib = [
        F.lit(idf[i]) * ((F.col(f"tf_{i}") * F.lit(k1 + 1.0)) / (F.col(f"tf_{i}") + norm))
        for i in range(len(terms))
    ]
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c
    return (
        base.select(F.col(id_col), "dl", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def s06_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return bm25_search(d, _S06_TERMS, k=_S06_K)


def _tf_sql(term: str, i: int) -> str:
    return (
        f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{term}')) "
        f"AS BIGINT) AS tf_{i}"
    )


_S06_SCORE_SQL = " + ".join(
    # idf literal-folded? No: the oracle recomputes idf from df in SQL —
    # ln() of the same exact-int rational resolves through the same
    # platform libm DuckDB and CPython share; round(,6) absorbs the rest.
    f"ln((n - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * ((tf_{i} * {_K1 + 1.0}) / (tf_{i} + {_K1} * "
    f"({1.0 - _B} + {_B} * (dl / avgdl))))"
    for i in range(len(_S06_TERMS))
)

S06_SQL = f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         {', '.join(_tf_sql(t, i) for i, t in enumerate(_S06_TERMS))}
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {', '.join(f'sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}'
                    for i in range(len(_S06_TERMS)))}
  FROM tf
),
scored AS (
  SELECT doc_id, dl, round({_S06_SCORE_SQL}, 6) AS score
  FROM tf, stats
)
SELECT doc_id, dl, score
FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {_S06_K}
"""
