"""Vector scalar kernels as Catalyst expressions (JVM-side, codegen'd).

Reference parity: the reference's one scalar function is Euclidean
distance with double accumulation over float32 inputs
(PointWritable.java:95-104), consumed by the nearest-centroid argmin with
a strict ``<`` / lowest-index-wins tie-break (KMapper.java:34-43,
Main.java:346-355).

All kernels here are pure ``pyspark.sql.functions`` compositions —
``zip_with`` + ``aggregate`` — so they stay inside whole-stage codegen;
no Python executes per row. For very large k×d the pandas-UDF batch path
in ``kmeans.core`` takes over.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def squared_euclidean_expr(a: Column, b: Column) -> Column:
    """sum((a_i - b_i)^2), double accumulation (PointWritable.java:97-101)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def euclidean_expr(a: Column, b: Column) -> Column:
    """sqrt(sum((a_i-b_i)^2)) — reference calcDistance (PointWritable.java:95-104)."""
    return F.sqrt(squared_euclidean_expr(a, b))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (l2_norm_expr(a) * l2_norm_expr(b))


def _centroid_lit(centroid: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in centroid])


# Unroll per-dimension arithmetic up to this arity: a flat sum of
# (f[i]-c_i)^2 terms codegens and executes faster than the
# zip_with/aggregate lambda machinery for small d.
_UNROLL_DIM = 32


def _squared_dist_unrolled(features: Column, centroid: Sequence[float]) -> Column:
    terms = [
        (F.element_at(features, i + 1).cast("double") - float(v)) ** 2
        for i, v in enumerate(centroid)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def distance_array_expr(features: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """array<double> of squared distances from ``features`` to each centroid.

    Centroids are folded into the plan as literal arrays — the Spark
    analogue of the reference's Configuration-string broadcast
    (Main.java:166-173 / KMapper.java:15-26): k×d constants ride the
    serialized plan to every task, no shuffle, no join.
    """
    if centroids and len(centroids[0]) <= _UNROLL_DIM:
        return F.array(
            *[_squared_dist_unrolled(features, c) for c in centroids]
        )
    return F.array(
        *[squared_euclidean_expr(features, _centroid_lit(c)) for c in centroids]
    )


def nearest_centroid_expr(
    features: Column, centroids: Sequence[Sequence[float]]
) -> Column:
    """0-based argmin over distances to ``centroids``.

    ``array_position(d, array_min(d))`` returns the FIRST index at the
    minimum — reproducing the reference's strict-``<`` lowest-index
    tie-break (KMapper.java:36-43). Squared distance has the same argmin
    as the reference's sqrt'd distance, so the sqrt is elided per row.
    """
    darr = distance_array_expr(features, centroids)
    return (F.array_position(darr, F.array_min(darr)) - F.lit(1)).cast("int")


# --------------------------------------------------------------------------
# SQL-text twins of the expression builders above.
#
# Building a k x d distance tree through the Column API costs thousands
# of py4j round-trips (~0.7 s per call at k=8, d=64 — measured round
# 13), and lloyd builds one EVERY iteration. Rendering the same
# expression as ONE SQL string parsed JVM-side by F.expr() gives the
# same functions, casts and term order for one round-trip.
#
# The assign twin does not write the centroids into its text: they come
# in as ONE array value (a scalar subquery over
# ``centroids_values_sql``, projected once into a helper column by
# ``kmeans.core``) that the terms index by position. Whole-stage codegen
# passes an array value to the generated class as a reference object,
# where double literals are inlined as source text — so the generated
# code depends only on (k, d, column) and every Lloyd iteration after
# the first reuses the cached, JIT-warmed class instead of compiling
# new source. Values are pinned bit-identical to the Column builders by
# test_vector_sql_twins and every golden oracle.


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for SQL text, escaping embedded
    backticks (`` ` `` -> ```` `` ````) — the one way a user-supplied
    column name could break or change the meaning of an F.expr parse
    where the Column API would have handled it (round-13 ADVICE)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(v: float) -> str:
    # Divergence from the Column twin (round-13 ADVICE, documented):
    # _centroid_lit accepts inf/nan (the old path silently produced NaN
    # distances from degenerate data), while SQL text has no exact
    # non-finite double literal — so this path fails FAST and LOUD
    # instead. Reaching it means the input data fed NaN/inf into a
    # centroid mean; failing the fit beats silently NaN-poisoned
    # assignments.
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(
            f"non-finite centroid component {f!r} — the input data "
            "contains NaN/inf features (the Column-API path would "
            "produce NaN distances here; the SQL path refuses instead)"
        )
    return repr(f) + "D"


def _centroid_sql(centroid: Sequence[float]) -> str:
    return "array(" + ",".join(_sql_double(v) for v in centroid) + ")"


def _zip_squared_sql(a_sql: str, b_sql: str) -> str:
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> power(cast(x as double) - cast(y as double), 2)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def squared_euclidean_sql(a_sql: str, centroid: Sequence[float]) -> str:
    """SQL text of squared_euclidean_expr(a, lit(centroid))."""
    return _zip_squared_sql(a_sql, _centroid_sql(centroid))


def centroids_values_sql(centroids: Sequence[Sequence[float]]) -> str:
    """SQL text of a one-row VALUES relation whose one column is the
    array value that carries ``centroids`` into
    ``distance_array_ref_sql``: flat row-major ``array<double>`` of k*d
    values in the unrolled regime (d <= 32), ``array<array<double>>`` of
    k centroids in the zip_with regime (each term reads its centroid as
    a view; slicing a flat array would copy it per row)."""
    if centroids and len(centroids[0]) > _UNROLL_DIM:
        value = "array(" + ",".join(_centroid_sql(c) for c in centroids) + ")"
    else:
        value = _centroid_sql([v for c in centroids for v in c])
    return f"VALUES ({value})"


def distance_array_ref_sql(a_sql: str, c_sql: str, k: int, d: int) -> str:
    """SQL text of distance_array_expr(a, centroids), reading the
    centroids from ``c_sql`` (an expression holding the value of
    ``centroids_values_sql(centroids)``) — same unroll threshold, same
    term order, same double arithmetic."""
    if d <= _UNROLL_DIM:
        terms = [
            " + ".join(
                f"power(cast(element_at({a_sql}, {j + 1}) as double) - "
                f"element_at({c_sql}, {i * d + j + 1}), 2)"
                for j in range(d)
            )
            for i in range(k)
        ]
    else:
        terms = [
            _zip_squared_sql(a_sql, f"element_at({c_sql}, {i + 1})")
            for i in range(k)
        ]
    return "array(" + ",".join(terms) + ")"


def nearest_centroid_ref_sql(a_sql: str, c_sql: str, k: int, d: int) -> str:
    """SQL text of nearest_centroid_expr(a, centroids), centroids read
    from ``c_sql`` as in ``distance_array_ref_sql``."""
    darr = distance_array_ref_sql(a_sql, c_sql, k, d)
    return (
        f"cast((array_position({darr}, array_min({darr})) - 1) as int)"
    )
