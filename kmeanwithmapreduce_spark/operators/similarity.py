"""Similarity search over the embeddings table (array<float> column).

- s01: brute-force cosine top-k — the exactness baseline. JVM-side
  zip_with/aggregate dot products against a broadcast of the query
  vectors; ranking via window. Scale: O(Q x N) but embarrassingly
  parallel; Q (queries) is broadcast so no shuffle until the tiny top-k.
- s02: random-hyperplane LSH (SimHash for vectors): 16 deterministic
  hyperplanes -> 16-bit bucket; candidate pairs share a bucket. This is
  the 100 TB path: the N x N pair space collapses to per-bucket blocks.
  Hyperplane components are +-1 Rademacher signs derived from md5 (the
  d03 affine-permutation trick) and folded into BOTH the Spark plan and
  the DuckDB oracle as literals; dot products are computed over the
  1e6 integer grid so the sign — hence the bucket — is exact in any
  engine and any accumulation order (hash-matched oracle, not
  rows-only as in round 1).
- s03: IVF-style coarse quantization using K-Means centroids as the
  inverted index: assign every vector to its nearest centroid cell, then
  search only the probe cell(s). Composes the engine's own kmeans.core.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import dot_expr, l2_norm_expr
from ..sources.readers import load_table

_TOP_K = 10
_N_QUERIES = 5  # vec_id < 5 are the query vectors
_LSH_PLANES = 16
_EMB_DIM = 64  # embeddings table arity (TESTDATA.md); oracle SQL is static
_EMB_SCALE = 1_000_000  # integer grid: dot signs exact across engines


# --------------------------------------------------------------------------
# s01 — brute-force cosine top-k, query vectors vs the rest.
def s01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # norms are projected ONCE per row BEFORE the join, so each base
    # vector's norm is computed once instead of once per query pair
    # (cosine_similarity_expr inlined per-pair recomputes it Q times).
    # dot/(qnorm*bnorm) is the IDENTICAL fp expression tree as
    # cosine_similarity_expr(qvec, emb) — same ops, same order — so the
    # 4dp floor matches the oracle bit-for-bit.
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm_expr(F.col("embedding")).alias("qnorm"),
    )
    base = e.where(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding", l2_norm_expr(F.col("embedding")).alias("bnorm")
    )
    # floor-truncate at 4dp (engine-identical on identical doubles)
    sim = (
        F.floor(
            dot_expr(F.col("qvec"), F.col("embedding"))
            / (F.col("qnorm") * F.col("bnorm"))
            * 10000.0
        )
        / 10000.0
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        base.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", sim)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= _TOP_K)
    )


S01_SQL = f"""
SELECT query_id, vec_id, cosine, rk
FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, vec_id ASC) AS INT) AS rk
  FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
           floor(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) * 10000.0)
             / 10000.0 AS cosine
    FROM embeddings q CROSS JOIN embeddings b
    WHERE q.vec_id < {_N_QUERIES} AND b.vec_id >= {_N_QUERIES}
  )
)
WHERE rk <= {_TOP_K}
"""


# --------------------------------------------------------------------------
# s02 — random-hyperplane LSH bucketing, oracle-checked bit-for-bit.
# Plane components are +-1 signs from md5 of "s02:<plane>:<dim>" —
# deterministic public arithmetic both engines reproduce from the same
# literals. The projection sign uses round(x * 1e6) BIGINT terms, so the
# sum is exact integer arithmetic: no accumulation-order ulp can flip a
# bucket bit. Scale: one pass, no shuffle until the tiny bucket count.
def _plane_signs() -> list[list[int]]:
    planes = []
    for p in range(_LSH_PLANES):
        row = []
        for d in range(_EMB_DIM):
            byte = hashlib.md5(f"s02:{p}:{d}".encode()).digest()[0]
            row.append(1 if byte % 2 == 0 else -1)
        planes.append(row)
    return planes


_PLANES = _plane_signs()


def _plane_dot(signs: list[int]):
    """Exact integer-grid projection of the embedding onto one +-1 plane
    (factory function: keeps the HOF lambdas from capturing loop vars)."""
    lit_plane = F.array(*[F.lit(s) for s in signs])
    scaled = F.zip_with(
        F.col("embedding"),
        lit_plane,
        lambda x, y: F.round(x.cast("double") * _EMB_SCALE).cast("long")
        * y.cast("long"),
    )
    return F.aggregate(scaled, F.lit(0).cast("long"), lambda acc, v: acc + v)


def s02_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bits = [
        F.when(_plane_dot(signs) >= 0, F.lit(2**p)).otherwise(F.lit(0))
        for p, signs in enumerate(_PLANES)
    ]
    bucket = sum(bits[1:], bits[0]).cast("bigint")
    return (
        e.select("vec_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _s02_sql() -> str:
    dots = []
    for p, signs in enumerate(_PLANES):
        lit = ", ".join(f"{s}.0" for s in signs)
        dots.append(
            f"CASE WHEN list_dot_product(list_transform("
            f"CAST(embedding AS DOUBLE[]), x -> round(x * {_EMB_SCALE})), "
            f"[{lit}]) >= 0 THEN {2**p} ELSE 0 END"
        )
    total = " + ".join(dots)
    return f"""
SELECT CAST({total} AS BIGINT) AS bucket, count(*) AS n_vectors
FROM embeddings
GROUP BY 1
"""


S02_SQL = _s02_sql()


# --------------------------------------------------------------------------
# s03 — IVF coarse index: cells from our own K-Means, probe-cell search.
# Deterministic by construction (the k02 golden-row recipe): the coarse
# quantizer is trained from injected init (embeddings of the n_cells
# lowest vec_ids) in compat mode (5-dp float32 mean rounding absorbs
# merge-order ulp noise); ranking then has a total order (cosine desc,
# vec_id asc), so the result is a fixed table per corpus and carries a
# literal VALUES oracle (S03_SQL) instead of a rows-only check.
def _train_ivf(spark: SparkSession, sf_dir: str, n_cells: int):
    """Deterministic coarse quantizer shared by s03 and the multi-probe
    variant: injected init (lowest vec_ids), compat-mode Lloyd. Returns
    (cells frame with vec_id/features/cluster, centroid list)."""
    from ..kmeans import core

    e = load_table(spark, sf_dir, "embeddings")
    feats = e.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("features")
    )
    init = [
        [float(v) for v in r["features"]]
        for r in feats.orderBy("vec_id").limit(n_cells).collect()
    ]
    res = core.lloyd(
        feats,
        # few iterations: cell quality barely moves after 4 and the cells
        # only gate the candidate set, not correctness of ranking
        core.KMeansParams(k=n_cells, thresh=1e-2, max_loop=4, mode="compat"),
        init_centroids=init,
    )
    return core.assign(feats, res.centroids), res.centroids


def s03_ivf_search(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> DataFrame:
    cells, _centroids = _train_ivf(spark, sf_dir, n_cells)  # vec_id -> cell
    q = cells.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("features").alias("qvec"),
        F.col("cluster").alias("qcell"),
        l2_norm_expr(F.col("features")).alias("qnorm"),
    )
    # pre-join norm projection, same bit-identical factoring as s01
    base = cells.where(F.col("vec_id") >= _N_QUERIES).withColumn(
        "bnorm", l2_norm_expr(F.col("features"))
    )
    sim = (
        F.floor(
            dot_expr(F.col("qvec"), F.col("features"))
            / (F.col("qnorm") * F.col("bnorm"))
            * 10000.0
        )
        / 10000.0
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        base.join(F.broadcast(q), base.cluster == q.qcell)  # probe own cell only
        .select("query_id", "vec_id", sim)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= _TOP_K)
    )


def ivf_search_multiprobe(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    n_probe: int = 2,
    top_k: int = _TOP_K,
) -> DataFrame:
    """IVF with multi-probe: search the ``n_probe`` NEAREST cells per
    query instead of only the query's own cell — the standard recall
    knob of an inverted-file ANN index (recall grows monotonically in
    n_probe; n_probe == n_cells degenerates to exact brute force, which
    the test pins against s01). Library variant of s03 (the registry is
    capped at 50 entries).

    Scale: probe selection is a per-query argsort over the k-cell
    distance array (centroids are plan literals — no join); the
    candidate join still touches only n_probe/n_cells of the corpus,
    and the probe list (Q x n_probe rows) is broadcast.
    """
    from ..functions.vector import distance_array_expr

    cells, centroids = _train_ivf(spark, sf_dir, n_cells)
    qbase = cells.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("features").alias("qvec"),
        l2_norm_expr(F.col("features")).alias("qnorm"),
    )
    # n_probe nearest cells per query: explode the literal-centroid
    # distance array, rank by (distance, cell id)
    dq = qbase.select(
        "query_id",
        "qvec",
        "qnorm",
        F.posexplode(distance_array_expr(F.col("qvec"), centroids)).alias(
            "cell", "d2"
        ),
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        dq.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "qnorm", "cell")
    )
    base = cells.where(F.col("vec_id") >= _N_QUERIES).withColumn(
        "bnorm", l2_norm_expr(F.col("features"))
    )
    sim = (
        F.floor(
            dot_expr(F.col("qvec"), F.col("features"))
            / (F.col("qnorm") * F.col("bnorm"))
            * 10000.0
        )
        / 10000.0
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        base.join(F.broadcast(probes), base.cluster == probes.cell)
        .select("query_id", "vec_id", sim)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= top_k)
    )


# Golden-row oracle (see s03 docstring): literal VALUES per corpus,
# discriminated by lineitem count; double-run determinism-checked. The
# 4-dp floored cosine doubles round-trip exactly (floor(x*1e4)/1e4 ==
# the correctly-rounded parse of the printed literal).
S03_SQL = """
WITH nrows AS (SELECT count(*) AS c FROM lineitem)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cosine AS DOUBLE) AS cosine,
       CAST(rk AS INT) AS rk
FROM (
  SELECT * FROM (VALUES
    (0, 12, 0.311, 3), (0, 17, 0.3344, 1), (0, 73, 0.2972, 5), (0, 212,
    0.2813, 6), (0, 225, 0.3151, 2), (0, 232, 0.2673, 10), (0, 299,
    0.2687, 9), (0, 347, 0.2745, 7), (0, 402, 0.2744, 8), (0, 483,
    0.3004, 4), (1, 75, 0.2899, 4), (1, 129, 0.3514, 2), (1, 208,
    0.2362, 10), (1, 247, 0.2614, 7), (1, 248, 0.2479, 9), (1, 257,
    0.3917, 1), (1, 260, 0.2553, 8), (1, 376, 0.3048, 3), (1, 455,
    0.2824, 5), (1, 479, 0.2689, 6), (2, 91, 0.2789, 4), (2, 132,
    0.2466, 8), (2, 183, 0.2506, 7), (2, 185, 0.2829, 3), (2, 246,
    0.2897, 2), (2, 309, 0.2523, 6), (2, 388, 0.2293, 10), (2, 441,
    0.2539, 5), (2, 443, 0.3575, 1), (2, 488, 0.2386, 9), (3, 32,
    0.2281, 8), (3, 72, 0.3089, 6), (3, 84, 0.3196, 3), (3, 108, 0.2198,
    9), (3, 156, 0.311, 5), (3, 205, 0.3365, 2), (3, 223, 0.3409, 1),
    (3, 278, 0.2693, 7), (3, 380, 0.219, 10), (3, 426, 0.315, 4), (4,
    98, 0.3397, 2), (4, 100, 0.26, 8), (4, 143, 0.3297, 3), (4, 195,
    0.2547, 9), (4, 229, 0.2677, 6), (4, 271, 0.2545, 10), (4, 343,
    0.3124, 4), (4, 345, 0.3749, 1), (4, 357, 0.2954, 5), (4, 472,
    0.2663, 7)
  ) v(query_id, vec_id, cosine, rk)
  WHERE (SELECT c FROM nrows) = 6000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 73, 0.2954, 4), (0, 190, 0.2817, 6), (0, 320, 0.2878, 5), (0,
    344, 0.2524, 9), (0, 365, 0.3699, 1), (0, 387, 0.3311, 2), (0, 388,
    0.2763, 7), (0, 423, 0.2969, 3), (0, 483, 0.2567, 8), (0, 498,
    0.2507, 10), (1, 27, 0.3482, 2), (1, 64, 0.3163, 5), (1, 124,
    0.3027, 6), (1, 195, 0.3227, 4), (1, 203, 0.2681, 10), (1, 220,
    0.2897, 9), (1, 386, 0.3714, 1), (1, 402, 0.2923, 7), (1, 407,
    0.327, 3), (1, 472, 0.2921, 8), (2, 97, 0.225, 10), (2, 112, 0.2453,
    6), (2, 117, 0.3181, 1), (2, 172, 0.2398, 7), (2, 188, 0.2632, 3),
    (2, 197, 0.2331, 8), (2, 418, 0.254, 4), (2, 440, 0.2313, 9), (2,
    450, 0.2663, 2), (2, 471, 0.2471, 5), (3, 130, 0.3998, 1), (3, 149,
    0.3299, 2), (3, 174, 0.3035, 4), (3, 192, 0.2908, 7), (3, 207,
    0.2917, 6), (3, 231, 0.2987, 5), (3, 343, 0.3084, 3), (3, 396,
    0.2609, 10), (3, 437, 0.2805, 8), (3, 474, 0.2767, 9), (4, 89,
    0.2659, 7), (4, 114, 0.3985, 1), (4, 249, 0.2796, 6), (4, 280,
    0.2798, 5), (4, 346, 0.2315, 10), (4, 384, 0.2404, 9), (4, 408,
    0.3227, 3), (4, 470, 0.2525, 8), (4, 482, 0.3138, 4), (4, 496,
    0.3412, 2)
  ) v(query_id, vec_id, cosine, rk)
  WHERE (SELECT c FROM nrows) = 60000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 142, 0.3112, 9), (0, 144, 0.3243, 6), (0, 291, 0.3919, 2), (0,
    510, 0.3444, 4), (0, 794, 0.3108, 10), (0, 1020, 0.3759, 3), (0,
    1204, 0.4064, 1), (0, 1407, 0.3191, 8), (0, 1511, 0.3287, 5), (0,
    1978, 0.3192, 7), (1, 134, 0.3064, 9), (1, 173, 0.3108, 7), (1, 260,
    0.3466, 4), (1, 665, 0.3065, 8), (1, 986, 0.3064, 10), (1, 1175,
    0.3703, 2), (1, 1580, 0.3667, 3), (1, 1832, 0.3312, 6), (1, 1843,
    0.3399, 5), (1, 1950, 0.3861, 1), (2, 123, 0.3172, 8), (2, 315,
    0.3117, 10), (2, 337, 0.3574, 3), (2, 798, 0.35, 6), (2, 953,
    0.3691, 2), (2, 990, 0.3336, 7), (2, 1053, 0.356, 4), (2, 1196,
    0.3168, 9), (2, 1303, 0.394, 1), (2, 1912, 0.3519, 5), (3, 263,
    0.3979, 1), (3, 650, 0.3157, 7), (3, 720, 0.3655, 3), (3, 859,
    0.3627, 4), (3, 930, 0.3416, 5), (3, 965, 0.3023, 10), (3, 1542,
    0.3242, 6), (3, 1567, 0.3112, 8), (3, 1617, 0.3028, 9), (3, 1701,
    0.388, 2), (4, 76, 0.3595, 3), (4, 174, 0.3113, 10), (4, 524, 0.419,
    1), (4, 825, 0.3367, 6), (4, 913, 0.3195, 8), (4, 995, 0.3588, 4),
    (4, 1166, 0.3786, 2), (4, 1423, 0.316, 9), (4, 1645, 0.3265, 7), (4,
    1653, 0.3372, 5)
  ) v(query_id, vec_id, cosine, rk)
  WHERE (SELECT c FROM nrows) = 600000
)
"""
