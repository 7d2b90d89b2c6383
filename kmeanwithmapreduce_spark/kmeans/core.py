"""Lloyd's K-Means as an iterative DataFrame computation.

Reference parity map (file:line cites are into /root/reference):

- init sampling       Main.java:129-164   -> seeded distributed takeSample
- centroid broadcast  Main.java:166-173   -> one array value via a scalar subquery
- assign (argmin)     KMapper.java:29-46  -> nearest_centroid_expr / pandas-UDF
- partial agg         KCombiner.java:9-18 -> automatic HashAggregate(partial)
- final mean          KReducer.java:12-26 -> HashAggregate(final) per-dim avg
- 5-dp half-up round  PointWritable.java:106-112 -> driver-side float32 round
- convergence test    Main.java:205-220   -> all movements <= thresh (unsquared)
- loop cap quirk      Main.java:302-305   -> compat: at most max_loop-1 rounds
- final labeling      Main.java:344-355   -> distributed withColumn (not O(N) driver)
- DBI metric          Main.java:71-111    -> one distributed agg + local k x k

Scale design: the input DataFrame is cached once; each iteration is one
whole-stage-codegen'd scan + map-side partial aggregate + a k-row shuffle
+ a k x d driver collect. Nothing O(N) ever reaches the driver (unlike
Main.java:345, which reads the whole dataset into driver memory). At 100 TB
the per-iteration shuffle carries only k rows per map partition, the same
combiner economics as the reference but with no per-iteration job startup
or HDFS round-trip.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import euclidean_expr

# Above this k*d the per-row expression tree gets unwieldy; switch to the
# Arrow-batched NumPy argmin (|x|^2 - 2 x.C + |c|^2 over a matmul).
PANDAS_ASSIGN_THRESHOLD = 4096


@dataclass
class KMeansParams:
    k: int = 3
    thresh: float = 0.001  # reference default, Main.java:263
    max_loop: int = 50  # reference default, Main.java:264
    seed: int | None = None
    mode: str = "native"  # "native" | "compat" (reproduce §8 quirks)
    features_col: str = "features"
    init: str = "random"  # "random" (Main.java:129-164) | "k-means||"


@dataclass
class KMeansResult:
    centroids: list[list[float]]
    init_centroids: list[list[float]]
    n_iter: int
    converged: bool
    seconds: float
    cluster_sizes: dict[int, int] = field(default_factory=dict)


def _round5_float32(x: float) -> float:
    """Reference mean rounding: Math.round(x*100000)/100000.0f in float32 —
    half-UP via floor(x+0.5) (PointWritable.java:106-112)."""
    return float(np.float32(math.floor(x * 100000.0 + 0.5) / 100000.0))


def init_random_centroids(
    df: DataFrame, k: int, seed: int | None, features_col: str = "features"
) -> list[list[float]]:
    """k distinct random rows as initial centroids (Main.java:129-164).

    The reference uses an unseeded ``Random`` over line indices; we rank
    rows by a seeded rand() and take the k smallest — a uniform
    without-replacement sample that stays entirely JVM-side
    (TakeOrderedAndProject: per-partition size-k heaps, no global sort,
    no Python serialization — unlike RDD takeSample, which would drag
    the whole dataset through pickle). Injectable seed per SURVEY §8 Q9.
    """
    rows = (
        df.select(features_col)
        .orderBy(F.rand(seed if seed is not None else int(time.time())))
        .limit(k)
        .collect()
    )
    return [[float(v) for v in row[0]] for row in rows]


def init_kmeans_parallel(
    df: DataFrame,
    k: int,
    seed: int | None,
    features_col: str = "features",
    oversample: int | None = None,
    steps: int = 2,
) -> list[list[float]]:
    """k-means|| initialization (Bahmani et al., "Scalable K-Means++",
    VLDB 2012 — public literature; the init MLlib's native engine uses,
    here re-expressed as DataFrame jobs so ``core.lloyd`` no longer
    needs MLlib for a quality seeding).

    Distributed part — O(steps) passes, nothing O(N) on the driver:
    1. first center: the row with the smallest xxhash64(features, seed)
       — a deterministic uniform pick that, like every random draw here,
       is a pure function of row CONTENT + seed, so the init reproduces
       under any partitioning (rand(seed)/takeSample do not);
    2. each round, sample every point independently with probability
       min(1, l * d2(x, C) / cost(C)) where l = ``oversample``
       (default 2k, the paper's recommendation) — one cost aggregation
       + one filtered collect of ~l expected candidates per round;
    3. weight each candidate by the number of points nearest to it
       (one count aggregation).

    Local part: weighted k-means++ over the ~l*steps candidates (a
    driver-side NumPy loop on a k-by-candidates problem) followed by a
    short weighted Lloyd refinement — exactly the paper's "recluster
    the candidates" step.
    """
    s = int(seed if seed is not None else int(time.time()))
    l = int(oversample or 2 * k)
    feats = F.col(features_col)

    first = (
        df.select(features_col)
        .orderBy(F.xxhash64(feats, F.lit(s)))
        .limit(1)
        .collect()[0][0]
    )
    cands: list[list[float]] = [[float(v) for v in first]]

    for r in range(steps):
        from ..functions.vector import distance_array_expr

        mind2 = F.array_min(distance_array_expr(feats, cands))
        cost = df.select(F.sum(mind2).alias("c")).collect()[0]["c"]
        if not cost or cost <= 0.0:  # all points already at a candidate
            break
        u = (
            F.pmod(F.xxhash64(feats, F.lit(s), F.lit(r)), F.lit(1 << 30))
            / float(1 << 30)
        )
        new = (
            df.select(features_col)
            .where(u < (F.lit(float(l)) * mind2 / F.lit(float(cost))))
            .collect()
        )
        seen = {tuple(c) for c in map(tuple, cands)}
        for row in new:
            t = tuple(float(v) for v in row[0])
            if t not in seen:
                seen.add(t)
                cands.append(list(t))

    if len(cands) <= k:
        # degenerate corpus (fewer candidates than k): pad with distinct
        # hash-ordered rows — deterministic, content-keyed
        extra = (
            df.select(features_col)
            .dropDuplicates([features_col])
            .orderBy(F.xxhash64(feats, F.lit(s + 1)))
            .limit(k + len(cands))
            .collect()
        )
        seen = {tuple(c) for c in map(tuple, cands)}
        for row in extra:
            t = tuple(float(v) for v in row[0])
            if t not in seen and len(cands) < k:
                seen.add(t)
                cands.append(list(t))
        return cands[:k]

    counts = (
        assign(df, cands, features_col)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    w = np.zeros(len(cands))
    for row in counts:
        w[int(row["cluster"])] = float(row["n"])

    return _weighted_kmeanspp(np.asarray(cands), w, k, s)


def _weighted_kmeanspp(
    x: np.ndarray, w: np.ndarray, k: int, seed: int, refine_iters: int = 10
) -> list[list[float]]:
    """Driver-local weighted k-means++ + Lloyd refinement over the
    candidate set (n_candidates ~ 2k*steps, so this is k x candidates
    NumPy work — microseconds)."""
    rng = np.random.RandomState(seed)
    n = len(x)
    p = w / w.sum() if w.sum() > 0 else np.full(n, 1.0 / n)
    centers = [x[rng.choice(n, p=p)]]
    for _ in range(1, k):
        d2 = np.min(
            ((x[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(2), axis=1
        )
        probs = w * d2
        total = probs.sum()
        if total <= 0:
            # remaining mass identical to chosen centers: uniform pick
            probs = np.full(n, 1.0 / n)
        else:
            probs = probs / total
        centers.append(x[rng.choice(n, p=probs)])
    c = np.asarray(centers, dtype=np.float64)
    for _ in range(refine_iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(2)
        lab = np.argmin(d2, axis=1)
        newc = c.copy()
        for i in range(k):
            m = lab == i
            if w[m].sum() > 0:
                newc[i] = (x[m] * w[m, None]).sum(0) / w[m].sum()
        if np.allclose(newc, c):
            break
        c = newc
    return [[float(v) for v in row] for row in c]


# helper column carrying the centroid array value through the assign
# projection; suffixed with "_" until it names no input column
_CENTROIDS_COL = "__centroids"


def _assign_expr_path(
    df: DataFrame, centroids: Sequence[Sequence[float]], features_col: str
) -> DataFrame:
    # the SQL-text twin of nearest_centroid_expr: one JVM parse instead
    # of thousands of py4j round-trips. The centroids enter as ONE array
    # value — a scalar subquery over a one-row VALUES, projected once —
    # not as k*d literals, so lloyd's iterations reuse one compiled class
    # (see the SQL-twin note in functions/vector.py). Identical values,
    # pinned by the golden oracles and test_vector_sql_twins.
    from ..functions.vector import (
        centroids_values_sql,
        nearest_centroid_ref_sql,
        quote_ident,
    )

    k = len(centroids)
    d = len(centroids[0]) if k else 0
    taken = {c.lower() for c in df.columns}
    helper = _CENTROIDS_COL
    while helper.lower() in taken:
        helper += "_"
    value = df.sparkSession.sql(centroids_values_sql(centroids)).scalar()
    return (
        df.withColumn(helper, value)
        .withColumn(
            "cluster",
            F.expr(
                nearest_centroid_ref_sql(
                    quote_ident(features_col), quote_ident(helper), k, d
                )
            ),
        )
        .drop(helper)
    )


def _assign_pandas_path(
    df: DataFrame, centroids: Sequence[Sequence[float]], features_col: str
) -> DataFrame:
    """Arrow-batched argmin for large k*d: one BLAS matmul per batch."""
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @pandas_udf("int")
    def _nearest(batch: pd.Series) -> pd.Series:
        c = bc.value  # (k, d)
        x = np.asarray(batch.tolist(), dtype=np.float64)  # (n, d)
        # squared distances via expansion; argmin picks first (lowest index)
        # on ties, matching KMapper.java:36-43.
        d2 = (x * x).sum(1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(1)[None, :]
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return df.withColumn("cluster", _nearest(F.col(features_col)))


def assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    features_col: str = "features",
) -> DataFrame:
    """Nearest-centroid assignment (KMapper.java:29-46), distributed.

    Chooses the codegen expression path for small k*d and the Arrow/NumPy
    path beyond PANDAS_ASSIGN_THRESHOLD.
    """
    k = len(centroids)
    d = len(centroids[0]) if k else 0
    if k * d <= PANDAS_ASSIGN_THRESHOLD:
        return _assign_expr_path(df, centroids, features_col)
    return _assign_pandas_path(df, centroids, features_col)


def _update_centroids(
    assigned: DataFrame, k: int, dim: int, features_col: str
) -> dict[int, tuple[list[float], int]]:
    """Per-cluster per-dimension mean + count in ONE aggregation.

    Catalyst plants HashAggregate(partial) before the shuffle — the
    combiner (KCombiner.java:9-18) for free — so only k rows per map
    partition cross the wire.
    """
    # one expr-parsed array of the dim per-dimension avgs (identical
    # AVG aggregates; the array wrapper is a post-aggregation result
    # expression) — the per-iteration Column-API construction of dim
    # separate avg(...).alias(...) columns was pure py4j overhead
    from ..functions.vector import quote_ident

    fq = quote_ident(features_col)
    ms = F.expr(
        "array(" + ",".join(f"avg({fq}[{i}])" for i in range(dim)) + ")"
    ).alias("ms")
    rows = assigned.groupBy("cluster").agg(
        ms, F.count(F.lit(1)).alias("n")
    ).collect()
    return {
        int(r["cluster"]): ([float(v) for v in r["ms"]], int(r["n"]))
        for r in rows
    }


def _movement(a: Sequence[float], b: Sequence[float]) -> float:
    return math.sqrt(sum((float(x) - float(y)) ** 2 for x, y in zip(a, b)))


def lloyd(
    df: DataFrame,
    params: KMeansParams,
    init_centroids: Sequence[Sequence[float]] | None = None,
    trace: bool = False,
) -> KMeansResult:
    """Iterated {assign, aggregate, converge-test} (Main.java:301-343).

    compat mode reproduces the reference quirks: at most ``max_loop - 1``
    rounds (Main.java:302-305), per-dimension means rounded half-up to 5
    decimals in float32 (PointWritable.java:106-112). native mode runs
    ``max_loop`` full-precision rounds. Both stop when every centroid's
    unsquared Euclidean movement is <= thresh (Main.java:205-220).

    Empty clusters: the reference NPEs (SURVEY §7.3); native/compat here
    keep the previous centroid for an empty cluster and continue.
    """
    compat = params.mode == "compat"
    feats = params.features_col
    from ..sources.readers import ensure_min_parallelism

    df = ensure_min_parallelism(df.select(feats)).cache()
    try:
        if init_centroids is None:
            if params.init == "k-means||":
                centroids = init_kmeans_parallel(
                    df, params.k, params.seed, feats
                )
            else:
                centroids = init_random_centroids(
                    df, params.k, params.seed, feats
                )
        else:
            centroids = [[float(v) for v in c] for c in init_centroids]
        # every init path yields k centroids of the data's arity, so the
        # old per-fit `select(size(features)).first()` probe job is
        # redundant — dim comes from the centroids themselves
        dim = len(centroids[0])
        init_snapshot = [list(c) for c in centroids]  # copyCentroids, Main.java:239-245

        max_rounds = params.max_loop - 1 if compat else params.max_loop
        t0 = time.monotonic()
        n_iter = 0
        converged = False
        sizes: dict[int, int] = {}
        while n_iter < max_rounds:
            n_iter += 1
            assigned = assign(df, centroids, feats)
            stats = _update_centroids(assigned, params.k, dim, feats)
            new_centroids: list[list[float]] = []
            sizes = {}
            for i in range(params.k):
                if i in stats:
                    mean, n = stats[i]
                    if compat:
                        mean = [_round5_float32(v) for v in mean]
                    new_centroids.append(mean)
                    sizes[i] = n
                else:  # empty cluster: keep old centroid (documented divergence)
                    new_centroids.append(list(centroids[i]))
                    sizes[i] = 0
            if trace:  # per-iteration dump, mirroring Main.java:249-254,331
                for i, c in enumerate(new_centroids):
                    moved = _movement(c, centroids[i])
                    print(
                        f"[iter {n_iter}] C{i} = {','.join(f'{v:.5f}' for v in c)}"
                        f"  moved={moved:.6f} {'<=' if moved <= params.thresh else '>'}"
                        f" thresh={params.thresh}"
                    )
            if all(
                _movement(new_centroids[i], centroids[i]) <= params.thresh
                for i in range(params.k)
            ):
                centroids = new_centroids
                converged = True
                break
            centroids = new_centroids
        seconds = time.monotonic() - t0
    finally:
        # composed pipelines (s03, t06, m03, k-queries, bench) call lloyd
        # inside a long-lived session: leaving the per-fit cache behind
        # accumulates executor storage across queries
        df.unpersist()
    return KMeansResult(
        centroids=centroids,
        init_centroids=init_snapshot,
        n_iter=n_iter,
        converged=converged,
        seconds=seconds,
        cluster_sizes=sizes,
    )


def label(
    df: DataFrame, centroids: Sequence[Sequence[float]], features_col: str = "features"
) -> DataFrame:
    """Final labeling (Main.java:344-355) — distributed, lazy, same
    strict-< lowest-index tie-break; no O(N) driver pass."""
    return assign(df, centroids, features_col)


def davies_bouldin_index(
    labeled: DataFrame,
    centroids: Sequence[Sequence[float]],
    features_col: str = "features",
    strict_compat: bool = False,
) -> float:
    """DBI with the reference's formula (Main.java:71-111):
    sigma_i = mean UNSQUARED member->centroid distance (Main.java:86-94),
    separation = unsquared centroid distance (Main.java:78-83),
    DBI = (1/k) * sum_i max_{j!=i} (sigma_i+sigma_j)/d(c_i,c_j).

    One distributed aggregation (distance to own centroid via an indexed
    literal array-of-arrays) + a local k x k loop; nothing O(N) on the
    driver. Empty cluster => NaN by default — a DELIBERATE divergence
    from the reference: its ``if (db > max)`` comparison is always false
    for NaN ratios, leaving max at NEGATIVE_INFINITY, so Main.java:93-111
    yields -Infinity for an empty cluster; NaN is the honest "undefined"
    answer and is what sklearn-style implementations return.

    ``strict_compat=True`` reproduces the reference artifact exactly
    (quirk-complete per SURVEY §8 Q12): per-cluster max accumulates via
    the same NaN-rejecting ``>`` from -Infinity, so an empty cluster
    contributes -Infinity and the reported DBI matches the reference's
    Java output bit-for-bit in the empty-cluster case too.
    """
    k = len(centroids)
    cent_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    own = F.element_at(cent_lit, F.col("cluster") + 1)
    rows = (
        labeled.groupBy("cluster")
        .agg(F.avg(euclidean_expr(F.col(features_col), own)).alias("sigma"))
        .collect()
    )
    sigma = {int(r["cluster"]): float(r["sigma"]) for r in rows}
    total = 0.0
    for i in range(k):
        si = sigma.get(i, float("nan"))
        if strict_compat:
            # Main.java:93-111 verbatim: max starts at -Infinity and a
            # NaN ratio never passes ``db > max``
            best = float("-inf")
            for j in range(k):
                if j == i:
                    continue
                sj = sigma.get(j, float("nan"))
                dij = _movement(centroids[i], centroids[j])
                r = (si + sj) / dij if dij > 0 else float("inf")
                if r > best:
                    best = r
        else:
            best = 0.0
            for j in range(k):
                if j == i:
                    continue
                sj = sigma.get(j, float("nan"))
                dij = _movement(centroids[i], centroids[j])
                r = (si + sj) / dij if dij > 0 else float("inf")
                if math.isnan(r):
                    best = float("nan")
                    break
                best = max(best, r)
        total += best
    return total / k if k else float("nan")


def write_centroids_text(
    centroids: Sequence[Sequence[float]], path: str, float32: bool = False
) -> None:
    """Result sink (Main.java:222-236): one comma-joined centroid per
    line, in centroid-id order (SURVEY §8 Q7). k x d is driver-tiny, so a
    plain local write — no distributed job for a k-row file.

    float32=True formats each value as the shortest decimal that
    round-trips a float32 — the Java ``Float.toString`` behavior of the
    reference sink (PointWritable.toString), so compat-mode output is
    textually parity-matched ('0.1', not '0.10000000149011612')."""
    with open(path, "w", encoding="utf-8") as f:
        for c in centroids:
            if float32:
                f.write(",".join(repr(np.float32(v)) for v in c) + "\n")
            else:
                f.write(",".join(repr(float(v)) for v in c) + "\n")
