"""K-Means engine vs a NumPy Lloyd's oracle executed with the same quirks
(SURVEY §5: unit tests per kernel + seeded end-to-end determinism)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.kmeans import core
from test_compat_customerdata import CUSTOMER_DATA


def _numpy_lloyd(x, init, thresh, max_rounds, round5=False):
    """Reference-semantics Lloyd's in NumPy: strict-< argmin tie-break,
    per-dim mean, optional 5-dp half-up float32 rounding, all-centroids
    movement <= thresh stop rule."""
    c = np.asarray(init, dtype=np.float64)
    n_iter = 0
    converged = False
    labels = None
    while n_iter < max_rounds:
        n_iter += 1
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(2)
        labels = np.argmin(d2, axis=1)  # first-min on ties, like strict <
        new = c.copy()
        for i in range(len(c)):
            members = x[labels == i]
            if len(members):
                m = members.mean(0)
                if round5:
                    m = np.float32(np.floor(m * 100000.0 + 0.5) / 100000.0).astype(
                        np.float64
                    )
                new[i] = m
        moves = np.sqrt(((new - c) ** 2).sum(1))
        c = new
        if (moves <= thresh).all():
            converged = True
            break
    return c, labels, n_iter, converged


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(7)
    pts = np.concatenate(
        [
            rng.normal(0.2, 0.05, size=(300, 4)),
            rng.normal(0.5, 0.05, size=(300, 4)),
            rng.normal(0.8, 0.05, size=(300, 4)),
        ]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [([float(v) for v in row],) for row in pts], "features array<float>"
    )
    return df, pts.astype(np.float64)


def test_assign_matches_numpy_argmin(spark, points_df):
    df, x = points_df
    cents = [[0.2] * 4, [0.5] * 4, [0.8] * 4]
    got = [r["cluster"] for r in core.assign(df, cents).select("cluster").collect()]
    d2 = ((x[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(2)
    want = np.argmin(d2, axis=1)
    assert (np.asarray(got) == want).all()


def test_assign_tie_break_lowest_index(spark):
    # Point equidistant from two identical centroids -> index 0 wins
    # (KMapper.java:36-43 strict <).
    df = spark.createDataFrame([([0.5, 0.5],)], "features array<float>")
    cents = [[0.4, 0.5], [0.4, 0.5], [0.6, 0.5]]
    assert core.assign(df, cents).first()["cluster"] == 0


def test_pandas_assign_path_matches_expr_path(spark, points_df):
    df, _ = points_df
    cents = [[0.2] * 4, [0.5] * 4, [0.8] * 4]
    a = [r["cluster"] for r in core._assign_expr_path(df, cents, "features").collect()]
    b = [r["cluster"] for r in core._assign_pandas_path(df, cents, "features").collect()]
    assert a == b


def test_assign_codegen_is_invariant_to_centroid_values(spark):
    """The centroids enter assign as one array value, not as literals, so
    a second assign with new centroid values (same k, d and column) reuses
    the first one's generated classes: zero new janino compiles. Lloyd's
    iterations after the first depend on this. Labels still equal the
    Column builder's row for row."""
    from kmeanwithmapreduce_spark.functions.vector import nearest_centroid_expr

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    hist = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    rng = np.random.default_rng(11)
    for k, d in [(3, 4), (2, 40)]:  # unrolled and zip_with regimes
        df = spark.createDataFrame(
            [([float(v) for v in row],) for row in rng.random((200, d))],
            "features array<double>",
        )
        first, second = (rng.random((k, d)).tolist() for _ in range(2))
        core.assign(df, first).select("cluster").collect()
        before = hist.getCount()
        got = [r[0] for r in core.assign(df, second).select("cluster").collect()]
        assert hist.getCount() - before == 0, (k, d)
        want = df.select(nearest_centroid_expr(F.col("features"), second))
        assert got == [r[0] for r in want.collect()], (k, d)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_assign_refuses_non_finite_centroid(spark, bad):
    df = spark.createDataFrame([([0.5, 0.5],)], "features array<float>")
    with pytest.raises(
        ValueError,
        match=rf"^non-finite centroid component {bad!r} — the input data "
        r"contains NaN/inf features \(the Column-API path would produce NaN "
        r"distances here; the SQL path refuses instead\)$",
    ):
        core.assign(df, [[0.0, 0.0], [1.0, bad]])


def test_assign_keeps_user_column_named_like_helper(spark):
    # the centroid helper column must never clobber or drop an input
    # column, whatever its case
    h = core._CENTROIDS_COL
    df = spark.createDataFrame(
        [([0.0, 0.0], "a", 1), ([1.0, 1.0], "b", 2)],
        f"features array<float>, `{h}` string, `{h.upper()}_` int",
    )
    got = core.assign(df, [[0.0, 0.0], [1.0, 1.0]])
    assert got.columns == ["features", h, h.upper() + "_", "cluster"]
    assert [tuple(r)[1:] for r in got.orderBy("cluster").collect()] == [
        ("a", 1, 0),
        ("b", 2, 1),
    ]


def test_lloyd_native_matches_numpy(spark, points_df):
    df, x = points_df
    init = [[0.1] * 4, [0.4] * 4, [0.9] * 4]
    res = core.lloyd(
        df, core.KMeansParams(k=3, thresh=1e-6, max_loop=50, mode="native"), init
    )
    want_c, _, want_iter, want_conv = _numpy_lloyd(x, init, 1e-6, 50)
    assert res.converged == want_conv
    assert res.n_iter == want_iter
    assert np.allclose(np.asarray(res.centroids), want_c, atol=1e-9)


def test_lloyd_compat_rounding_and_loop_cap(spark, points_df):
    df, x = points_df
    init = [[0.1] * 4, [0.4] * 4, [0.9] * 4]
    res = core.lloyd(
        df, core.KMeansParams(k=3, thresh=1e-9, max_loop=4, mode="compat"), init
    )
    # compat: at most max_loop-1 rounds (Main.java:302-305)
    assert res.n_iter <= 3
    want_c, _, want_iter, _ = _numpy_lloyd(x, init, 1e-9, 3, round5=True)
    assert res.n_iter == want_iter
    assert np.allclose(np.asarray(res.centroids), want_c, atol=1e-7)
    # every coordinate is on the 1e-5 grid after half-up float32 rounding
    for c in res.centroids:
        for v in c:
            assert abs(v * 100000 - round(v * 100000)) < 0.5


def test_round5_half_up():
    # Java Math.round = floor(x+0.5): 0.000015 -> 0.00002 (half up), and
    # float32 representation wobble stays within the 5-dp grid.
    assert core._round5_float32(0.000015) == pytest.approx(0.00002, abs=1e-9)
    assert core._round5_float32(0.123454999) == pytest.approx(0.12345, abs=1e-7)


def test_dbi_matches_numpy(spark, points_df):
    df, x = points_df
    init = [[0.2] * 4, [0.5] * 4, [0.8] * 4]
    res = core.lloyd(df, core.KMeansParams(k=3, thresh=1e-6, max_loop=50), init)
    labeled = core.label(df, res.centroids)
    got = core.davies_bouldin_index(labeled, res.centroids)

    c = np.asarray(res.centroids)
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(2)
    labels = np.argmin(d2, axis=1)
    sigma = np.array(
        [np.sqrt(((x[labels == i] - c[i]) ** 2).sum(1)).mean() for i in range(3)]
    )
    want = 0.0
    for i in range(3):
        want += max(
            (sigma[i] + sigma[j]) / np.sqrt(((c[i] - c[j]) ** 2).sum())
            for j in range(3)
            if j != i
        )
    want /= 3
    assert got == pytest.approx(want, rel=1e-9)


def test_empty_cluster_keeps_old_centroid(spark, points_df):
    df, _ = points_df
    # third centroid far away -> never gets members, must stay put
    init = [[0.2] * 4, [0.6] * 4, [99.0] * 4]
    res = core.lloyd(df, core.KMeansParams(k=3, thresh=1e-6, max_loop=5), init)
    assert res.centroids[2] == [99.0] * 4
    assert res.cluster_sizes[2] == 0


def test_mllib_path_runs(spark, points_df):
    from kmeanwithmapreduce_spark.kmeans.mllib import mllib_kmeans

    df, _ = points_df
    model, labeled = mllib_kmeans(df, k=3, seed=1, max_iter=20)
    assert labeled.select("cluster").distinct().count() == 3
    assert len(model.clusterCenters()) == 3


def test_lloyd_wide_dims_on_embeddings(spark, sf_dir):
    """64-dimensional path: unrolled distance still applies (d<=32 is
    the unroll bound, so this exercises the zip_with fold), and the
    d+1-column update aggregate."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feats = e.select(F.col("embedding").cast("array<float>").alias("features"))
    res = core.lloyd(
        feats, core.KMeansParams(k=6, seed=3, thresh=1e-3, max_loop=8)
    )
    assert len(res.centroids) == 6
    assert all(len(c) == 64 for c in res.centroids)
    assert sum(res.cluster_sizes.values()) == e.count()


def test_lloyd_on_lineitem_projection(spark, sf_dir):
    """The reference surface applied to the driver's testdata: numeric
    projection of lineitem as the point set."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        F.array(
            F.col("l_quantity"), F.col("l_extendedprice") / 1000.0,
            F.col("l_discount"), F.col("l_tax"),
        ).cast("array<float>").alias("features")
    )
    res = core.lloyd(df, core.KMeansParams(k=4, seed=42, thresh=0.01, max_loop=20))
    assert len(res.centroids) == 4
    assert res.n_iter >= 1
    labeled = core.label(df, res.centroids)
    dbi = core.davies_bouldin_index(labeled, res.centroids)
    assert math.isfinite(dbi)


@pytest.mark.skipif(
    not os.path.exists(CUSTOMER_DATA), reason="reference dataset not present"
)
def test_sweep_selects_lowest_dbi(spark):
    """The reference's docx §4.3 experiment shape: sweep k, fit per k,
    pick lowest DBI. Small range + loop cap keeps it fast; the selection
    contract (argmin over non-NaN DBIs) is what's pinned."""
    import math

    from kmeanwithmapreduce_spark.kmeans.sweep import sweep
    from kmeanwithmapreduce_spark.sources.readers import load_points_csv

    df = load_points_csv(spark, CUSTOMER_DATA, dim=7)
    out = sweep(df, [2, 3, 4], thresh=0.01, max_loop=8, seed=42, mode="compat")
    assert set(out["results"]) == {2, 3, 4}
    for r in out["results"].values():
        assert r["loop"] >= 1 and r["ms"] > 0
    valid = {k: r["dbi"] for k, r in out["results"].items()
             if not math.isnan(r["dbi"])}
    assert valid, "every k produced an empty cluster?"
    assert out["best_k"] == min(valid, key=valid.get)


def test_dbi_strict_compat_empty_cluster(spark, points_df):
    """Empty cluster: default DBI is NaN (honest undefined); strict
    compat reproduces the reference's -Infinity artifact — Main.java's
    ``if (db > max)`` from NEGATIVE_INFINITY rejects every NaN ratio, so
    the empty cluster's max stays -inf and poisons the mean. Both modes
    must agree exactly when no cluster is empty."""
    df, _ = points_df
    init = [[0.2] * 4, [0.6] * 4, [99.0] * 4]  # third never gets members
    res = core.lloyd(df, core.KMeansParams(k=3, thresh=1e-6, max_loop=5), init)
    labeled = core.label(df, res.centroids)
    assert math.isnan(core.davies_bouldin_index(labeled, res.centroids))
    strict = core.davies_bouldin_index(labeled, res.centroids, strict_compat=True)
    assert strict == float("-inf")

    # populated clusters: bit-identical across modes
    init2 = [[0.2] * 4, [0.5] * 4, [0.8] * 4]
    res2 = core.lloyd(df, core.KMeansParams(k=3, thresh=1e-6, max_loop=50), init2)
    lab2 = core.label(df, res2.centroids)
    a = core.davies_bouldin_index(lab2, res2.centroids)
    b = core.davies_bouldin_index(lab2, res2.centroids, strict_compat=True)
    assert a == b


def _wssse(spark, df, centroids, feats="features"):
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.functions.vector import distance_array_expr

    return df.select(
        F.sum(F.array_min(distance_array_expr(F.col(feats), centroids))).alias("c")
    ).collect()[0]["c"]


def test_kmeans_parallel_init_quality_and_determinism(spark, sf_dir):
    """Native k-means|| init (Bahmani et al.): (a) deterministic — same
    seed reproduces the same centers bit-for-bit (content-hash draws, no
    partition-dependent rand); (b) better seeding than random init on
    clustered data; (c) the full fit lands within 1.2x of MLlib's
    k-means|| cost on the same corpus — the capability-gap closure
    between k01 (core) and k03 (MLlib)."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    feats = e.select(F.col("embedding").cast("array<float>").alias("features"))
    k = 10

    i1 = core.init_kmeans_parallel(feats, k, seed=7)
    i2 = core.init_kmeans_parallel(feats, k, seed=7)
    assert i1 == i2
    assert len(i1) == k and len({tuple(c) for c in i1}) == k

    rand_init = core.init_random_centroids(feats, k, seed=7)
    assert _wssse(spark, feats, i1) < _wssse(spark, feats, rand_init)

    res = core.lloyd(
        feats,
        core.KMeansParams(k=k, seed=7, thresh=1e-4, max_loop=20, init="k-means||"),
    )
    ours = _wssse(spark, feats, res.centroids)

    from kmeanwithmapreduce_spark.kmeans.mllib import mllib_kmeans

    model, _ = mllib_kmeans(feats, k=k, seed=7, max_iter=20)
    mllib_cost = _wssse(
        spark, feats, [list(map(float, c)) for c in model.clusterCenters()]
    )
    assert ours <= 1.2 * mllib_cost, (ours, mllib_cost)
