"""PageRank over a DataFrame edge list — the ranking companion to
corpus.py's connected components on the same near-dup / citation /
link graphs (Page, Brin, Motwani, Winograd 1999; the Spark-idiomatic
join formulation follows the published GraphX/Pregel decomposition).

Use in this engine: given d03/d02 near-dup pairs or any reference
graph over documents, PageRank scores centrality — e.g. to pick the
CANONICAL doc of a dup cluster by authority instead of min-id, or to
weight quality sampling toward well-linked sources.

Scale notes (the things that decide 100 TB viability):
- per iteration: ONE shuffle keyed by edge source (contribution join)
  + ONE groupBy the destination — both partial-aggregated map-side;
  rank state is one row per node, edges stream through.
- out-degrees are computed once, joined into the edge relation once,
  and the combined frame is checkpointed BEFORE the loop: iterations
  re-read a materialized edges+degree relation, they never re-derive
  it (nor grow lineage — same per-round checkpoint-and-release
  discipline as connected_components, pluggable local/reliable).
- dangling mass (nodes with no out-edges) is folded back uniformly:
  one scalar aggregate per iteration, collected as a single double —
  without it rank mass leaks and scores of sink-heavy graphs drift.
- convergence probe is the L1 delta — one join+agg on the k-row-per-
  node rank frames, collected as one scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .corpus import _make_checkpointer, _release_checkpoint


def pagerank(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    checkpoint: str = "local",
) -> DataFrame:
    """Rank every node of the DIRECTED edge list; returns (node, rank)
    with ranks summing to ~1. Undirected graphs: pass both directions
    (e.g. ``edges.union(edges.select(dst, src))``).

    Stops when the L1 rank delta drops below ``tol`` or after
    ``max_iter`` iterations. Deterministic up to float aggregation
    order (merge-order ulps — tests compare against a NumPy reference
    within 1e-9, not bit-exact)."""
    ckpt = _make_checkpointer(edges, checkpoint)

    # emptiness check BEFORE any eager checkpoint exists — an early
    # return must not leak a persisted RDD the caller can't release
    if edges.limit(1).count() == 0:
        return edges.select(F.col(src).alias("node"), F.lit(0.0).alias("rank"))

    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # materialize ONCE, iterate many: the (src, dst, out_deg) relation,
    # the node set, and the sink set all derive from (possibly
    # expensive) upstream plans — none may re-execute per round
    ed = ckpt(
        edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst")).join(
            deg, "node"
        )
    )
    nodes = ckpt(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    base = (1.0 - damping) / n

    # the per-iteration dangling-mass probe is a semi join against this
    # small frame, not a re-aggregation of the full edge relation
    dangling_nodes = ckpt(nodes.join(deg, "node", "left_anti"))
    ranks = ckpt(nodes.select("node", F.lit(1.0 / n).alias("rank")))
    old_ckpts = [ed, nodes, dangling_nodes, ranks]
    for _ in range(max_iter):
        contribs = (
            ed.join(ranks, "node")
            .select(
                F.col("_dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        # dangling nodes (no out-edges) spread their mass uniformly
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        new_ranks = ckpt(
            nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        delta = (
            new_ranks.join(ranks.withColumnRenamed("rank", "_old"), "node")
            .agg(F.sum(F.abs(F.col("rank") - F.col("_old"))))
            .first()[0]
        )
        _release_checkpoint(ranks)
        old_ckpts.remove(ranks)
        ranks = new_ranks
        old_ckpts.append(ranks)
        if delta is not None and delta < tol:
            break
    result = ranks
    result._spark_graft_ckpts = tuple(old_ckpts)  # noqa: SLF001
    return result


def top_authority_per_component(
    ranks: DataFrame, components: DataFrame, k: int = 1
) -> DataFrame:
    """Join PageRank scores onto connected-components output and keep
    the k highest-authority nodes per component (rank DESC, node ASC
    tie-break) — the authority-based canonical-doc selection for dup
    clusters. Plans with the WindowGroupLimit partial top-k (bounded
    per-group shuffle, q09's whale-group property)."""
    w = Window.partitionBy("component").orderBy(
        F.col("rank").desc(), F.col("node").asc()
    )
    return (
        components.join(ranks, "node")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


# --------------------------------------------------------------------------
# g01 — degree-oriented triangle census on the co-purchase graph


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edge list: one edge (p1 < p2) per pair of
    distinct parts appearing in the same order. Generated in ONE
    aggregation — per-order sorted distinct part array (bounded: a
    TPC-H-shaped order holds <= 7 lineitems), then JVM-side higher-order
    combination expansion — instead of the lineitem self-join on
    l_orderkey, which would shuffle the full fact table twice to build
    the same pairs."""
    parts = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("e")
        )
        .select("e.p1", "e.p2")
        .distinct()
    )


def triangle_census(edges: DataFrame, checkpoint: str = "local") -> DataFrame:
    """Exact global triangle/wedge census of an undirected edge list
    (columns p1 < p2): one row (n_nodes, n_edges, n_wedges,
    n_triangles). n_wedges = sum_v C(deg(v), 2) (open+closed paths of
    length 2) so global clustering = 3*n_triangles / n_wedges.

    Scale shape (Schank-Wagner orientation, the MR form of Suri &
    Vassilvitskii 2011): each edge is DIRECTED from its lower-(degree,
    node) endpoint to the higher, which caps every out-degree at
    O(sqrt(m)); the wedge join (e1.dst = e2.src) then materializes at
    most sum d_out^2 <= m^1.5 candidate wedges instead of the
    sum d^2 of the naive form, which a single whale node (a part in
    millions of orders) would otherwise blow up quadratically. Wedge
    closure is one equi-join back against the oriented edge set, and
    every join key is hash-partitionable — no broadcast of the big
    side, no driver materialization; the three 1-row stat frames
    cross-join at the end.

    The edge list and the oriented edge list are each MATERIALIZED once
    (checkpoint-and-release discipline shared with
    connected_components/pagerank, same local/reliable knob): the
    census reads the edge set 3x and the oriented set 3x, and without
    lineage truncation Catalyst re-derives the full upstream pipeline
    (the lineitem scan + groupBy + distinct for g01) at EVERY use —
    nine scans of the fact table at 100 TB. Free with
    corpus.release_components(result) after the last action."""
    ckpt = _make_checkpointer(edges, checkpoint)
    edges = ckpt(edges)
    deg = (
        edges.select(F.col("p1").alias("node"))
        .unionAll(edges.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("da"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("p1") < F.col("p2"))
    )
    oe = ckpt(
        edges.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
    )
    e1 = oe.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oe.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oe.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b").select("a", "c")
    tri = wedges.join(e3, ["a", "c"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    # exact integer wedge count: d*(d-1) is even, so DIV 2 is lossless;
    # the per-node term goes through decimal(38,0) before the sum so a
    # whale node (d ~ 1e6 -> 5e11 wedges) can never push the
    # accumulation past double precision or wrap a long (the
    # _edge_signature decimal precedent in corpus.py). coalesce: sum
    # over an EMPTY edge list is NULL, and this column is documented as
    # an exact count — 0 wedges, like pagerank's empty-graph contract.
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(
            F.sum(F.expr("CAST(d * (d - 1) DIV 2 AS DECIMAL(38,0))")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_wedges"),
    )
    edge_count = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    result = node_stats.crossJoin(edge_count).crossJoin(tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )
    result._spark_graft_ckpts = (edges, oe)  # noqa: SLF001
    return result


def g01_copurchase_triangles(spark, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are linked
    when some order contains both) — the market-basket affinity
    structure; clustering coefficient = 3*n_triangles/n_wedges.

    The census result is ONE row, so it is collected here and the
    checkpointed edge state released immediately (k01's bounded-collect
    pattern) — a registry entry must not leave executor blocks behind
    after the driver consumes it."""
    from ..sources.readers import load_table
    from .corpus import release_components

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    census = triangle_census(copurchase_edges(li))
    try:
        row = census.collect()[0]
    finally:
        release_components(census)
    return spark.createDataFrame(
        [tuple(row)], "n_nodes bigint, n_edges bigint, n_wedges bigint, n_triangles bigint"
    )


# The oracle generates the same edge set with the plain self-join (the
# semantics; the engine's one-scan array expansion is the plan) and
# counts each triangle once as the ordered triple p1 < p2 < p3 — no
# orientation needed for correctness, only for scale.
G01_SQL = """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT p1 AS node FROM pairs UNION ALL SELECT p2 FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT count(*) AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.p2 = e2.p1
  JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT)
          FROM deg) AS n_wedges,
       (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles
"""


# --------------------------------------------------------------------------
# q39 — market-basket association metrics over the same co-purchase
# structure g01 counts triangles on: for the strongest part pairs,
# support (orders containing both / all orders), confidence (both /
# orders containing p1) and lift (support / product of marginals).
# Every ratio is an IEEE division of exact integer counts, so both
# engines compute bit-identical doubles — no rounding grid needed.
# Top-k is total-ordered (n_ab desc, p1, p2): deterministic LIMIT.
#
# Scale shape: pair counts come from the same ONE-scan bounded-array
# expansion as copurchase_edges (per-order <= 7 items, no fact
# self-join); item marginals and the order count are map-side-combined
# aggregates; the finisher joins are on the pair's two part keys
# (broadcastable marginals at any realistic part cardinality vs pair
# count). TakeOrderedAndProject handles the top-k without a global
# sort.
def q39_copurchase_lift(spark, sf_dir: str, k: int = 20) -> DataFrame:
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_counts = (
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("e")
        )
        .groupBy("e.p1", "e.p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    item_counts = (
        li.distinct()
        .groupBy(F.col("l_partkey").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    # k-row driver scalar, like k01's init. count_distinct over the raw
    # scan, NOT parts.count(): the latter re-ran the whole collect_set
    # groupBy (its exchange isn't reusable — Catalyst prunes the set
    # away for the count, so the subplans differ); this is the same
    # integer from a map-side-combined partial aggregate instead.
    # NULL semantics (round-13 ADVICE): count_distinct excludes NULL
    # keys where the old groupBy row count included a NULL group —
    # identical on TPC-H (l_orderkey is NOT NULL by spec and in every
    # generated corpus); a null-keyed input would also produce no
    # pairs for that group, so the lift denominator stays consistent
    # with the numerator either way.
    n_orders = int(
        li.agg(F.count_distinct("l_orderkey").alias("n")).first()["n"]
    )
    c1 = item_counts.select(
        F.col("node").alias("p1"), F.col("n_item").alias("n_a")
    )
    c2 = item_counts.select(
        F.col("node").alias("p2"), F.col("n_item").alias("n_b")
    )
    return (
        pair_counts.join(c1, "p1")
        .join(c2, "p2")
        .select(
            "p1",
            "p2",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab") / F.lit(n_orders)).alias("support"),
            (F.col("n_ab") / F.col("n_a")).alias("confidence"),
            (
                (F.col("n_ab") * F.lit(n_orders))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "p1", "p2")
        .limit(k)
    )


Q39_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair_counts AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
item_counts AS (
  SELECT l_partkey AS node, CAST(count(*) AS BIGINT) AS n_item
  FROM li GROUP BY 1
),
n_ord AS (SELECT count(DISTINCT l_orderkey) AS n FROM li)
SELECT p1, p2, n_ab, c1.n_item AS n_a, c2.n_item AS n_b,
       n_ab / (SELECT CAST(n AS DOUBLE) FROM n_ord) AS support,
       n_ab / CAST(c1.n_item AS DOUBLE) AS confidence,
       (n_ab * (SELECT n FROM n_ord))
         / CAST(c1.n_item * c2.n_item AS DOUBLE) AS lift
FROM pair_counts
JOIN item_counts c1 ON p1 = c1.node
JOIN item_counts c2 ON p2 = c2.node
ORDER BY n_ab DESC, p1, p2
LIMIT 20
"""
