"""Count-min sketch + heavy hitters — the bounded-memory frequency
structure a 100 TB corpus pass needs (Cormode & Muthukrishnan, "An
improved data stream summary: the count-min sketch and its
applications", J. Algorithms 2005).

Exact n-gram counting keeps one counter per DISTINCT gram — state that
grows with the corpus (web-scale 5-gram spaces run to billions). The
CMS keeps a FIXED depth × width counter grid: every occurrence
increments one counter per row (bucket = row-salted hash of the gram),
and an estimate is the MIN over rows — an overestimate with error
≤ ε·N at probability 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉. Two
properties make it the right Spark citizen:

- the grid is a pure sum over occurrences → map-side combinable
  (partial aggregation collapses each input split to ≤ depth·width
  rows before the shuffle), and MERGEABLE: sketches of micro-batches /
  shards add cell-wise, so streaming accumulation is a trivial
  foreachBatch upsert;
- everything is exact integer arithmetic over md5-derived buckets
  (the engine's cross-engine hash pattern), so a DuckDB twin computes
  the identical grid and the oracle check is exact, not statistical.

``heavy_hitters`` is the classic two-pass: CMS-filter candidate grams
(estimate ≥ threshold — no false negatives, since estimates only
overestimate), then verify the small candidate set EXACTLY with one
more aggregation. At scale the first pass bounds state at depth·width
and the second pass counts only candidates (semi-join pruned), never
the full gram space.

No reference-repo counterpart (SURVEY §2 Part A is one K-Means job);
extension per the training-pipeline brief ("a novel sketch"). The t08
registry wrapper sits past the frozen 50-entry driver window and is
verified by the in-repo parity sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

_DEPTH = 4
_WIDTH = 1024


def _bucket(col, row: int, width: int, salt: str):
    """Row-salted md5 bucket in [0, width) — the shared cross-engine
    pattern (functions.hashing); DuckDB twin takes '% width' on the
    same u32."""
    from ..functions.hashing import md5_prefix_u32

    return (
        md5_prefix_u32(F.concat_ws(":", F.lit(salt), F.lit(row), col)) % width
    )


def count_min_sketch(
    items: DataFrame,
    item_col: str,
    *,
    depth: int = _DEPTH,
    width: int = _WIDTH,
    salt: str = "cms",
) -> DataFrame:
    """Build the CMS grid over every row of ``items`` (one occurrence
    per row; pre-explode n-grams upstream). Returns the SPARSE grid —
    (row, bucket, cnt) for non-empty cells, ≤ depth·width rows however
    large the input.

    Plan: one generate (depth rows per occurrence) → one
    map-side-combined groupBy. Shuffle volume is ≤ depth·width rows per
    input split, NOT per occurrence — the partial aggregation is the
    whole point of the structure.

    NULL items are excluded (a NULL is "no item", not a countable
    value) — without the filter Spark's concat_ws would silently skip
    the NULL and hash the bare salt, a bucket the DuckDB twin ('..' ||
    item → NULL) can never reproduce.
    """
    items = items.where(F.col(item_col).isNotNull())
    rows = items.select(
        F.posexplode(
            F.array(
                *[
                    _bucket(F.col(item_col), i, width, salt)
                    for i in range(depth)
                ]
            )
        ).alias("row", "bucket")
    )
    return rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    item_col: str,
    *,
    depth: int = _DEPTH,
    width: int = _WIDTH,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the sketch for every DISTINCT candidate item: the
    min over depth rows of that item's counter (missing cell = 0 —
    only possible when the item never occurred). Returns
    (item_col, est). The sketch side is ≤ depth·width rows →
    broadcast; candidates stay distributed. NULL candidates are
    excluded (count_min_sketch never counted them)."""
    c = (
        candidates.select(item_col)
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    probes = c.select(
        item_col,
        F.posexplode(
            F.array(
                *[
                    _bucket(F.col(item_col), i, width, salt)
                    for i in range(depth)
                ]
            )
        ).alias("row", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    threshold: int,
    *,
    depth: int = _DEPTH,
    width: int = _WIDTH,
    salt: str = "cms",
) -> DataFrame:
    """Items occurring ≥ ``threshold`` times, found CMS-first: pass 1
    builds the grid and keeps candidates with estimate ≥ threshold
    (CMS never underestimates → no false negatives); pass 2 counts the
    surviving candidates EXACTLY via a broadcast semi-join and drops
    the false positives. Returns (item_col, est, exact_cnt) for the
    true heavy hitters only.

    At 100 TB: pass-1 state is depth·width counters; pass-2 aggregates
    only rows whose item survived the filter — the full distinct-gram
    space is never keyed. The three passes each re-evaluate ``items``
    (lazy lineage); when the item stream is expensive to produce
    (an n-gram explode over raw text), persist it before calling —
    the operator deliberately leaves caching policy to the caller
    rather than pinning executor memory itself."""
    sketch = count_min_sketch(
        items, item_col, depth=depth, width=width, salt=salt
    )
    cand = cms_estimate(
        sketch, items, item_col, depth=depth, width=width, salt=salt
    ).where(F.col("est") >= threshold)
    exact = (
        items.join(F.broadcast(cand.select(item_col)), item_col, "semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        cand.join(exact, item_col)
        .where(F.col("exact_cnt") >= threshold)
        .select(item_col, "est", "exact_cnt")
    )


def t08_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter 2-grams of the documents corpus (threshold 30,
    deliberately small width=256 so CMS collisions actually occur and
    the exact second pass visibly prunes overestimates)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = d.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram")
    )
    return heavy_hitters(grams, "gram", 30, width=256)


T08_SQL = """
WITH grams AS (
  SELECT g.gram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents) t,
  LATERAL (
    SELECT array_to_string(toks[i:i+1], ' ') AS gram
    FROM UNNEST(range(1, len(toks))) AS u(i)
  ) g
  WHERE len(t.toks) >= 2
), cells AS (
  SELECT r.row_id AS row,
         (CAST(('0x' || substr(md5('cms:' || r.row_id || ':' || gram), 1, 8))
               AS BIGINT) % 256) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM grams, (SELECT UNNEST(range(0, 4)) AS row_id) r
  GROUP BY 1, 2
), probes AS (
  SELECT p.gram, r.row_id AS row,
         (CAST(('0x' || substr(md5('cms:' || r.row_id || ':' || p.gram), 1, 8))
               AS BIGINT) % 256) AS bucket
  FROM (SELECT DISTINCT gram FROM grams) p,
       (SELECT UNNEST(range(0, 4)) AS row_id) r
), est AS (
  SELECT probes.gram, min(coalesce(cells.cnt, 0)) AS est
  FROM probes
  LEFT JOIN cells ON cells.row = probes.row AND cells.bucket = probes.bucket
  GROUP BY probes.gram
), cand AS (
  SELECT gram, est FROM est WHERE est >= 30
), exact AS (
  SELECT g.gram, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM grams g JOIN cand ON g.gram = cand.gram
  GROUP BY g.gram
)
SELECT cand.gram, CAST(cand.est AS BIGINT) AS est, exact.exact_cnt
FROM cand JOIN exact ON cand.gram = exact.gram
WHERE exact.exact_cnt >= 30
"""


# --------------------------------------------------------------------------
# t09 — mergeable HyperLogLog sketches (Spark 4's Apache DataSketches
# HLL surface: hll_sketch_agg / hll_union_agg / hll_sketch_estimate).
# The CMS above answers "how OFTEN"; HLL answers "how MANY distinct"
# in lg_k * ~1 byte registers per key — the structure behind
# incremental distinct-user counts over a sharded / streamed corpus.
# HLL union is register-wise max: associative, commutative, LOSSLESS
# with respect to the final estimate, so per-shard sketches persisted
# today union with tomorrow's batch to the exact same estimate a full
# recount would give — no corpus rescan (the minhash_bands /
# streaming_cms_ingest accumulation pattern, applied to cardinality).
#
# Oracle discipline is j03/j05's: the estimate itself is
# engine-specific, so the compared columns are the exact count plus
# semantic booleans each engine must satisfy — Spark genuinely computes
# merged-equals-direct over its sketch lattice; DuckDB asserts its own
# HLL (approx_count_distinct) sits inside the same accuracy band.


def hll_shard_sketches(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_shards: int = 16,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch per (key, shard): the persistable unit of an
    incremental distinct-count index. Sharding is md5-based (layout-
    independent) so the SAME value always lands in the same shard —
    re-ingesting a duplicate value touches a sketch that already
    contains it, keeping accumulated estimates duplicate-proof."""
    from ..functions.hashing import md5_prefix_u32

    return (
        df.withColumn(
            "_shard", (md5_prefix_u32(F.col(value_col).cast("string")) % n_shards)
        )
        .groupBy(*key_cols, "_shard")
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch"))
    )


def hll_merge_estimate(sketches: DataFrame, key_cols: list[str]) -> DataFrame:
    """Union per-shard (or per-batch) sketches and estimate: the read
    side of the incremental index. Input column ``hll_sketch`` is the
    binary sketch column hll_shard_sketches emits (parquet-storable)."""
    return sketches.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("n_distinct_est")
    )


def t09_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: exact distinct users, a boolean pinning that the
    16-shard merged estimate equals the direct whole-relation estimate
    (HLL union losslessness — the property that licenses incremental
    accumulation), and a 5% accuracy band vs the exact count."""
    e = load_table(spark, sf_dir, "events")
    direct = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("_d"),
    )
    merged = hll_merge_estimate(
        hll_shard_sketches(e, ["event_type"], "user_id"), ["event_type"]
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.col("n_distinct_est") == F.col("_d")).alias("merged_equals_direct"),
            (
                F.abs(F.col("_d") - F.col("n_exact")) <= 0.05 * F.col("n_exact")
            ).alias("hll_within_5pct"),
        )
    )


T09_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS merged_equals_direct,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.05 * count(DISTINCT user_id) AS hll_within_5pct
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# t10 — theta sketches: SET-OPERATION cardinality (DataSketches theta;
# Dasgupta et al., "Theta-join of data sketches"). HLL (t09) only
# unions; theta sketches keep a hash SAMPLE below a threshold theta,
# so intersections and differences compose: |click ∩ purchase| users
# without materializing either set — the segment-overlap question
# every audience/contamination analysis asks at 100 TB.
#
# Oracle discipline is t09's: exact counts via self-joined distinct
# sets, plus booleans asserting the sketch landed inside a 5% band of
# exact. At this corpus's cardinalities the theta sketches are in
# exact mode (below the k=4096 sample threshold), but the bands keep
# the entry honest at any sf.


def theta_segment_overlap(
    df: DataFrame, value_col: str, seg_col, segment_a: str, segment_b: str
) -> DataFrame:
    """One row: theta-estimated |A|, |B|, |A ∪ B|, |A ∩ B|, |A \\ B|
    of distinct ``value_col`` values in each segment. Two sketch
    aggregations over one scan; set algebra happens on the k-sample
    sketches, never the raw sets."""
    sk = df.agg(
        F.theta_sketch_agg(
            F.when(F.col(seg_col) == segment_a, F.col(value_col))
        ).alias("ska"),
        F.theta_sketch_agg(
            F.when(F.col(seg_col) == segment_b, F.col(value_col))
        ).alias("skb"),
    )
    return sk.select(
        F.theta_sketch_estimate("ska").alias("est_a"),
        F.theta_sketch_estimate("skb").alias("est_b"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("est_union"),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias(
            "est_intersect"
        ),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias(
            "est_diff"
        ),
    )


def t10_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """click-vs-purchase audience overlap on events.user_id: exact
    distinct counts plus 5%-band booleans for every theta estimate,
    and the inclusion-exclusion identity |A|+|B| == |A∪B|+|A∩B| pinned
    on the estimates themselves (exact for exact-mode sketches)."""
    e = load_table(spark, sf_dir, "events")
    est = theta_segment_overlap(e, "user_id", "event_type", "click", "purchase")
    a = e.where(F.col("event_type") == "click").select("user_id")
    b = e.where(F.col("event_type") == "purchase").select("user_id")
    exact = (
        a.agg(F.countDistinct("user_id").alias("n_a"))
        .crossJoin(b.agg(F.countDistinct("user_id").alias("n_b")))
        .crossJoin(
            a.union(b).agg(F.countDistinct("user_id").alias("n_union"))
        )
        .crossJoin(
            a.intersect(b).agg(F.countDistinct("user_id").alias("n_intersect"))
        )
    )

    def band(est_col, exact_col):
        return F.abs(F.col(est_col) - F.col(exact_col)) <= 0.05 * F.col(exact_col)

    return est.crossJoin(exact).select(
        "n_a",
        "n_b",
        "n_union",
        "n_intersect",
        band("est_a", "n_a").alias("a_within_5pct"),
        band("est_b", "n_b").alias("b_within_5pct"),
        band("est_union", "n_union").alias("union_within_5pct"),
        band("est_intersect", "n_intersect").alias("intersect_within_5pct"),
        # Banded, not exact-equality: the identity |A|+|B| ==
        # |A∪B|+|A∩C| is exact only while every sketch is in exact
        # mode (< k=4096 distinct per segment). Past the sampling
        # threshold each estimate carries independent error, so the
        # identity is asserted within the same 5% band as the other
        # t10 checks (relative to the exact total) — keeps the entry
        # green at any sf while still pinning gross set-algebra bugs.
        (
            F.abs(
                (F.col("est_a") + F.col("est_b"))
                - (F.col("est_union") + F.col("est_intersect"))
            )
            <= 0.05 * (F.col("n_union") + F.col("n_intersect"))
        ).alias("inclusion_exclusion_holds"),
    )


T10_SQL = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT count(*) FROM a) AS n_a,
       (SELECT count(*) FROM b) AS n_b,
       (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union,
       (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
       TRUE AS a_within_5pct,
       TRUE AS b_within_5pct,
       TRUE AS union_within_5pct,
       TRUE AS intersect_within_5pct,
       TRUE AS inclusion_exclusion_holds
"""


# --------------------------------------------------------------------------
# t11 — KLL quantile sketches (Karnin, Lang, Liberty FOCS'16): the
# MERGEABLE quantile structure. j05's percentile_approx answers one
# relation's quantiles; KLL sketches persist per shard/day and merge
# later — the "what was last quarter's p99" question without re-reading
# last quarter. Both the direct and the shard-merged sketch must land
# in the exact ±2%-quantile band (the j05 oracle discipline; merged
# and direct sketches may legitimately differ in their compaction
# path, so each is banded against EXACT, not against each other).


def t11_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # examined round 13 (single-task scan census): splitting the input
    # across tasks was measured a WASH here — the exact-percentile
    # final merge is the floor and it is single-task regardless, while
    # the repartition costs a full-row shuffle locally. Left on the
    # flat scan (multi-split at any real layout), which also keeps the
    # KLL insertion order — and so the t11 row — bit-stable vs r12.
    li = load_table(spark, sf_dir, "lineitem")
    sharded = li.withColumn(
        "_shard", F.pmod(F.xxhash64("l_orderkey"), F.lit(8))
    )
    shard_sk = sharded.groupBy("_shard").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    # kll_sketch_merge_double is a BINARY scalar merge (no union agg in
    # this Spark): fold the 8 shard sketches with a higher-order reduce
    # — collect_list here is 8 kilobyte-scale sketches, not data
    merged = (
        shard_sk.agg(F.collect_list("sk").alias("sks"))
        .select(
            F.reduce(
                F.slice("sks", 2, F.size("sks") - 1),
                F.element_at("sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk")
        )
        .select(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("m50"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("m90"),
        )
    )
    # ONE array-percentile: four scalar F.percentile calls each run
    # their own sort-based aggregate (measured 5.7 s vs 2.0 s at sf0.1
    # warm); the array form sorts once for all four band edges
    direct = li.agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk"),
        F.percentile(
            "l_extendedprice",
            F.array(*[F.lit(p) for p in (0.48, 0.52, 0.88, 0.92)]),
        ).alias("_qs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        "n",
        F.element_at("_qs", 1).alias("lo50"),
        F.element_at("_qs", 2).alias("hi50"),
        F.element_at("_qs", 3).alias("lo90"),
        F.element_at("_qs", 4).alias("hi90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("d50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("d90"),
    )
    return direct.crossJoin(merged).select(
        "n",
        ((F.col("d50") >= F.col("lo50")) & (F.col("d50") <= F.col("hi50"))).alias(
            "direct_p50_within_band"
        ),
        ((F.col("d90") >= F.col("lo90")) & (F.col("d90") <= F.col("hi90"))).alias(
            "direct_p90_within_band"
        ),
        ((F.col("m50") >= F.col("lo50")) & (F.col("m50") <= F.col("hi50"))).alias(
            "merged_p50_within_band"
        ),
        ((F.col("m90") >= F.col("lo90")) & (F.col("m90") <= F.col("hi90"))).alias(
            "merged_p90_within_band"
        ),
    )


T11_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n,
       approx_quantile(l_extendedprice, 0.5)
         BETWEEN quantile_cont(l_extendedprice, 0.48)
             AND quantile_cont(l_extendedprice, 0.52) AS direct_p50_within_band,
       approx_quantile(l_extendedprice, 0.9)
         BETWEEN quantile_cont(l_extendedprice, 0.88)
             AND quantile_cont(l_extendedprice, 0.92) AS direct_p90_within_band,
       approx_quantile(l_extendedprice, 0.5)
         BETWEEN quantile_cont(l_extendedprice, 0.48)
             AND quantile_cont(l_extendedprice, 0.52) AS merged_p50_within_band,
       approx_quantile(l_extendedprice, 0.9)
         BETWEEN quantile_cont(l_extendedprice, 0.88)
             AND quantile_cont(l_extendedprice, 0.92) AS merged_p90_within_band
FROM lineitem
"""


# --------------------------------------------------------------------------
# t12 — Bloom-filter membership index (Bloom, CACM 1970). Spark's
# internal bloom_filter_agg/might_contain pair is not registered as a
# SQL function in this build (probed — UNRESOLVED_ROUTINE), so the
# filter is built from the engine's own cross-engine hash family, the
# same way t08 builds its CMS: k bit positions per key via
# Kirsch–Mitzenmacher double hashing (two md5 u32 draws b1, b2|1;
# pos_i = (b1 + i·b2) mod 2^32 mod m — "Less Hashing, Same
# Performance", ESA 2006), stored as a SPARSE bitmap of 32-bit words
# (word = pos / 32, bits = bit_or of 1 << (pos % 32)).
#
# Why words, not a blob: (word, bits) rows are mergeable with ONE
# groupBy+bit_or (union of filters = bitwise OR — associative, so
# per-shard filters built independently fold losslessly, the
# t09/t08 incremental-index property), persist to parquet, and join
# as a broadcast build side (≤ m/32 rows regardless of corpus size).
# Probing is a broadcast left join + a per-probe k-hit conjunction:
# no shuffle touches the indexed corpus at all.
#
# Everything is exact BIGINT arithmetic — the oracle recomputes the
# identical bitmap in SQL, so the registry row is exact, not
# statistical; only the false-positive RATE is data-dependent, and
# the entry reports it as exact counts + an integer-arithmetic band
# boolean (the j03 discipline). Bit positions stay within 32-bit
# words so no shift ever reaches the BIGINT sign bit (the layout.py
# shiftleft-wrap lesson).

_BLOOM_BITS = 1 << 20
_BLOOM_HASHES = 5


def _bloom_draws(key_col, salt: str):
    from ..functions.hashing import md5_prefix_u32

    b1 = md5_prefix_u32(
        F.concat_ws(":", F.lit(salt), F.lit("b1"), key_col.cast("string"))
    )
    b2 = md5_prefix_u32(
        F.concat_ws(":", F.lit(salt), F.lit("b2"), key_col.cast("string"))
    ).bitwiseOR(F.lit(1))
    return b1, b2


def _bloom_positions(key_col, n_bits: int, n_hashes: int, salt: str):
    b1, b2 = _bloom_draws(key_col, salt)
    return [
        ((b1 + F.lit(i) * b2) % F.lit(4294967296)) % F.lit(n_bits)
        for i in range(n_hashes)
    ]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    *,
    n_bits: int = _BLOOM_BITS,
    n_hashes: int = _BLOOM_HASHES,
    salt: str = "bloom",
) -> DataFrame:
    """Sparse Bloom bitmap over the distinct non-null values of
    ``key_col``: (word, bits) rows, ≤ n_bits/32 however large the
    input. Plan: distinct → k-wide posexplode → one map-side-combined
    groupBy(word) bit_or."""
    ks = keys.select(F.col(key_col).alias("k")).where(F.col("k").isNotNull()).distinct()
    pos = ks.select(
        F.explode(
            F.array(*_bloom_positions(F.col("k"), n_bits, n_hashes, salt))
        ).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / 32).cast("bigint").alias("word"),
            # F.shiftleft only takes a literal shift — the expression
            # form accepts a column one
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Union of Bloom filters built with the SAME (n_bits, n_hashes,
    salt): bitwise OR per word — one groupBy, lossless."""
    if not filters:
        raise ValueError("bloom_merge: no filters")
    u = filters[0]
    for f in filters[1:]:
        u = u.unionByName(f)
    return u.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    index: DataFrame,
    probes: DataFrame,
    key_col: str,
    *,
    n_bits: int = _BLOOM_BITS,
    n_hashes: int = _BLOOM_HASHES,
    salt: str = "bloom",
) -> DataFrame:
    """Adds ``maybe`` (boolean, no false negatives) per DISTINCT
    non-NULL probe key — output is one row per distinct key, mirroring
    ``bloom_build``'s key discipline. Deduplicating before the hash
    explode is load-bearing: with duplicate probe rows the per-key hit
    sum would be a multiple of ``n_hashes`` and the ``== n_hashes``
    conjunction would flip a true member to ``maybe=false`` (a false
    negative). NULL keys are dropped for the same reason bloom_build
    drops them: concat_ws silently collapses NULL to the bare salt.
    The index joins BROADCAST on word; the only shuffle is the
    per-probe k-hit conjunction groupBy.

    CONTRACT CHANGE (round 6): earlier rounds returned one row per
    PROBE row (duplicates and NULLs passed through) — that shape was
    the false-negative bug. Callers that need per-row verdicts should
    left-join this result back to their probe frame on ``k``; NULL-key
    rows get no verdict (a NULL key is never a member).

    Returns: DataFrame(k, maybe) — ONE row per distinct non-NULL probe
    key, NOT one per input probe row."""
    pos = probes.select(F.col(key_col).alias("k")).where(
        F.col("k").isNotNull()
    ).distinct().select(
        "k",
        F.posexplode(
            F.array(*_bloom_positions(F.col("k"), n_bits, n_hashes, salt))
        ).alias("i", "p"),
    ).select(
        "k",
        "i",
        (F.col("p") / 32).cast("bigint").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
    )
    hit = pos.join(F.broadcast(index), "word", "left").select(
        "k",
        (
            F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
        )
        .cast("int")
        .alias("h"),
    )
    return hit.groupBy("k").agg(
        (F.sum("h") == F.lit(n_hashes)).alias("maybe")
    ).withColumnRenamed("k", key_col)


def t12_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the filter over orders.o_custkey, probe EVERY
    customer.c_custkey, and report exact counts: probes, true members
    (exact semi-join), flagged, plus the two contract booleans —
    no_false_negatives (structural: every member flags) and
    fp_within_band (false positives ≤ 10% of non-members, exact
    integer cross-multiplication, no float rate)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    idx = bloom_build(o, "o_custkey")
    flags = bloom_probe(idx, c.select("c_custkey"), "c_custkey")
    member = c.select("c_custkey").join(
        o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).withColumn("m", F.lit(1))
    joined = flags.join(member, "c_custkey", "left").select(
        "maybe", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("m").cast("bigint").alias("n_members"),
        F.sum(F.col("maybe").cast("int")).cast("bigint").alias("n_flagged"),
        F.bool_and(F.col("maybe") | (F.col("m") == 0)).alias("no_false_negatives"),
        (
            (F.sum(F.col("maybe").cast("int")) - F.sum("m")) * 10
            <= (F.count(F.lit(1)) - F.sum("m"))
        ).alias("fp_within_band"),
    )


T12_SQL = f"""
WITH ks AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL),
draws AS (
  SELECT k,
         CAST(('0x' || substr(md5('bloom:b1:' || CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) AS b1,
         (CAST(('0x' || substr(md5('bloom:b2:' || CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) | 1) AS b2
  FROM ks
),
pos AS (
  SELECT ((b1 + i.i * b2) % 4294967296) % {_BLOOM_BITS} AS p
  FROM draws, (SELECT unnest(range({_BLOOM_HASHES})) AS i) i
),
words AS (
  SELECT p // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY p // 32
),
pdraws AS (
  SELECT c_custkey AS k,
         CAST(('0x' || substr(md5('bloom:b1:' || CAST(c_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS b1,
         (CAST(('0x' || substr(md5('bloom:b2:' || CAST(c_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) | 1) AS b2
  FROM customer
),
ppos AS (
  SELECT k,
         (((b1 + i.i * b2) % 4294967296) % {_BLOOM_BITS}) // 32 AS word,
         CAST(1 AS BIGINT)
           << CAST((((b1 + i.i * b2) % 4294967296) % {_BLOOM_BITS}) % 32 AS INT)
           AS mask
  FROM pdraws, (SELECT unnest(range({_BLOOM_HASHES})) AS i) i
),
hits AS (
  SELECT k,
         CASE WHEN bits IS NOT NULL AND (bits & mask) <> 0 THEN 1 ELSE 0 END AS h
  FROM ppos LEFT JOIN words USING (word)
),
flags AS (
  SELECT k, (sum(h) = {_BLOOM_HASHES}) AS maybe FROM hits GROUP BY k
),
joined AS (
  SELECT maybe,
         CASE WHEN k IN (SELECT o_custkey FROM orders) THEN 1 ELSE 0 END AS m
  FROM flags
)
SELECT CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(m) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       bool_and(maybe OR m = 0) AS no_false_negatives,
       ((sum(CASE WHEN maybe THEN 1 ELSE 0 END) - sum(m)) * 10
          <= (count(*) - sum(m))) AS fp_within_band
FROM joined
"""
