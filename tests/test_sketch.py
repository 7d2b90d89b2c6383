"""Count-min sketch: the CMS guarantees (never underestimates, bounded
state, cell-wise mergeability) and the two-pass heavy-hitter contract
(no false negatives from pass 1, no false positives after pass 2).
t08's full DuckDB parity runs in tests/test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators.sketch import (
    cms_estimate,
    count_min_sketch,
    heavy_hitters,
)
from kmeanwithmapreduce_spark.sources.readers import load_table

_W = 256  # small width so collisions (overestimates) actually occur


def _grams(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
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


def test_cms_never_underestimates_and_collides_at_small_width(spark, sf_dir):
    grams = _grams(spark, sf_dir)
    sketch = count_min_sketch(grams, "gram", width=_W)
    est = cms_estimate(sketch, grams, "gram", width=_W)
    exact = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    joined = est.join(exact, "gram").select("gram", "est", "cnt").collect()
    assert len(joined) > 0
    assert all(r.est >= r.cnt for r in joined)  # the CMS invariant
    # width=256 over ~900 distinct grams MUST collide somewhere —
    # otherwise this test exercises nothing
    assert any(r.est > r.cnt for r in joined)


def test_cms_state_is_bounded_and_mergeable(spark, sf_dir):
    grams = _grams(spark, sf_dir)
    full = count_min_sketch(grams, "gram", width=_W)
    assert full.count() <= 4 * _W
    # cell-wise merge of two split sketches == sketch of the union
    # (the property that makes per-shard / per-micro-batch accumulation
    # correct)
    a = grams.where(F.crc32("gram") % 2 == 0)
    b = grams.where(F.crc32("gram") % 2 == 1)
    merged = (
        count_min_sketch(a, "gram", width=_W)
        .unionByName(count_min_sketch(b, "gram", width=_W))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    diff = merged.unionByName(full).groupBy("row", "bucket", "cnt").count()
    assert diff.where(F.col("count") != 2).count() == 0


def test_cms_absent_item_estimates_zero_or_collision(spark, sf_dir):
    grams = _grams(spark, sf_dir)
    sketch = count_min_sketch(grams, "gram", width=_W)
    ghost = spark.createDataFrame(
        [("never-seen-gram-xyzzy",)], "gram string"
    )
    est = cms_estimate(sketch, ghost, "gram", width=_W).collect()
    # an absent item may still collide into occupied cells (CMS
    # overestimates) but can never go negative, and with depth=4 at
    # this fill factor the min row is tiny
    assert len(est) == 1 and est[0].est >= 0


def test_heavy_hitters_two_pass_contract(spark, sf_dir):
    grams = _grams(spark, sf_dir)
    thr = 30
    exact = {
        r.gram: r.cnt
        for r in grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    true_hh = {g for g, c in exact.items() if c >= thr}
    sketch = count_min_sketch(grams, "gram", width=_W)
    cand = {
        r.gram
        for r in cms_estimate(sketch, grams, "gram", width=_W)
        .where(F.col("est") >= thr)
        .collect()
    }
    # pass 1: no false negatives (estimates only overestimate)...
    assert true_hh <= cand
    # ...and at width=256 on this corpus, pass 1 alone has false
    # positives for the exact pass to prune
    assert cand - true_hh
    out = {r.gram: r for r in heavy_hitters(grams, "gram", thr, width=_W).collect()}
    assert set(out) == true_hh
    assert all(r.exact_cnt == exact[g] and r.est >= r.exact_cnt for g, r in out.items())


def test_streaming_cms_accumulates_to_batch_sketch(spark, sf_dir, tmp_path):
    """Grams arrive in two micro-batches (availableNow +
    maxFilesPerTrigger=1); each epoch persists its own grid and the
    cell-wise sum of epochs must equal the one-shot batch sketch —
    mergeability doing real streaming work, with epoch-overwrite
    idempotence."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_accumulated_sketch,
        streaming_cms_ingest,
    )

    grams = _grams(spark, sf_dir)
    src = str(tmp_path / "src")
    grams.where(F.crc32("gram") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    grams.where(F.crc32("gram") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_cms_ingest(
        stream,
        "gram",
        sketch_path=str(tmp_path / "sketch"),
        checkpoint_path=str(tmp_path / "ckpt"),
        width=_W,
    )
    q.awaitTermination(120)
    import glob

    assert len(glob.glob(str(tmp_path / "sketch" / "epoch=*"))) >= 2
    acc = {
        (r.row, r.bucket): r.cnt
        for r in read_accumulated_sketch(spark, str(tmp_path / "sketch")).collect()
    }
    full = {
        (r.row, r.bucket): r.cnt
        for r in count_min_sketch(
            spark.read.parquet(src), "gram", width=_W
        ).collect()
    }
    assert acc == full


def test_cms_null_items_excluded(spark):
    rows = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "gram string"
    )
    clean = rows.where(F.col("gram").isNotNull())
    got = {
        (r.row, r.bucket): r.cnt
        for r in count_min_sketch(rows, "gram", width=_W).collect()
    }
    want = {
        (r.row, r.bucket): r.cnt
        for r in count_min_sketch(clean, "gram", width=_W).collect()
    }
    assert got == want
    est = cms_estimate(
        count_min_sketch(rows, "gram", width=_W), rows, "gram", width=_W
    ).collect()
    assert sorted(r.gram for r in est) == ["a", "b"]


# --------------------------------------------------------------------------
# t09 — mergeable HLL sketches


def test_hll_merged_estimate_shard_count_invariant(spark, sf_dir):
    """HLL union is register-wise max — the estimate from merged shard
    sketches must equal the direct whole-relation estimate under ANY
    sharding (1, 8, 64 shards)."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.operators.sketch import (
        hll_merge_estimate,
        hll_shard_sketches,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    direct = {
        r.event_type: r.est
        for r in e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
                "est"
            )
        )
        .collect()
    }
    for n_shards in (1, 8, 64):
        merged = {
            r.event_type: r.n_distinct_est
            for r in hll_merge_estimate(
                hll_shard_sketches(e, ["event_type"], "user_id", n_shards=n_shards),
                ["event_type"],
            ).collect()
        }
        assert merged == direct, f"n_shards={n_shards}"


def test_hll_persisted_index_accumulates_incrementally(spark, sf_dir, tmp_path):
    """The incremental-index contract (the minhash_bands pattern for
    cardinality): persist batch-1 sketches to parquet, union them with
    batch-2 sketches read-modify-free, and land on the estimate a full
    recount over batch-1 ∪ batch-2 would give — including the
    duplicate-value case (overlapping user_ids across batches must not
    double-count)."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.operators.sketch import (
        hll_merge_estimate,
        hll_shard_sketches,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    b1 = e.where(F.col("event_id") % 2 == 0)
    b2 = e.where(F.col("event_id") % 2 == 1)  # same users appear in both
    idx = str(tmp_path / "hll_index")
    hll_shard_sketches(b1, ["event_type"], "user_id").write.parquet(idx)

    accumulated = hll_merge_estimate(
        spark.read.parquet(idx).unionByName(
            hll_shard_sketches(b2, ["event_type"], "user_id")
        ),
        ["event_type"],
    )
    full = hll_merge_estimate(
        hll_shard_sketches(e, ["event_type"], "user_id"), ["event_type"]
    )
    got = {r.event_type: r.n_distinct_est for r in accumulated.collect()}
    want = {r.event_type: r.n_distinct_est for r in full.collect()}
    assert got == want


def test_hll_accuracy_band(spark, sf_dir):
    """t09's semantic booleans hold: merged==direct and the lgK=12
    estimate lands within 5% of exact on the real corpus."""
    from kmeanwithmapreduce_spark.operators.sketch import t09_hll_mergeable

    rows = t09_hll_mergeable(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.merged_equals_direct, r
        assert r.hll_within_5pct, r


def test_hll_sketch_column_is_storable_binary(spark, sf_dir):
    """The sketch column must be a plain BINARY — storable in parquet /
    shippable through shuffles without a custom type."""
    from kmeanwithmapreduce_spark.operators.sketch import hll_shard_sketches
    from kmeanwithmapreduce_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    schema = dict(hll_shard_sketches(e, ["event_type"], "user_id").dtypes)
    assert schema["hll_sketch"] == "binary"


def test_streaming_hll_accumulates_to_batch_estimate(spark, sf_dir, tmp_path):
    """user_ids arrive in two micro-batches with OVERLAPPING values
    across epochs (the duplicate case CMS counts double but HLL must
    not); the accumulated union estimate must equal the one-shot batch
    estimate over everything streamed."""
    import glob

    from kmeanwithmapreduce_spark.operators.sketch import (
        hll_merge_estimate,
        hll_shard_sketches,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_accumulated_hll,
        streaming_hll_ingest,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    src = str(tmp_path / "src")
    # overlapping halves: both contain every even event_id's rows' users
    e.where(F.col("user_id") % 3 != 0).coalesce(1).write.mode("overwrite").parquet(src)
    e.where(F.col("user_id") % 3 != 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_hll_ingest(
        stream,
        ["event_type"],
        "user_id",
        sketch_path=str(tmp_path / "hll"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert len(glob.glob(str(tmp_path / "hll" / "epoch=*"))) >= 2
    acc = {
        r.event_type: r.n_distinct_est
        for r in read_accumulated_hll(spark, ["event_type"], str(tmp_path / "hll")).collect()
    }
    full = {
        r.event_type: r.n_distinct_est
        for r in hll_merge_estimate(
            hll_shard_sketches(spark.read.parquet(src), ["event_type"], "user_id"),
            ["event_type"],
        ).collect()
    }
    assert acc == full


def test_read_accumulated_hll_empty(spark, tmp_path):
    from kmeanwithmapreduce_spark.streaming.ingest import read_accumulated_hll

    out = read_accumulated_hll(spark, ["event_type"], str(tmp_path / "nope"))
    assert out.count() == 0


# --------------------------------------------------------------------------
# t10 — theta set-operation sketches / t11 — KLL quantile sketches


def test_theta_setops_exact_on_constructed_overlap(spark):
    """Constructed segments with known |A|=60, |B|=50, |A∩B|=30: theta
    sketches are in exact mode at this size, so every estimate must hit
    the exact count (rounded)."""
    from kmeanwithmapreduce_spark.operators.sketch import theta_segment_overlap

    rows = [(i, "a") for i in range(60)] + [(i, "b") for i in range(30, 80)]
    df = spark.createDataFrame(rows, "user_id long, seg string")
    r = theta_segment_overlap(df, "user_id", "seg", "a", "b").first()
    assert round(r.est_a) == 60
    assert round(r.est_b) == 50
    assert round(r.est_union) == 80
    assert round(r.est_intersect) == 30
    assert round(r.est_diff) == 30  # A \ B


def test_t10_semantic_booleans_hold(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.sketch import t10_theta_setops

    r = t10_theta_setops(spark, sf_dir).first()
    assert r.a_within_5pct and r.b_within_5pct
    assert r.union_within_5pct and r.intersect_within_5pct
    assert r.inclusion_exclusion_holds
    # overlap sanity on real events: intersection <= min side <= union
    assert r.n_intersect <= min(r.n_a, r.n_b) <= r.n_union


def test_kll_merge_fold_is_exact_below_k(spark):
    """With n < the sketch's k the KLL stores every value — direct and
    shard-merged sketches must return the IDENTICAL exact quantile."""
    from pyspark.sql import functions as F

    vals = [(float(i), i % 4) for i in range(120)]
    df = spark.createDataFrame(vals, "v double, shard int")
    direct = df.agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("v"), F.lit(0.5)
        ).alias("q")
    ).first()["q"]
    sks = df.groupBy("shard").agg(F.kll_sketch_agg_double("v").alias("sk"))
    merged = (
        sks.agg(F.collect_list("sk").alias("sks"))
        .select(
            F.kll_sketch_get_quantile_double(
                F.reduce(
                    F.slice("sks", 2, F.size("sks") - 1),
                    F.element_at("sks", 1),
                    lambda a, b: F.kll_sketch_merge_double(a, b),
                ),
                F.lit(0.5),
            ).alias("q")
        )
        .first()["q"]
    )
    assert direct == merged


def test_t11_bands_hold(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.sketch import t11_kll_quantiles

    r = t11_kll_quantiles(spark, sf_dir).first()
    assert r.direct_p50_within_band and r.direct_p90_within_band
    assert r.merged_p50_within_band and r.merged_p90_within_band


# --------------------------------------------------------------------------
# t12 — Bloom-filter membership index


def _bloom_mod():
    from kmeanwithmapreduce_spark.operators import sketch

    return sketch


def test_bloom_no_false_negatives_exact(spark):
    """Every inserted key must flag maybe=True — structural, not
    statistical: k-hit conjunction over bits the build itself set."""
    sk = _bloom_mod()
    keys = spark.createDataFrame([(i,) for i in range(1, 501)], "k bigint")
    idx = sk.bloom_build(keys, "k")
    flags = {r.k: r.maybe for r in sk.bloom_probe(idx, keys, "k").collect()}
    assert len(flags) == 500 and all(flags.values())


def test_bloom_merge_equals_direct(spark):
    """bit_or is associative/commutative: per-shard filters merged ==
    one filter over the union — exact frame equality, the t08/t09
    incremental-index property."""
    sk = _bloom_mod()
    a = spark.createDataFrame([(i,) for i in range(0, 300)], "k bigint")
    b = spark.createDataFrame([(i,) for i in range(300, 700)], "k bigint")
    both = a.unionByName(b)
    merged = {
        (r.word, r.bits)
        for r in sk.bloom_merge(
            sk.bloom_build(a, "k"), sk.bloom_build(b, "k")
        ).collect()
    }
    direct = {(r.word, r.bits) for r in sk.bloom_build(both, "k").collect()}
    assert merged == direct


def test_bloom_bounded_state_and_dedup(spark):
    """Index size is bounded by min(n_bits/32, k·n_keys) words, and
    duplicate inserts change nothing (set semantics via distinct)."""
    sk = _bloom_mod()
    keys = spark.createDataFrame([(i,) for i in range(1, 101)], "k bigint")
    dup = keys.unionByName(keys).unionByName(keys)
    idx = {(r.word, r.bits) for r in sk.bloom_build(keys, "k").collect()}
    idx_dup = {(r.word, r.bits) for r in sk.bloom_build(dup, "k").collect()}
    assert idx == idx_dup
    assert len(idx) <= 5 * 100


def test_bloom_known_non_members_mostly_clean(spark):
    """With 500 keys in 2^20 bits the expected fp rate is ~1e-11 —
    probe 500 disjoint keys and require zero flags (a deterministic
    fact of this (salt, keyset), not a probabilistic hope; if the hash
    family breaks and everything collides, this fails loudly)."""
    sk = _bloom_mod()
    members = spark.createDataFrame([(i,) for i in range(1, 501)], "k bigint")
    others = spark.createDataFrame([(i,) for i in range(10_001, 10_501)], "k bigint")
    idx = sk.bloom_build(members, "k")
    flags = [r.maybe for r in sk.bloom_probe(idx, others, "k").collect()]
    assert len(flags) == 500 and not any(flags)


def test_bloom_probe_duplicate_and_null_keys(spark):
    """Advisor regression: duplicate probe rows must NOT flip a true
    member to maybe=false (the k-hit sum of a duplicated member is a
    multiple of n_hashes, which an un-deduped == n_hashes conjunction
    rejects — a false negative). NULL probe keys are dropped, mirroring
    bloom_build. Output is one row per distinct non-NULL key."""
    sk = _bloom_mod()
    members = spark.createDataFrame([(i,) for i in range(1, 51)], "k bigint")
    idx = sk.bloom_build(members, "k")
    # every member probed 3x, plus NULLs and one non-member duplicated
    probes = spark.createDataFrame(
        [(i,) for i in range(1, 51)] * 3 + [(None,), (None,), (99_999,), (99_999,)],
        "k bigint",
    )
    rows = sk.bloom_probe(idx, probes, "k").collect()
    flags = {r.k: r.maybe for r in rows}
    assert len(rows) == 51  # 50 members + 1 non-member, no NULL row
    assert None not in flags
    assert all(flags[i] for i in range(1, 51))  # no false negatives


def test_t12_probe_plan_broadcast(spark, sf_dir):
    """The probe side never shuffles the index: the word join must be
    a BroadcastHashJoin (index <= n_bits/32 rows by construction)."""
    from kmeanwithmapreduce_spark.plans import explain_str

    sk = _bloom_mod()
    plan = explain_str(sk.t12_bloom_membership(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_streaming_bloom_accumulates_to_batch_filter(spark, tmp_path):
    """Keys arrive in two micro-batches; the word-wise OR of epoch
    bitmaps must equal the one-shot batch filter, and a key from EACH
    epoch must probe maybe=True against the accumulated filter."""
    from kmeanwithmapreduce_spark.streaming.ingest import (
        read_accumulated_bloom,
        streaming_bloom_ingest,
    )

    sk = _bloom_mod()
    keys = spark.createDataFrame([(i,) for i in range(1, 401)], "k bigint")
    src = str(tmp_path / "src")
    keys.where("k % 2 = 0").coalesce(1).write.mode("overwrite").parquet(src)
    keys.where("k % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_bloom_ingest(
        stream,
        "k",
        filter_path=str(tmp_path / "bloom"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    import glob

    assert len(glob.glob(str(tmp_path / "bloom" / "epoch=*"))) >= 2
    acc = read_accumulated_bloom(spark, str(tmp_path / "bloom"))
    direct = {(r.word, r.bits) for r in sk.bloom_build(keys, "k").collect()}
    assert {(r.word, r.bits) for r in acc.collect()} == direct
    flags = {
        r.k: r.maybe for r in sk.bloom_probe(acc, keys, "k").collect()
    }
    assert len(flags) == 400 and all(flags.values())


def test_read_accumulated_bloom_empty(spark, tmp_path):
    from kmeanwithmapreduce_spark.streaming.ingest import read_accumulated_bloom

    acc = read_accumulated_bloom(spark, str(tmp_path / "nothing"))
    assert acc.count() == 0
