"""Curation operators: domain-mixture sampling (exact-integer keep
rule + DuckDB twin), span-level dedup (C4-style first-occurrence
ownership), and unigram-LM quality scoring — unit semantics, plan
shape, and determinism. The full c06/c07/c08 oracle parity runs in
the ORACLE_CASES sweep of tests/test_oracle_parity.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators.curation import (
    domain_mixture_sample,
    domain_mixture_sample_sql,
    span_dedup,
    unigram_logprob,
)
from kmeanwithmapreduce_spark.sources.readers import load_table


# --------------------------------------------------------------------------
# domain_mixture_sample


def test_mixture_binding_source_kept_in_full(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # src19 gets an enormous relative weight -> it is the binding
    # (most under-represented) source and must survive untouched.
    weights = {f"src{i}": 1 for i in range(19)} | {"src19": 1000}
    out = domain_mixture_sample(docs, weights).toPandas()
    full = docs.groupBy("source").count().toPandas().set_index("source")["count"]
    kept = out.groupby("source")["doc_id"].count()
    assert kept["src19"] == full["src19"]
    # every other source is (statistically certainly, at rate ~1/1000)
    # downsampled hard
    assert kept.drop("src19").sum() < 0.1 * full.drop("src19").sum()


def test_mixture_token_shares_near_target(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    weights = {f"src{i}": (3 if i % 2 == 0 else 1) for i in range(20)}
    out = domain_mixture_sample(docs, weights)
    shares = (
        out.groupBy("source")
        .agg(F.sum("n_tokens").alias("tok"))
        .toPandas()
        .set_index("source")["tok"]
    )
    total = shares.sum()
    wsum = sum(weights.values())
    for s, w in weights.items():
        # Bernoulli sampling at ~25 docs/source: generous band
        assert abs(shares.get(s, 0) / total - w / wsum) < 0.035, s


def test_mixture_excluded_source_dropped_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 1, "src1": 2}  # everything else excluded
    a = domain_mixture_sample(docs, weights).toPandas()
    assert set(a["source"]) <= {"src0", "src1"}
    b = domain_mixture_sample(docs.repartition(17), weights).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])  # layout-invariant


def test_mixture_matches_duckdb_twin(spark, sf_dir, duck):
    weights = {"src0": 2, "src3": 1, "src7": 5}
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        r.doc_id for r in domain_mixture_sample(docs, weights).collect()
    )
    sql = domain_mixture_sample_sql("documents", weights)
    want = sorted(r[1] for r in duck.execute(sql).fetchall())
    assert got == want


def test_mixture_rejects_bad_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="non-negative integers"):
        domain_mixture_sample(docs, {"src0": 0.5})
    with pytest.raises(ValueError, match="no weighted source"):
        domain_mixture_sample(docs, {"nope": 3, "src0": 0})


def test_mixture_filter_side_has_no_shuffle(spark, sf_dir):
    """The keep-filter pass is scan + broadcast join + filter — no
    Exchange on the corpus side (the per-source totals agg is a
    separate, #sources-row job)."""
    docs = load_table(spark, sf_dir, "documents")
    out = domain_mixture_sample(docs, {f"src{i}": 1 + i % 3 for i in range(20)})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan


# --------------------------------------------------------------------------
# span_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_dedup_first_occurrence_wins(spark):
    d = _docs(
        spark,
        [
            (1, "a b c d e f"),  # owns [a b], [c d], [e f]
            (2, "c d x y a b"),  # loses [c d] and [a b], keeps [x y]
            (3, "x y c d"),      # loses both
        ],
    )
    out = {
        r.doc_id: r for r in span_dedup(d, span=2).collect()
    }
    assert out[1].n_dropped == 0 and out[1].text_clean == "a b c d e f"
    assert out[2].n_dropped == 2 and out[2].text_clean == "x y"
    assert out[3].n_dropped == 2 and out[3].text_clean == ""
    assert out[3].n_spans == 2


def test_span_dedup_owner_keeps_internal_repeats(spark):
    # the owner document keeps ALL its occurrences of an owned span
    d = _docs(spark, [(1, "a b a b"), (2, "a b z z")])
    out = {r.doc_id: r for r in span_dedup(d, span=2).collect()}
    assert out[1].text_clean == "a b a b" and out[1].n_dropped == 0
    assert out[2].text_clean == "z z" and out[2].n_dropped == 1


def test_span_dedup_ragged_tail_span(spark):
    # last window shorter than span is a span of its own
    d = _docs(spark, [(1, "a b c d e"), (2, "z z z z e")])
    out = {r.doc_id: r for r in span_dedup(d, span=2).collect()}
    assert out[1].n_spans == 3 and out[1].text_clean == "a b c d e"
    assert out[2].n_spans == 3  # [z z][z z][e]
    assert out[2].n_dropped == 1 and out[2].text_clean == "z z z z"


def test_span_dedup_preserves_row_per_doc(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = span_dedup(docs, span=2)
    assert out.count() == docs.count()
    # removing spans never grows a document
    grew = out.join(docs, "doc_id").where(
        F.length("text_clean") > F.length("text")
    )
    assert grew.count() == 0


def test_span_dedup_owner_join_not_window(spark, sf_dir):
    """Ownership resolves via min-groupBy + join (AQE-skew-splittable),
    not a window over partitionBy(span text)."""
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        span_dedup(docs, span=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan


# --------------------------------------------------------------------------
# unigram_logprob


def test_unigram_logprob_exact_small_case(spark):
    ref = _docs(spark, [(10, "a a b")])  # c: a=2, b=1; N=3, V=2, denom=6
    docs = _docs(spark, [(1, "a b"), (2, "q")])
    out = {r.doc_id: r for r in unigram_logprob(docs, ref).collect()}
    want_1 = (math.log(3 / 6) + math.log(2 / 6)) / 2
    want_2 = math.log(1 / 6)  # OOV -> (0+1)/denom
    assert out[1].n_tokens == 2
    assert abs(out[1].mean_logprob - round(want_1, 6)) < 1e-12
    assert abs(out[2].mean_logprob - round(want_2, 6)) < 1e-12


def test_unigram_logprob_reference_scores_itself_higher(spark, sf_dir):
    """In-domain documents must average a higher (closer to 0) score
    than the corpus at large scored against the same model."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("source").isin("src0", "src1"))
    scored = unigram_logprob(docs, ref).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    means = (
        scored.withColumn(
            "grp",
            F.when(F.col("source").isin("src0", "src1"), "ref").otherwise("rest"),
        )
        .groupBy("grp")
        .agg(F.avg("mean_logprob").alias("m"))
        .toPandas()
        .set_index("grp")["m"]
    )
    assert means["ref"] > means["rest"]


def test_unigram_logprob_vocab_is_broadcast(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    plan = (
        unigram_logprob(docs, ref)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------------
# shuffle_for_training


def test_shuffle_for_training_is_deterministic_permutation(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import shuffle_for_training

    docs = load_table(spark, sf_dir, "documents")
    a = shuffle_for_training(docs, n_shards=4).select("doc_id", "shard", "pos")
    b = shuffle_for_training(docs.repartition(13), n_shards=4).select(
        "doc_id", "shard", "pos"
    )
    pa = a.toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert pa.equals(pb)  # layout-invariant
    # every doc exactly once; pos dense 0..n_s-1 per shard
    assert len(pa) == docs.count() and pa["doc_id"].is_unique
    for s, grp in pa.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp)))
    # shards are balanced-ish (md5-uniform over 500 docs)
    sizes = pa.groupby("shard").size()
    assert len(sizes) == 4 and sizes.min() > 0.6 * sizes.max()


def test_shuffle_for_training_seed_changes_order_not_membership(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import shuffle_for_training

    docs = load_table(spark, sf_dir, "documents")
    e0 = shuffle_for_training(docs, n_shards=4, seed="epoch0").toPandas()
    e1 = shuffle_for_training(docs, n_shards=4, seed="epoch1").toPandas()
    assert sorted(e0["doc_id"]) == sorted(e1["doc_id"])
    merged = e0.merge(e1, on="doc_id", suffixes=("_0", "_1"))
    # an independent permutation: the overwhelming majority of docs move
    moved = (
        (merged["shard_0"] != merged["shard_1"])
        | (merged["pos_0"] != merged["pos_1"])
    ).mean()
    assert moved > 0.9


def test_shuffle_for_training_no_global_single_partition_sort(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import shuffle_for_training

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        shuffle_for_training(docs, n_shards=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup)


def test_semantic_pairs_match_numpy_within_cell_replica(spark, sf_dir):
    """The cell-restricted GEMM must produce exactly the same-cell
    subset of the brute-force cosine pair set."""
    import numpy as np

    from kmeanwithmapreduce_spark.operators.curation import (
        semantic_neardup_pairs,
    )
    from kmeanwithmapreduce_spark.operators.similarity import _train_ivf

    cells, _ = _train_ivf(spark, sf_dir, 8)
    rows = cells.select("vec_id", "features", "cluster").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.features for r in rows], dtype=np.float64)
    cell = np.array([r.cluster for r in rows])
    n = (X * X).sum(1) ** 0.5
    sims = np.floor((X @ X.T) / (n[:, None] * n[None, :]) * 10000) / 10000
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if (
                ids[i] < ids[j]
                and cell[i] == cell[j]
                and sims[i, j] >= 0.3
            ):
                want.add((int(ids[i]), int(ids[j])))
    got = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs(
            cells.select("vec_id", "features", F.col("cluster").alias("cell")),
            id_col="vec_id",
            vec_col="features",
            cell_col="cell",
            threshold=0.3,
        ).collect()
    }
    assert got == want
    assert want  # threshold 0.3 must actually produce pairs here


def test_semantic_dedup_keep_list_invariants(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.corpus import release_components
    from kmeanwithmapreduce_spark.operators.curation import semantic_dedup
    from kmeanwithmapreduce_spark.sources.readers import load_table

    keep = semantic_dedup(spark, sf_dir)
    out = keep.toPandas()
    release_components(keep)  # toPandas() was the last action
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    # full cover, one row per vector
    assert len(out) == n_vecs and out["vec_id"].is_unique
    # exactly one canonical per cluster, and it is the cluster minimum
    for cid, grp in out.groupby("cluster_id"):
        assert grp["is_canonical"].sum() == 1
        assert grp.loc[grp["is_canonical"], "vec_id"].iloc[0] == grp["vec_id"].min()
        assert grp["vec_id"].min() == cid


def test_unigram_logprob_empty_reference_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="reference corpus is empty"):
        unigram_logprob(docs, docs.where(F.lit(False)))


def test_mixture_rejects_oversized_weights(spark, sf_dir):
    # weights are relative ratios; a token-count-sized weight would
    # overflow the decimal(38,0) product and silently NULL-drop sources
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="relative integer ratios"):
        domain_mixture_sample(docs, {"src0": 10**15, "src1": 1})


# --------------------------------------------------------------------------
# domain_mixture_upsample


def test_upsample_argmax_source_kept_exactly_once(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import (
        domain_mixture_upsample,
    )

    docs = load_table(spark, sf_dir, "documents")
    # src19 hugely over-weighted relative? invert: give src19 weight 1 and
    # everything else 50 -> src19 is the most over-represented per unit
    # weight and must be emitted exactly once per doc; others repeat.
    weights = {f"src{i}": 50 for i in range(19)} | {"src19": 1}
    out = domain_mixture_upsample(docs, weights).toPandas()
    per_doc = out.groupby("doc_id").size()
    src19_docs = set(
        r.doc_id
        for r in docs.where(F.col("source") == "src19").select("doc_id").collect()
    )
    assert all(per_doc[d] == 1 for d in src19_docs)
    # every other source repeats ~50x
    others = out[~out["doc_id"].isin(src19_docs)]
    assert others.groupby("doc_id").size().min() >= 40


def test_upsample_token_shares_near_target(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import (
        _C09_WEIGHTS,
        c09_domain_mixture_upsample,
    )

    out = c09_domain_mixture_upsample(spark, sf_dir).toPandas()
    shares = out.groupby("source")["n_tokens"].sum()
    total = shares.sum()
    wsum = sum(_C09_WEIGHTS.values())
    for s, w in _C09_WEIGHTS.items():
        assert abs(shares.get(s, 0) / total - w / wsum) < 0.035, s


def test_upsample_deterministic_and_no_drops(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.curation import (
        domain_mixture_upsample,
    )

    docs = load_table(spark, sf_dir, "documents")
    weights = {f"src{i}": 1 + i % 4 for i in range(20)}
    a = domain_mixture_upsample(docs, weights).toPandas()
    b = domain_mixture_upsample(docs.repartition(11), weights).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "copy"]].values))  # noqa: E731
    assert key(a) == key(b)
    # upsampling never drops a weighted document
    assert set(a["doc_id"]) == set(r.doc_id for r in docs.select("doc_id").collect())
    # copy indices are dense per doc
    for d, grp in a.groupby("doc_id"):
        assert sorted(grp["copy"]) == list(range(len(grp)))


def test_span_dedup_hot_span_50k_docs(spark):
    """The 'stop span' regime: one span shared by 50k documents. The
    ownership min-groupBy must map-side combine (partial_min below the
    Exchange — O(1) state per span key, unlike a posting-list build),
    and first-occurrence semantics must hold exactly: the hot span
    survives only in doc 0, every doc keeps its own unique span."""
    n = 50_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("hh hh u"),
            F.col("id").cast("string"),
            F.lit(" v"),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    out = span_dedup(docs, span=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan  # map-side combine on the hot key
    agg = out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_dropped").alias("dropped"),
        F.sum(F.col("text_clean").startswith("hh hh").cast("long")).alias(
            "kept_hot"
        ),
        F.sum((F.col("n_spans") == 2).cast("long")).alias("two_span"),
        F.sum((F.length("text_clean") > 0).cast("long")).alias("nonempty"),
    ).first()
    assert agg.n_docs == n
    assert agg.dropped == n - 1  # every doc but the owner drops the hot span
    assert agg.kept_hot == 1
    assert agg.two_span == n
    assert agg.nonempty == n  # unique spans always survive


# --------------------------------------------------------------------------
# c11 — deterministic split assignment / c12 — per-group top-k sample


def test_split_assign_layout_and_subset_invariant(spark, sf_dir):
    """A doc's split is a pure function of (key, salt): identical under
    repartition AND when assigned within any subset of the corpus (the
    incremental-arrival property eval sets depend on)."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.operators.curation import split_assign
    from kmeanwithmapreduce_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    full = {
        r.doc_id: r.split
        for r in split_assign(d).select("doc_id", "split").collect()
    }
    repart = {
        r.doc_id: r.split
        for r in split_assign(d.repartition(13)).select("doc_id", "split").collect()
    }
    assert repart == full
    subset = {
        r.doc_id: r.split
        for r in split_assign(d.where(F.col("doc_id") % 2 == 0))
        .select("doc_id", "split")
        .collect()
    }
    assert subset == {k: v for k, v in full.items() if k % 2 == 0}


def test_split_assign_rates_and_total(spark, sf_dir):
    """Every row gets exactly one split; the train share lands near its
    ppm target (binomial band, wide enough for sf0.001's 500 docs)."""
    from kmeanwithmapreduce_spark.operators.curation import split_assign
    from kmeanwithmapreduce_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    fr = {"train": 800_000, "val": 100_000, "test": 100_000}
    counts = dict(
        split_assign(d, fractions_ppm=fr)
        .groupBy("split")
        .count()
        .rdd.map(lambda r: (r["split"], r["count"]))
        .collect()
    )
    n = d.count()
    assert sum(counts.values()) == n
    assert set(counts) <= set(fr)
    assert abs(counts.get("train", 0) / n - 0.8) < 0.08


def test_split_assign_rejects_bad_fractions(spark, sf_dir):
    import pytest as _pytest

    from kmeanwithmapreduce_spark.operators.curation import split_assign
    from kmeanwithmapreduce_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        split_assign(d, fractions_ppm={"train": 1, "val": 2})


def test_per_group_topk_bounded_and_deterministic(spark, sf_dir):
    """<= k rows per group, rk dense 1..n_g, identical selection under
    repartition."""
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.operators.curation import per_group_topk_sample
    from kmeanwithmapreduce_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    out = per_group_topk_sample(d, "lang", "doc_id", 5)
    per_group = out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.max("rk").alias("mx")
    )
    bad = per_group.where((F.col("n") > 5) | (F.col("mx") != F.col("n"))).count()
    assert bad == 0
    a = sorted((r.lang, r.doc_id) for r in out.select("lang", "doc_id").collect())
    b = sorted(
        (r.lang, r.doc_id)
        for r in per_group_topk_sample(d.repartition(17), "lang", "doc_id", 5)
        .select("lang", "doc_id")
        .collect()
    )
    assert a == b


def test_per_group_topk_plans_window_group_limit(spark, sf_dir):
    """Scale pin: the rank filter must push a partial WindowGroupLimit
    below the shuffle (map tasks forward <= k rows per group), the q09
    property that keeps whale groups off the wire."""
    from kmeanwithmapreduce_spark.operators.curation import c12_per_group_topk
    from kmeanwithmapreduce_spark.plans import explain_str

    plan = explain_str(c12_per_group_topk(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_split_assign_sql_single_split_is_valid(spark, sf_dir, duck):
    """Review regression: a one-split config must emit valid SQL (a
    zero-WHEN CASE is a parser error) and agree with the Spark twin."""
    from kmeanwithmapreduce_spark.operators.curation import (
        split_assign,
        split_assign_sql,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    fr = {"all": 1_000_000}
    d = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.split
        for r in split_assign(d, fractions_ppm=fr).select("doc_id", "split").collect()
    }
    want = dict(
        duck.execute(
            "SELECT doc_id, split FROM ("
            + split_assign_sql("documents", fractions_ppm=fr)
            + ")"
        ).fetchall()
    )
    assert got == want and set(got.values()) == {"all"}


# --------------------------------------------------------------------------
# c13 — weighted sampling (Efraimidis–Spirakis)


def _es_key(doc_id: int, w: float, salt: str = "ws-v1") -> float:
    import hashlib
    import math

    h = int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:8], 16)
    u = (h + 0.5) / 4294967296.0
    return round(math.log(u) / w, 6) + 0.0


def test_weighted_sample_exact_trace(spark):
    """Selection and keys equal the plain-Python A-ES reference on an
    engineered frame — the full algorithm, not a smoke test."""
    from kmeanwithmapreduce_spark.operators.curation import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    got = [
        (r.doc_id, r.es_key)
        for r in weighted_sample(df, 10, "w", key_col="doc_id").collect()
    ]
    want = sorted(
        ((i, _es_key(i, w)) for i, w in rows), key=lambda t: (-t[1], t[0])
    )[:10]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, gk), (_, wk) in zip(got, want):
        assert gk == pytest.approx(wk, abs=1e-9)


def test_weighted_sample_weight_monotone(spark):
    """Same key hash, bigger weight => key closer to 0 (ln(u)/w rises),
    so a doc strictly dominates its lighter twin: with two copies of
    every id differing only in weight, the heavy copies win whenever
    keys differ. Construct ids whose heavy/light keys differ at 6 dp."""
    from kmeanwithmapreduce_spark.operators.curation import weighted_sample

    rows = [(i, 1) for i in range(100, 120)] + [(i + 1000, 50) for i in range(100, 120)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    top = [r.doc_id for r in weighted_sample(df, 20, "w").collect()]
    # heavy ids (>= 1000) should dominate the top-20 overwhelmingly;
    # exact count per the Python reference:
    want = sorted(
        ((i, _es_key(i, w)) for i, w in rows), key=lambda t: (-t[1], t[0])
    )[:20]
    assert top == [i for i, _ in want]
    assert sum(1 for i in top if i >= 1000) >= 15


def test_weighted_sample_repartition_invariant(spark):
    from kmeanwithmapreduce_spark.operators.curation import weighted_sample

    rows = [(i, (i % 5) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    a = [tuple(r) for r in weighted_sample(df, 15, "w").collect()]
    b = [tuple(r) for r in weighted_sample(df.repartition(13), 15, "w").collect()]
    assert a == b


def test_weighted_sample_nonpositive_weight_raises(spark):
    from kmeanwithmapreduce_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(1, 5), (2, 0)], "doc_id bigint, w bigint")
    with pytest.raises(Exception, match="nonpositive weight"):
        weighted_sample(df, 2, "w").collect()


def test_c13_plan_shape(spark, sf_dir):
    """Zero-Exchange: one narrow projection into TakeOrderedAndProject —
    the stratified_sample scale shape with a weight knob."""
    from kmeanwithmapreduce_spark.operators.curation import c13_weighted_sample
    from kmeanwithmapreduce_spark.plans import explain_str

    plan = explain_str(c13_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_unigram_logprob_max_vocab_guard(spark):
    """Round-10 ADVICE: a corpus-sized reference must error toward a
    smaller vocabulary, not OOM the driver; truncate mode keeps the
    top-N tokens by count and scores the rest as OOV."""
    import pytest

    ref = _docs(spark, [(10, "a a a b b c")])  # counts a=3, b=2, c=1
    docs = _docs(spark, [(1, "a c")])
    with pytest.raises(ValueError, match="max_vocab"):
        unigram_logprob(docs, ref, max_vocab=2)
    # truncate keeps {a, b}: N=5, V=2, denom=8; c scores as OOV
    out = {
        r.doc_id: r
        for r in unigram_logprob(
            docs, ref, max_vocab=2, on_overflow="truncate"
        ).collect()
    }
    want = (math.log(4 / 8) + math.log(1 / 8)) / 2
    assert abs(out[1].mean_logprob - round(want, 6)) < 1e-12
    # under the cap, results are identical to the uncapped model
    full = {r.doc_id: r for r in unigram_logprob(docs, ref).collect()}
    capped = {
        r.doc_id: r
        for r in unigram_logprob(docs, ref, max_vocab=100).collect()
    }
    assert capped[1].mean_logprob == full[1].mean_logprob
