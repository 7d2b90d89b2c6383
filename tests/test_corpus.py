"""Corpus pipeline operators: connected components vs a pure-Python
union-find oracle (including the chain worst case), duplicate-cluster
resolution over real d03 pairs, the deterministic stratified sampler vs
its DuckDB twin, and size-bounded shard export round-trip."""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators.corpus import (
    connected_components,
    dup_clusters,
    release_components,
    stratified_sample,
    stratified_sample_sql,
    write_training_shards,
)
from kmeanwithmapreduce_spark.operators.dedup import d03_minhash_lsh_pairs
from kmeanwithmapreduce_spark.sources.readers import load_table


def _union_find(edges):
    """Reference components: classic union-find, min id as root label."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_dict(df):
    out = {r.node: r.component for r in df.collect()}
    release_components(df)  # collect() was the last action
    return out


def test_components_chain_worst_case(spark):
    """A 64-node path graph: the O(diameter) propagation killer; the
    star-contraction algorithm must still resolve it (in O(log n)
    rounds, bounded by max_iter=25)."""
    edges = [(i, i + 1) for i in range(63)] + [(100, 101), (103, 102)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = _cc_dict(connected_components(pairs, src="a", dst="b"))
    want = _union_find(edges)
    assert got == want
    assert got[63] == 0 and got[101] == 100 and got[103] == 102


def test_components_matches_union_find_on_d03_pairs(spark, sf_dir):
    pairs = d03_minhash_lsh_pairs(spark, sf_dir)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = _cc_dict(connected_components(pairs, src="doc_a", dst="doc_b"))
    assert got == _union_find(edges)


def test_dup_clusters_covers_corpus_and_keeps_min(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = d03_minhash_lsh_pairs(spark, sf_dir)
    dc = dup_clusters(docs, pairs)
    out = dc.collect()
    release_components(dc)
    n_docs = docs.count()
    assert len(out) == n_docs  # every doc resolved, exactly once
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == cid
    # docs in no pair are their own singleton cluster
    paired = {r.doc_a for r in pairs.collect()} | {
        r.doc_b for r in pairs.collect()
    }
    singletons = [r for r in out if r.doc_id not in paired]
    assert all(r.cluster_id == r.doc_id for r in singletons)


def test_stratified_sample_matches_duckdb(spark, sf_dir):
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        r.doc_id
        for r in stratified_sample(docs, "lang", rates, "doc_id").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    sql = stratified_sample_sql("documents", "lang", rates, "doc_id")
    want = sorted(
        r[0] for r in con.execute(sql.replace("SELECT *", "SELECT doc_id")).fetchall()
    )
    con.close()
    assert got == want
    assert 0 < len(got) < docs.count()  # non-trivial sample


def test_stratified_sample_rate_accuracy(spark, sf_dir):
    """The md5 bucket is uniform: per-stratum keep-fraction lands near
    the requested rate (loose band; sf0.001 strata are small)."""
    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.5}
    kept = stratified_sample(docs, "lang", rates, "doc_id")
    n_en = docs.where("lang = 'en'").count()
    k_en = kept.where("lang = 'en'").count()
    assert kept.where("lang != 'en'").count() == 0  # default rate 0
    if n_en >= 50:
        assert 0.3 <= k_en / n_en <= 0.7


def test_write_training_shards_bounded_and_lossless(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4, key_col="doc_id", max_records_per_file=100)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) >= 4
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= 100
    back = spark.read.parquet(path)
    assert sorted(r.doc_id for r in back.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )


def test_shard_membership_stable(spark, sf_dir, tmp_path):
    """Hash sharding is a pure function of the key: two exports place
    every doc in the same shard file index."""
    docs = load_table(spark, sf_dir, "documents")

    def membership(path):
        out = {}
        for f in glob.glob(os.path.join(path, "*.parquet")):
            shard = os.path.basename(f).split("-")[1]
            for r in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist():
                out[r] = shard
        return out

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs, p1, n_shards=4, key_col="doc_id")
    write_training_shards(docs, p2, n_shards=4, key_col="doc_id")
    assert membership(p1) == membership(p2)


def test_components_random_graphs_property(spark):
    """Randomized sweep: components over arbitrary small graphs always
    equal union-find (Spark-free reference). Deterministic seed set —
    hypothesis-style coverage without per-example Spark job overhead."""
    import random

    rng = random.Random(42)
    for trial in range(6):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = _cc_dict(connected_components(pairs, src="a", dst="b"))
        # union-find over non-self-loop edges (components drops loops)
        want = _union_find([e for e in edges if e[0] != e[1]])
        assert got == want, f"trial {trial}: {sorted(edges)}"


def test_prepare_training_corpus_end_to_end(spark, sf_dir, tmp_path):
    from kmeanwithmapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )

    out = str(tmp_path / "corpus")
    stats = prepare_training_corpus(
        spark,
        sf_dir,
        out,
        lang_rates={"en": 0.5},
        n_shards=4,
        max_records_per_file=200,
    )
    # monotonic funnel, nothing lost silently; counts are observe-based
    # (collected during the single export pass, no extra jobs)
    assert (
        stats["input"]
        >= stats["after_dedup"]
        >= stats["after_quality"]
        >= stats["after_sample"]
        > 0
    )
    back = spark.read.parquet(out)
    assert back.count() == stats["after_sample"]
    # exported docs are canonical, high-quality, and sample-selected:
    # re-running the pipeline reproduces the exact same doc set
    out2 = str(tmp_path / "corpus2")
    stats2 = prepare_training_corpus(
        spark, sf_dir, out2, lang_rates={"en": 0.5}, n_shards=4,
        max_records_per_file=200, collect_stats=False,
    )
    ids1 = sorted(r.doc_id for r in back.select("doc_id").collect())
    ids2 = sorted(
        r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()
    )
    assert ids1 == ids2 and stats2 == {}


def test_prepare_training_corpus_with_cleaning_stages(spark, sf_dir, tmp_path):
    """Round-5 cleaning stages composed into the pipeline: benchmark
    decontamination, Gopher repetition filter, and PII scrubbing — the
    funnel stays monotone, the stage taps appear, and the export schema
    stays documents-shaped (audit columns stripped after the observe)."""
    from kmeanwithmapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 11 == 7).select("doc_id", "text")
    out = str(tmp_path / "corpus_clean")
    stats = prepare_training_corpus(
        spark,
        sf_dir,
        out,
        lang_rates={"en": 0.5},
        n_shards=4,
        decontaminate_against=benchmark,
        repetition_thresholds=(0.08, 0.15),
        scrub_pii=True,
    )
    assert (
        stats["input"]
        >= stats["after_dedup"]
        >= stats["after_decontamination"]
        >= stats["after_quality"]
        >= stats["after_repetition"]
        >= stats["after_sample"]
        > 0
    )
    # the benchmark docs themselves are in the corpus (overlap 1.0 with
    # themselves), so decontamination must actually drop rows here
    assert stats["after_decontamination"] < stats["after_dedup"]
    assert stats["pii_redactions"] == 0  # synthetic corpus carries no PII
    back = spark.read.parquet(out)
    assert back.count() == stats["after_sample"]
    assert sorted(back.columns) == sorted(docs.columns)  # audit cols stripped
    # reproducibility manifest rides with the shards (underscore prefix:
    # invisible to parquet readers) and round-trips the funnel + config
    from kmeanwithmapreduce_spark.operators.corpus import read_corpus_manifest

    man = read_corpus_manifest(spark, out)
    assert man["funnel"] == {k: int(v) for k, v in stats.items()}
    assert man["config"]["scrub_pii"] is True
    assert man["config"]["repetition_thresholds"] == [0.08, 0.15]
    assert man["config"]["n_shards"] == 4


def test_components_leave_no_persisted_state(spark, sf_dir):
    """The iterative loop frees superseded checkpoints as it goes and
    release_components frees the final one: a full clustering pass must
    leave ZERO extra persisted RDDs in the session — the invariant a
    long-lived 100 TB session needs from every iterative operator."""
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    docs = load_table(spark, sf_dir, "documents")
    dc = dup_clusters(docs, d03_minhash_lsh_pairs(spark, sf_dir))
    assert dc.count() > 0
    # exactly ONE live checkpoint while the result is in use
    assert sc.getPersistentRDDs().size() == before + 1
    release_components(dc)
    assert sc.getPersistentRDDs().size() == before


def test_components_empty_and_selfloop_edges(spark):
    """Degenerate inputs: no pairs -> no component rows; pure self-loop
    pairs -> no component rows (isolated nodes are the caller's join)."""
    empty = spark.createDataFrame([], "a long, b long")
    assert _cc_dict(connected_components(empty, src="a", dst="b")) == {}
    loops = spark.createDataFrame([(5, 5), (7, 7)], "a long, b long")
    assert _cc_dict(connected_components(loops, src="a", dst="b")) == {}


def test_components_raises_instead_of_wrong_answer_on_iter_cap(spark):
    """max_iter too small must RAISE, never return a non-star forest
    (silently wrong components)."""
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(200)]  # long chain
    pairs = spark.createDataFrame(edges, "a long, b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, src="a", dst="b", max_iter=1)


def test_stratified_sample_rate_bounds(spark, sf_dir):
    """rate 0 keeps nothing; rate 1 keeps the whole stratum."""
    docs = load_table(spark, sf_dir, "documents")
    n_en = docs.where("lang = 'en'").count()
    none = stratified_sample(docs, "lang", {"en": 0.0}, "doc_id")
    assert none.count() == 0
    every = stratified_sample(docs, "lang", {"en": 1.0}, "doc_id")
    assert every.count() == n_en and every.where("lang != 'en'").count() == 0


def test_components_reliable_checkpoint_path(spark, tmp_path):
    """checkpoint='reliable' must (a) raise up front when no checkpoint
    dir is configured, (b) produce identical components to the local
    strategy once one is set — the cluster-scale fault-tolerant path."""
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(40)] + [(90, 91)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with _pytest.raises(RuntimeError, match="setCheckpointDir"):
        connected_components(pairs, src="a", dst="b", checkpoint="reliable")
    with _pytest.raises(ValueError, match="local.*reliable"):
        connected_components(pairs, src="a", dst="b", checkpoint="bogus")

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    got = _cc_dict(
        connected_components(pairs, src="a", dst="b", checkpoint="reliable")
    )
    assert got == _union_find(edges)
    # checkpoint files actually landed in the reliable dir
    assert any((tmp_path / "ckpt").rglob("*"))


def test_prepare_training_corpus_with_curation_stages(spark, sf_dir, tmp_path):
    """Second round-5 batch composed into the pipeline: unigram-LM
    quality filter, domain-mixture rebalance, and span-level dedup —
    funnel monotone through the new taps, text actually rewritten by
    span dedup (never longer, n_chars refreshed), manifest records the
    new knobs."""
    import json

    from kmeanwithmapreduce_spark.operators.corpus import (
        prepare_training_corpus,
        read_corpus_manifest,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("source").isin("src0", "src1")).select(
        "doc_id", "text"
    )
    weights = {f"src{i}": (2 if i < 10 else 1) for i in range(18)}  # 18/19 excl
    out = str(tmp_path / "corpus_curated")
    stats = prepare_training_corpus(
        spark,
        sf_dir,
        out,
        n_shards=4,
        lm_reference=ref,
        lm_logprob_min=-3.6,
        mixture_weights=weights,
        span_dedup_tokens=2,
    )
    assert (
        stats["input"]
        >= stats["after_dedup"]
        >= stats["after_quality"]
        >= stats["after_lm_filter"]
        >= stats["after_mixture"]
        >= stats["after_span_dedup"]
        > 0
    )
    # the mixture excludes src18/src19 entirely -> must actually drop rows
    assert stats["after_mixture"] < stats["after_lm_filter"]
    back = spark.read.parquet(out)
    assert back.count() == stats["after_span_dedup"]
    assert sorted(back.columns) == sorted(docs.columns)
    joined = back.select("doc_id", "text", "n_chars").join(
        docs.select("doc_id", F.col("text").alias("orig")), "doc_id"
    )
    assert joined.where(F.length("text") > F.length("orig")).count() == 0
    assert joined.where(F.length("text") != F.col("n_chars")).count() == 0
    # span dedup must have rewritten at least one surviving document
    assert joined.where(F.length("text") < F.length("orig")).count() > 0
    cfg = read_corpus_manifest(spark, out)["config"]
    assert cfg["lm_filtered"] is True and cfg["lm_logprob_min"] == -3.6
    assert cfg["mixture_weights"] == weights
    assert cfg["span_dedup_tokens"] == 2


def test_write_training_shards_with_training_order(spark, sf_dir, tmp_path):
    """Ordered export: shard=N directories, pos monotone in file order,
    assignment equal to shuffle_for_training's, export deterministic."""
    import glob

    import pyarrow.parquet as pq

    from kmeanwithmapreduce_spark.operators.corpus import write_training_shards
    from kmeanwithmapreduce_spark.operators.curation import shuffle_for_training
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "ordered")
    write_training_shards(
        docs, out, 4, "doc_id", training_order_seed="epoch0"
    )
    dirs = sorted(glob.glob(out + "/shard=*"))
    assert len(dirs) == 4
    # pos is monotone within each file (parquet preserves write order)
    for d in dirs:
        for f in glob.glob(d + "/*.parquet"):
            pos = pq.read_table(f, columns=["pos"])["pos"].to_pylist()
            assert pos == sorted(pos)
    back = spark.read.parquet(out).select("doc_id", "shard", "pos")
    want = shuffle_for_training(docs, n_shards=4, seed="epoch0").select(
        "doc_id", "shard", "pos"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, want.collect()))
    # lossless: every document exactly once
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()


def test_prepare_training_corpus_training_order_knob(spark, sf_dir, tmp_path):
    from kmeanwithmapreduce_spark.operators.corpus import (
        prepare_training_corpus,
        read_corpus_manifest,
    )

    out = str(tmp_path / "ordered_corpus")
    stats = prepare_training_corpus(
        spark, sf_dir, out, n_shards=4, training_order_seed="epoch1"
    )
    back = spark.read.parquet(out)
    assert "pos" in back.columns and "shard" in back.columns
    assert back.count() == stats["after_quality"]
    cfg = read_corpus_manifest(spark, out)["config"]
    assert cfg["training_order_seed"] == "epoch1"


def test_read_training_shards_restores_order_and_prunes(spark, sf_dir, tmp_path):
    from kmeanwithmapreduce_spark.operators.corpus import (
        read_training_shards,
        write_training_shards,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "epoch")
    write_training_shards(docs, out, 4, "doc_id", training_order_seed="e0")
    one = read_training_shards(spark, out, shard=2)
    rows = one.select("shard", "pos").collect()
    assert all(r.shard == 2 for r in rows)
    assert [r.pos for r in rows] == list(range(len(rows)))  # training order
    # partition pruning reaches the scan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan
    full = read_training_shards(spark, out)
    assert full.count() == docs.count()
    # unordered export refuses cleanly
    flat = str(tmp_path / "flat")
    write_training_shards(docs, flat, 4, "doc_id")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an ordered export"):
        read_training_shards(spark, flat)


def test_prepare_training_corpus_tokenizer_knob(spark, sf_dir, tmp_path):
    """The pipeline's mixture stage accepts the BPE tokenizer (the same
    knob the standalone c06 operator carries): keep decisions must equal
    calling domain_mixture_sample directly with that tokenizer on the
    pipeline's own pre-mixture survivor set, and may genuinely differ
    from the whitespace-count run."""
    from kmeanwithmapreduce_spark.functions.bpe import train_bpe
    from kmeanwithmapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = train_bpe(docs, n_merges=40, top_words=5_000)
    weights = {f"src{i}": (3 if i % 2 == 0 else 1) for i in range(20)}
    out_bpe = str(tmp_path / "corpus_bpe")
    stats_bpe = prepare_training_corpus(
        spark, sf_dir, out_bpe, n_shards=2,
        mixture_weights=weights, tokenizer=tok,
    )
    out_ws = str(tmp_path / "corpus_ws")
    stats_ws = prepare_training_corpus(
        spark, sf_dir, out_ws, n_shards=2, mixture_weights=weights,
    )
    assert stats_bpe["after_mixture"] > 0
    assert stats_bpe["input"] == stats_ws["input"]
    assert stats_bpe["after_quality"] == stats_ws["after_quality"]

    # equivalence: the pipeline's mixture == the standalone operator
    # with the same tokenizer over the same survivor set
    from kmeanwithmapreduce_spark.operators.curation import (
        domain_mixture_sample,
    )

    back = spark.read.parquet(out_bpe).select("doc_id")
    survivors = docs.join(
        spark.read.parquet(out_ws).select("doc_id").unionByName(back).distinct(),
        "doc_id",
        "left_semi",
    )
    # reconstruct the pre-mixture set: quality-filtered canonical docs
    # (pipeline stages before mixture are tokenizer-independent, so the
    # ws run's pre-mixture set is identical; recompute it directly)
    from kmeanwithmapreduce_spark.operators.corpus import dup_clusters
    from kmeanwithmapreduce_spark.operators.dedup import d03_minhash_lsh_pairs
    from kmeanwithmapreduce_spark.operators.textops import t02_quality_score

    clusters = dup_clusters(docs, d03_minhash_lsh_pairs(spark, sf_dir))
    canon = clusters.where("is_canonical").select("doc_id")
    kept = docs.join(canon, "doc_id", "left_semi")
    good = t02_quality_score(spark, sf_dir).where(
        F.col("quality_score") >= 0.5
    ).select("doc_id")
    kept = kept.join(good, "doc_id", "left_semi")
    want = sorted(
        r.doc_id
        for r in domain_mixture_sample(kept, weights, tokenizer=tok)
        .select("doc_id")
        .collect()
    )
    release_components(clusters)  # the collect above was the last action
    got = sorted(r.doc_id for r in back.collect())
    assert got == want
