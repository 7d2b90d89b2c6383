"""Incremental corpus ingest (operators/corpus_incremental.py): waves
must compose to EXACTLY the batch pipeline over the union — keep-set,
rows, and funnel bookkeeping — with O(wave) work per wave, exactly-once
restart, and retro-merge retirement of previously-exported docs."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators.corpus import (
    prepare_training_corpus,
)
from kmeanwithmapreduce_spark.operators.corpus_incremental import (
    corpus_keep_list,
    corpus_waves_manifest,
    ingest_corpus_wave,
    read_corpus,
)
from kmeanwithmapreduce_spark.sources.readers import load_table

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _doc(doc_id, text, lang="en", source="web"):
    return (doc_id, text, lang, source, len(text))


# Deterministic LSH bridge triple (found by sweeping the exact MinHash
# band arithmetic in pure Python): B collides with A and with D on at
# least one band each, while A-D collide on none — so A and D form two
# SEPARATE clusters in wave 1, and B's arrival in wave 2 merges them.
_W = [f"w36x{i}" for i in range(26)]
TEXT_A = " ".join(_W[0:18])
TEXT_B = " ".join(_W[4:22])
TEXT_D = " ".join(_W[8:26])


def _batch_over_union(spark, docs_df, out_dir, **knobs):
    """Run the BATCH pipeline over an arbitrary docs frame by
    materializing it as a one-table sf_dir."""
    src = os.path.join(out_dir, "src")
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "documents.parquet")
    )
    stats = prepare_training_corpus(
        spark, src, os.path.join(out_dir, "shards"), **knobs
    )
    kept = spark.read.parquet(os.path.join(out_dir, "shards"))
    return stats, kept


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def _rows(df):
    return sorted(map(tuple, df.select("doc_id", "text", "lang", "source").collect()))


def test_three_waves_equal_batch_over_union_sf(spark, sf_dir, tmp_path):
    """Real-table pin: documents split into 3 doc_id-range waves,
    ingested incrementally, must equal batch prepare_training_corpus
    over the whole table — same keep-set, same rows, funnel input sums
    match."""
    d = load_table(spark, sf_dir, "documents")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    waves = [
        d.where(F.col("doc_id") <= cut1),
        d.where((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        d.where(F.col("doc_id") > cut2),
    ]
    corpus = str(tmp_path / "corpus")
    knobs = dict(quality_threshold=0.5, lang_rates={"en": 0.5})
    stats = [
        ingest_corpus_wave(spark, w, corpus, i, **knobs)
        for i, w in enumerate(waves)
    ]

    batch_stats, batch_kept = _batch_over_union(
        spark, d, str(tmp_path / "batch"), **knobs
    )
    got = _rows(read_corpus(spark, corpus))
    want = _rows(batch_kept)
    assert got == want and len(want) > 0
    assert sum(s["input"] for s in stats) == batch_stats["input"]
    # cumulative canonical count minus retro-retirements == batch dedup
    assert (
        sum(s["after_dedup"] for s in stats)
        - sum(s["retro_dropped"] for s in stats)
        == batch_stats["after_dedup"]
    )
    # keep-list equality too (the corpus membership view)
    assert sorted(r.doc_id for r in corpus_keep_list(spark, corpus).collect()) == [
        r[0] for r in want
    ]


def test_bridge_wave_retires_previously_exported_doc(spark, tmp_path):
    """The retro-merge path: wave 1 exports A and D (separate clusters);
    wave 2's B bridges them — B is dropped as a duplicate AND D (the
    larger canonical) is retired from the corpus, matching the batch
    run's single-canonical answer."""
    w1 = spark.createDataFrame([_doc(1, TEXT_A), _doc(2, TEXT_D)], DOC_SCHEMA)
    w2 = spark.createDataFrame([_doc(3, TEXT_B)], DOC_SCHEMA)
    corpus = str(tmp_path / "corpus")

    s1 = ingest_corpus_wave(spark, w1, corpus, 0)
    assert s1["after_dedup"] == 2 and s1["retro_dropped"] == 0
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2]

    s2 = ingest_corpus_wave(spark, w2, corpus, 1)
    assert s2["after_dedup"] == 0  # B merged into the existing cluster
    assert s2["retro_dropped"] == 1  # D's cluster merged into A's
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1]

    # batch over the union agrees
    union = spark.createDataFrame(
        [_doc(1, TEXT_A), _doc(2, TEXT_D), _doc(3, TEXT_B)], DOC_SCHEMA
    )
    _, batch_kept = _batch_over_union(spark, union, str(tmp_path / "batch"))
    assert _rows(read_corpus(spark, corpus)) == _rows(batch_kept)


def test_wave_restart_is_exactly_once(spark, tmp_path):
    w1 = spark.createDataFrame([_doc(1, TEXT_A), _doc(2, TEXT_D)], DOC_SCHEMA)
    corpus = str(tmp_path / "corpus")
    s_first = ingest_corpus_wave(spark, w1, corpus, 0)
    before = _rows(read_corpus(spark, corpus))
    # replaying the SAME wave id is a no-op returning the recorded stats
    s_replay = ingest_corpus_wave(spark, w1, corpus, 0)
    assert s_replay == s_first
    assert _rows(read_corpus(spark, corpus)) == before
    assert len(corpus_waves_manifest(spark, corpus)["waves"]) == 1


def test_crashed_wave_redo_overwrites_partial_dirs(spark, tmp_path):
    """A wave that died after writing some dirs but before the manifest
    commit is invisible to readers and cleanly redone by the retry."""
    corpus = str(tmp_path / "corpus")
    w1 = spark.createDataFrame([_doc(1, TEXT_A)], DOC_SCHEMA)
    ingest_corpus_wave(spark, w1, corpus, 0)
    # simulate the crashed attempt: stale garbage in wave 1's docs dir
    stale = os.path.join(corpus, "docs", "wave=1")
    spark.createDataFrame([_doc(999, "stale garbage")], DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(stale)
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1]
    w2 = spark.createDataFrame(
        [_doc(5, " ".join(f"fresh{i}" for i in range(30)))], DOC_SCHEMA
    )
    ingest_corpus_wave(spark, w2, corpus, 1)
    got = sorted(r.doc_id for r in read_corpus(spark, corpus).collect())
    assert got == [1, 5]  # the stale 999 row is gone (overwritten)


def test_wave_contract_violations_fail_loudly(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    w1 = spark.createDataFrame([_doc(10, TEXT_A)], DOC_SCHEMA)
    ingest_corpus_wave(spark, w1, corpus, 0, quality_threshold=0.5)

    # out-of-sequence wave id
    with pytest.raises(ValueError, match="out of sequence"):
        ingest_corpus_wave(spark, w1, corpus, 5)
    # config drift
    with pytest.raises(ValueError, match="config drift"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame([_doc(20, TEXT_D)], DOC_SCHEMA),
            corpus,
            quality_threshold=0.9,
        )
    # non-monotone ids (reuses id 10's range)
    with pytest.raises(ValueError, match="strictly increasing"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame([_doc(3, TEXT_D)], DOC_SCHEMA),
            corpus,
            quality_threshold=0.5,
        )
    # NULL doc_id
    with pytest.raises(ValueError, match="NULL doc_id"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame([(None, TEXT_D, "en", "web", 9)], DOC_SCHEMA),
            corpus,
            quality_threshold=0.5,
        )
    # duplicate ids within the wave
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame(
                [_doc(30, TEXT_A), _doc(30, TEXT_D)], DOC_SCHEMA
            ),
            corpus,
            quality_threshold=0.5,
        )


def test_wave_dirs_are_immutable_after_later_waves(spark, tmp_path):
    """Later waves never rewrite earlier wave directories (the append-
    only story: retro-drops happen at read time via the remap closure)."""
    corpus = str(tmp_path / "corpus")
    w1 = spark.createDataFrame([_doc(1, TEXT_A), _doc(2, TEXT_D)], DOC_SCHEMA)
    ingest_corpus_wave(spark, w1, corpus, 0)
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(corpus, "docs", "wave=0", "*.parquet"))
    }
    assert files_before
    w2 = spark.createDataFrame([_doc(3, TEXT_B)], DOC_SCHEMA)
    ingest_corpus_wave(spark, w2, corpus, 1)
    files_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(corpus, "docs", "wave=0", "*.parquet"))
    }
    assert files_after == files_before


def test_no_leaked_persisted_rdds(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    w1 = spark.createDataFrame([_doc(1, TEXT_A), _doc(2, TEXT_D)], DOC_SCHEMA)
    before = _persisted_rdd_ids(spark)
    ingest_corpus_wave(spark, w1, corpus, 0)
    assert _persisted_rdd_ids(spark) == before


def test_reference_frame_drift_refused(spark, tmp_path):
    """The config freeze covers WHICH reference corpus waves were
    cleaned against (content fingerprint), not just the thresholds."""
    corpus = str(tmp_path / "corpus")
    evalset1 = spark.createDataFrame(
        [(900, " ".join(f"e{i}" for i in range(10)))], "doc_id bigint, text string"
    )
    evalset2 = spark.createDataFrame(
        [(900, " ".join(f"f{i}" for i in range(10)))], "doc_id bigint, text string"
    )
    ingest_corpus_wave(
        spark,
        spark.createDataFrame([_doc(1, TEXT_A)], DOC_SCHEMA),
        corpus,
        0,
        decontaminate_against=evalset1,
    )
    with pytest.raises(ValueError, match="config drift"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame([_doc(10, TEXT_D)], DOC_SCHEMA),
            corpus,
            decontaminate_against=evalset2,
        )
    # same frame content -> accepted
    ingest_corpus_wave(
        spark,
        spark.createDataFrame([_doc(10, TEXT_D)], DOC_SCHEMA),
        corpus,
        decontaminate_against=evalset1,
    )


def test_wave_schema_drift_refused_and_read_schema_explicit(spark, tmp_path):
    """A wave missing, adding, or retyping a column must be REFUSED
    before any write (the refuse-loudly config-freeze contract) — a
    committed drifted wave would make read_corpus's union serve NULLs
    for its rows. And read_corpus pins the frozen columns as an
    explicit read schema, independent of the ingest-side guard."""
    corpus = str(tmp_path / "corpus")
    ingest_corpus_wave(
        spark, spark.createDataFrame([_doc(1, TEXT_A)], DOC_SCHEMA), corpus, 0
    )

    # missing column
    with pytest.raises(ValueError, match="schema drift"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame(
                [(10, TEXT_D, "en", len(TEXT_D))],
                "doc_id bigint, text string, lang string, n_chars bigint",
            ),
            corpus,
        )
    # retyped column
    with pytest.raises(ValueError, match="schema drift"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame(
                [(10, TEXT_D, "en", "web", str(len(TEXT_D)))],
                "doc_id bigint, text string, lang string, source string,"
                " n_chars string",
            ),
            corpus,
        )
    # added column
    with pytest.raises(ValueError, match="schema drift"):
        ingest_corpus_wave(
            spark,
            spark.createDataFrame(
                [_doc(10, TEXT_D) + ("x",)], DOC_SCHEMA + ", extra string"
            ),
            corpus,
        )
    # nothing committed by the refused attempts; a conforming wave lands
    m = corpus_waves_manifest(spark, corpus)
    assert [w["wave"] for w in m["waves"]] == [0]
    ingest_corpus_wave(
        spark, spark.createDataFrame([_doc(10, TEXT_D)], DOC_SCHEMA), corpus
    )
    out = read_corpus(spark, corpus)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ]
    assert {r.doc_id: r.source for r in out.collect()} == {1: "web", 10: "web"}


# --------------------------------------------------------------------------
# Round 9: the release pass — waves + release_corpus == batch over the
# union with the same GLOBAL knobs (mixture / span-dedup), committed as
# a versioned snapshot with chained lineage.


@pytest.mark.exhaustive  # twin: test_three_waves_equal_batch_over_union_sf — same waves==batch parity, this adds the global-knob superset
def test_waves_plus_release_equal_batch_with_global_knobs(spark, sf_dir, tmp_path):
    from kmeanwithmapreduce_spark.operators.corpus_incremental import (
        release_corpus,
    )
    from kmeanwithmapreduce_spark.sources.fsutil import read_json
    from kmeanwithmapreduce_spark.sources.table import read_table, table_epochs

    d = load_table(spark, sf_dir, "documents")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + (hi - lo) // 2
    waves = [d.where(F.col("doc_id") <= cut), d.where(F.col("doc_id") > cut)]
    corpus = str(tmp_path / "corpus")
    for i, w in enumerate(waves):
        ingest_corpus_wave(spark, w, corpus, i, quality_threshold=0.5)

    glob_knobs = dict(
        mixture_weights={f"src{i}": (2 if i % 2 == 0 else 1) for i in range(20)},
        span_dedup_tokens=8,
    )
    rel = str(tmp_path / "release")
    stats = release_corpus(spark, corpus, rel, **glob_knobs)
    assert stats["epoch"] == 0
    released = read_table(spark, rel)

    batch_stats, batch_kept = _batch_over_union(
        spark, d, str(tmp_path / "batch"), quality_threshold=0.5, **glob_knobs
    )
    got = _rows(released)
    want = _rows(batch_kept)
    assert got == want and len(want) > 0
    # the knobs must actually bite or the parity pin proves nothing:
    # the mixture stage drops rows, and the funnel is monotone
    assert stats["after_mixture"] < stats["corpus"]
    assert stats["after_span_dedup"] <= stats["after_mixture"]
    assert batch_stats["after_mixture"] < batch_stats["after_quality"]

    # lineage manifest chains waves -> release epoch
    man = read_json(spark, os.path.join(rel, "_release_manifest_epoch=0.json"))
    assert man is not None
    assert [w["wave"] for w in man["waves"]] == [0, 1]
    assert man["span_dedup_tokens"] == 8 and man["epoch"] == 0
    assert man["wave_config"]["quality_threshold"] == 0.5

    # a second release (new wave arrives) appends epoch 1; epoch 0 stays
    w3_lo = hi + 1
    w3 = d.limit(20).select(
        (F.col("doc_id") + F.lit(int(w3_lo - lo))).alias("doc_id"),
        *[c for c in d.columns if c != "doc_id"],
    )
    ingest_corpus_wave(spark, w3, corpus, 2, quality_threshold=0.5)
    stats2 = release_corpus(spark, corpus, rel, **glob_knobs)
    assert stats2["epoch"] == 1
    assert table_epochs(spark, rel) == [0, 1]
    assert _rows(read_table(spark, rel, as_of=0)) == want  # time travel
    assert read_json(
        spark, os.path.join(rel, "_release_manifest_epoch=1.json")
    )["waves"][-1]["wave"] == 2


def test_release_requires_committed_waves(spark, tmp_path):
    from kmeanwithmapreduce_spark.operators.corpus_incremental import (
        release_corpus,
    )

    with pytest.raises(FileNotFoundError, match="no committed corpus waves"):
        release_corpus(
            spark, str(tmp_path / "nope"), str(tmp_path / "rel"),
            mixture_weights={"web": 1},
        )
