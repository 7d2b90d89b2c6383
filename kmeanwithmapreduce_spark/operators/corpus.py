"""Corpus-level training-data pipeline operators: duplicate-cluster
resolution (distributed connected components), deterministic stratified
sampling, and size-bounded shard export.

These complete the dedup story: d02/d03/d04/d05 produce near-duplicate
PAIRS; a real pipeline must then group pairs into duplicate CLUSTERS and
keep one canonical document per cluster. Pair → cluster is a connected-
components problem, solved here with the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14 — public literature), which converges in O(log n)
rounds of pure DataFrame joins/aggregations — no driver-side graph, no
vertex-program framework needed.

NOT entries of the ``queries()`` registry, whose rows are
``(spark, sf_dir) -> DataFrame`` queries: these are library operators
that take frames and knobs, verified by tests/test_corpus.py, including
a DuckDB cross-check for the sampler and a pure-Python union-find
cross-check for components.

Scale notes:
- components: each round is two (join + groupBy-min) passes over the
  edge set keyed by node id; edge count shrinks toward a star forest.
  O(log n) rounds bound the chain-of-duplicates worst case that plain
  min-label propagation (O(diameter) rounds) does not. Lineage is
  truncated per round via an injectable strategy — localCheckpoint by
  default (local mode), ``checkpoint="reliable"`` for fault-tolerant
  Dataset.checkpoint to the configured checkpoint dir at cluster scale.
- stratified_sample: a narrow map-side filter — md5-derived uniform
  bucket per key, compared against a per-stratum rate literal. No
  shuffle, fully deterministic and replayable (same corpus + same rates
  => same sample, on any cluster size — what a reproducible training
  run needs). Same md5 arithmetic as dedup.py, so an external engine
  (DuckDB oracle in the test) reproduces the exact row set.
- write_training_shards: hash-partitioned by a stable key so shard
  membership is reproducible run-to-run; ``maxRecordsPerFile`` bounds
  file size so downstream loaders stream fixed-size shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SAMPLE_BUCKETS = 10_000


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped."""
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e_sym: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    m = least(u, min(v)) per u; emit (v, m) for v > u. Since m <= u < v
    no self-loops arise. (Kiveris et al. §3, large-star round.)
    """
    mins = e_sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        e_sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("mv")).alias("v"),
        )
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient each edge toward its larger endpoint, then connect all of
    u's smaller neighbors (and u) to their minimum. Output edges all
    point (node -> smaller id). (Kiveris et al. §3, small-star round.)"""
    o = _symmetrize(e).where(F.col("v") < F.col("u"))
    mins = o.groupBy("u").agg(F.min("v").alias("mv"))
    moved = (
        o.join(mins, "u")
        .where(F.col("v") != F.col("mv"))
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
    )
    kept = mins.select("u", F.col("mv").alias("v"))
    return moved.union(kept).where(F.col("u") != F.col("v")).distinct()


def _release_checkpoint(ckpt_df: DataFrame) -> None:
    """Free a localCheckpoint's materialized blocks NOW (best-effort):
    the checkpointed Dataset's analyzed plan is a LogicalRDD whose RDD
    holds the only copy — unpersist it once the checkpoint is
    superseded. Without this, every round of an iterative loop leaks
    one persisted RDD until the JVM garbage-collects the frame; a
    long-lived session running many pipelines accumulates dead blocks."""
    try:
        ckpt_df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # non-LogicalRDD / already released: GC handles it
        pass


def release_components(df: DataFrame) -> None:
    """Free the materialized state backing a connected_components /
    dup_clusters result. Call after the result has been consumed (its
    LAST action) — the data is not recomputable afterwards (checkpoint
    truncated the lineage). The same contract as df.unpersist() for a
    frame you persisted."""
    for ckpt in getattr(df, "_spark_graft_ckpts", ()):  # noqa: SLF001
        _release_checkpoint(ckpt)


def _signature_aggs() -> list:
    """The convergence-probe aggregate list: count plus FOUR
    order-independent aggregates — two differently-keyed hash sums
    (xxhash64 is order-sensitive in its arguments, so (u,v) and (v,u)
    are independent 64-bit families) and the raw endpoint sums. A false
    "converged" requires a simultaneous collision in every component;
    declaring convergence one round early on different edge sets would
    return silently wrong components, so the signature is belt-and-
    braces cheap insurance. All five are merge-order-independent
    (bigint count, exact decimal sums), so the tuple is identical
    whether computed by a standalone agg job or observed during the
    checkpoint materialization."""
    return [
        F.count(F.lit(1)).alias("n"),
        # decimal accumulation: a LongType sum of 64-bit hashes overflows
        # (ANSI mode raises); decimal(38,0) holds ~1e19 hashes worth
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
        F.coalesce(
            F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h2"),
        F.coalesce(
            F.sum(F.col("u").cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("su"),
        F.coalesce(
            F.sum(F.col("v").cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("sv"),
    ]


def _edge_signature(e: DataFrame) -> tuple:
    """Standalone one-pass signature (see _signature_aggs). The CC loop
    instead OBSERVES the same aggregates during its checkpoint action —
    one pass over the edges per round, not two (round 14, guide §1.2)."""
    row = e.agg(*_signature_aggs()).collect()[0]
    return (row.n, row.h, row.h2, row.su, row.sv)


def _make_checkpointer(pairs: DataFrame, checkpoint: str):
    """Resolve the per-round lineage-truncation strategy.

    - ``"local"``: ``localCheckpoint`` — executor-local blocks, no
      configuration, fastest; but blocks die with their executor, so an
      executor loss mid-loop fails the job. Right for local mode and
      short loops.
    - ``"reliable"``: ``Dataset.checkpoint`` to the directory set via
      ``spark.sparkContext.setCheckpointDir`` (HDFS/object store on a
      real cluster) — survives executor loss, the right choice for the
      O(log n)-round loop at 100 TB. Raises up front, not mid-loop, when
      no checkpoint dir is configured.
    """
    if checkpoint == "local":
        return lambda df: df.localCheckpoint(eager=True)
    if checkpoint == "reliable":
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "checkpoint='reliable' needs "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant dir>) "
                "before the loop starts"
            )
        return lambda df: df.checkpoint(eager=True)
    raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint: str = "local",
) -> DataFrame:
    """Distributed connected components over an undirected edge list.

    Returns one row per NON-ISOLATED node: (node, component) where
    component is the minimum node id in that component. Nodes that
    appear in no pair are absent (callers union singletons; see
    dup_clusters). Alternates large-star/small-star until the edge set
    is a stable star forest — O(log n) rounds, each a pair of
    join+groupBy passes; converges for any input, max_iter is a safety
    backstop (2^25 ≫ any real component diameter after log-compression).

    ``checkpoint`` picks the per-round lineage-truncation strategy:
    ``"local"`` (default, localCheckpoint) for local mode / short loops,
    ``"reliable"`` (Dataset.checkpoint to the configured checkpoint dir)
    to survive executor loss on a real cluster — see _make_checkpointer.

    Lifecycle: the result reads from one materialized checkpoint (all
    intermediate rounds are freed as they are superseded). Call
    release_components(result) after the LAST action on the result to
    free it deterministically — same contract as unpersisting a frame
    you persisted; otherwise the JVM GC reclaims it eventually.
    """
    from pyspark.sql import Observation

    ckpt = _make_checkpointer(pairs, checkpoint)
    e = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    e = ckpt(_symmetrize(e))
    sig = None
    converged = False
    for _ in range(max_iter):
        # materialize BOTH half-rounds: _small_star references its input
        # in three union/join branches, so an unmaterialized large-star
        # plan would be recomputed ~6x per round (measured 29 Exchanges
        # per round without this checkpoint vs 9 with it). Superseded
        # checkpoints are released IMMEDIATELY — exactly one round's
        # edge set is ever materialized, not O(rounds) of them.
        l = ckpt(_large_star(_symmetrize(e)))
        # convergence signature OBSERVED during the checkpoint action
        # (CollectMetrics rides the same pass): 2 jobs/round instead of
        # 3 — the standalone signature job re-scanned the whole edge
        # set, a full extra pass per round at any scale (round 14,
        # guide §1.2). Identical tuple: the aggregates are merge-order
        # independent and see exactly the materialized rows.
        obs = Observation()
        new_e = ckpt(_small_star(l).observe(obs, *_signature_aggs()))
        _release_checkpoint(l)
        _release_checkpoint(e)
        e = new_e
        m = obs.get
        new_sig = (m["n"], m["h"], m["h2"], m["su"], m["sv"])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # a non-converged edge set is NOT a star forest — returning it
        # would yield silently wrong components, the worst failure mode
        _release_checkpoint(e)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (the star-contraction bound is O(log n) rounds)"
        )
    # star forest: every edge already points node -> component root, but
    # roots themselves carry no row; add root -> root.
    roots = e.select(F.col("v").alias("u")).distinct().join(
        e.select("u").distinct(), "u", "left_anti"
    )
    out = e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        roots.select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
    # the result reads from the final checkpoint; hand its lifetime to
    # the caller (release_components after the last action on `out`)
    out._spark_graft_ckpts = (e,)
    return out


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    checkpoint: str = "local",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS over the full
    corpus: every document gets (doc_id, cluster_id, is_canonical), where
    cluster_id = min doc_id of its duplicate cluster (itself when the doc
    has no near-duplicates) and exactly the cluster-minimum doc is
    canonical — the keep-list a dedup pipeline feeds to training. Column
    defaults match the d02/d03 pair outputs (doc_a, doc_b).
    ``checkpoint`` is forwarded to connected_components.
    """
    comp = connected_components(pairs, src=src, dst=dst, checkpoint=checkpoint)
    out = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col("doc_id") == F.col("cluster_id")))
    )
    out._spark_graft_ckpts = getattr(comp, "_spark_graft_ckpts", ())
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "t08",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its md5-derived
    bucket (uniform over [0, 10000) from ``salt:key``) falls under the
    stratum's rate. Reproducible across runs, cluster sizes, and engines
    (the md5 arithmetic is the dedup.py cross-engine pattern), unlike
    ``df.sample`` whose output depends on partitioning.

    Typical use: rebalance a training corpus by language or source —
    ``stratified_sample(docs, "lang", {"en": 0.1, "de": 0.5}, "doc_id")``.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _SAMPLE_BUCKETS
    )
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.where(bucket < (rate * _SAMPLE_BUCKETS))


def stratified_sample_sql(
    table: str,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "t08",
) -> str:
    """The DuckDB-equivalent SQL of stratified_sample — same md5 bucket,
    same CASE rates — used by tests to cross-check the exact row set."""
    branches = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {float(r)!r}" for s, r in sorted(rates.items())
    )
    return f"""
SELECT * FROM {table}
WHERE (CAST(('0x' || substr(md5('{salt}:' || CAST({key_col} AS VARCHAR)), 1, 8)) AS BIGINT)
       % {_SAMPLE_BUCKETS})
      < (CASE {branches} ELSE {float(default_rate)!r} END) * {_SAMPLE_BUCKETS}
"""


def read_training_shards(
    spark,
    path: str,
    shard: int | None = None,
) -> DataFrame:
    """Read an ordered-epoch export back (write_training_shards with
    ``training_order_seed``): all shards, or one ``shard`` directory —
    partition pruning keeps the scan to that directory — ordered by
    ``pos`` so iteration order equals training order regardless of
    file split or task interleaving. (For unordered exports just use
    ``spark.read.parquet``; there is no order to restore.)"""
    df = spark.read.parquet(path)
    if "pos" not in df.columns or "shard" not in df.columns:
        raise ValueError(
            f"{path} is not an ordered export (no shard/pos columns); "
            "write it with training_order_seed=..."
        )
    if shard is not None:
        df = df.where(F.col("shard") == int(shard))
    return df.orderBy("shard", "pos")


def prepare_training_corpus(
    spark,
    sf_dir: str,
    out_path: str,
    lang_rates: dict[str, float] | None = None,
    quality_threshold: float = 0.5,
    n_shards: int = 8,
    max_records_per_file: int | None = None,
    collect_stats: bool = True,
    checkpoint: str = "local",
    decontaminate_against: DataFrame | None = None,
    decontamination_threshold: float = 0.3,
    repetition_thresholds: tuple[float, float] | None = None,
    scrub_pii: bool = False,
    lm_reference: DataFrame | None = None,
    lm_logprob_min: float = -10.0,
    mixture_weights: dict[str, int] | None = None,
    span_dedup_tokens: int | None = None,
    training_order_seed: str | None = None,
    tokenizer=None,
) -> dict[str, int]:
    """The whole training-data preparation pipeline as ONE composition of
    the engine's operators, documents table in → sharded parquet out:

    1. near-dup clustering (MinHash-LSH pairs → connected components)
       and canonical-doc selection (dup_clusters);
    2. optional benchmark decontamination (``decontaminate_against``: an
       eval/benchmark corpus DataFrame with doc_id+text; docs whose
       5-gram overlap reaches ``decontamination_threshold`` are dropped);
    3. quality filter (the t02 score, threshold default 0.5);
    4. optional repetition filter (``repetition_thresholds`` =
       (top_frac, dup_frac) over 2-grams — the Gopher signals; docs at
       or beyond either bound are dropped);
    5. optional LM-quality filter (``lm_reference``: a reference corpus
       DataFrame; docs scoring below ``lm_logprob_min`` mean token
       log-probability under its unigram LM are dropped — the
       CCNet-shaped model-based filter, curation.unigram_logprob);
    6. optional domain-mixture rebalance (``mixture_weights``: integer
       token-share weights over ``source`` — curation's exact-integer
       downsampling; sources absent from the table are dropped; pass
       ``tokenizer`` (a functions.bpe.BPETokenizer, e.g.
       ``BPETokenizer.load(path)``) to run the token-share arithmetic
       on real subword counts instead of whitespace counts — the same
       knob the standalone c04/c05/c06 operators carry);
    7. optional deterministic per-language downsampling
       (stratified_sample; strata absent from ``lang_rates`` keep rate
       1.0);
    8. optional sub-document span dedup (``span_dedup_tokens``: C4-style
       duplicate-span removal at that window size; text is REWRITTEN to
       the surviving spans, n_chars refreshed, emptied docs dropped —
       applied after the doc-level filters so their signals read the
       original text);
    9. optional PII scrubbing of the surviving text (``scrub_pii``;
       redaction totals land in the stats as ``pii_redactions`` via the
       same single-pass observe mechanism);
    10. reproducible hash-sharded export (write_training_shards).

    When ``collect_stats``, per-stage funnel counts come back via
    ``DataFrame.observe`` metrics — collected DURING the single export
    pass, zero extra jobs, so the stats are free at any scale (this is
    the Spark-native answer to "count each stage without re-running the
    chain"). Every stage is deterministic, so the exported corpus is a
    pure function of (input, options). ``checkpoint`` is forwarded to
    connected_components — pass "reliable" on a real cluster so the
    component loop survives executor loss.
    """
    from pyspark.sql import Observation

    from .dedup import d03_minhash_lsh_pairs
    from .textops import t02_quality_score
    from ..sources.readers import load_table

    obs: dict[str, Observation] = {}

    def _tap(df: DataFrame, stage: str) -> DataFrame:
        if not collect_stats:
            return df
        obs[stage] = Observation(f"corpus_{stage}")
        return df.observe(obs[stage], F.count(F.lit(1)).alias("n"))

    docs = _tap(load_table(spark, sf_dir, "documents"), "input")

    clusters = dup_clusters(
        docs, d03_minhash_lsh_pairs(spark, sf_dir), checkpoint=checkpoint
    )
    canon = clusters.where("is_canonical").select("doc_id")
    kept = _tap(docs.join(canon, "doc_id", "left_semi"), "after_dedup")

    kept = apply_doc_filters(
        kept,
        _tap,
        quality_scores=t02_quality_score(spark, sf_dir),
        quality_threshold=quality_threshold,
        decontaminate_against=decontaminate_against,
        decontamination_threshold=decontamination_threshold,
        repetition_thresholds=repetition_thresholds,
        lm_reference=lm_reference,
        lm_logprob_min=lm_logprob_min,
        mixture_weights=mixture_weights,
        tokenizer=tokenizer,
        lang_rates=lang_rates,
        span_dedup_tokens=span_dedup_tokens,
        scrub_pii=scrub_pii,
        obs=obs if collect_stats else None,
    )

    try:
        write_training_shards(
            kept,
            out_path,
            n_shards,
            "doc_id",
            max_records_per_file,
            training_order_seed=training_order_seed,
        )
    finally:
        # the export was the last action over the components state —
        # free its materialized checkpoint (no session-lifetime leak)
        release_components(clusters)
    stats = {stage: o.get["n"] for stage, o in obs.items()}
    if collect_stats:
        _write_manifest(
            spark,
            out_path,
            stats,
            {
                "sf_dir": sf_dir,
                "lang_rates": lang_rates,
                "quality_threshold": quality_threshold,
                "n_shards": n_shards,
                "max_records_per_file": max_records_per_file,
                "decontaminated": decontaminate_against is not None,
                "decontamination_threshold": decontamination_threshold,
                "repetition_thresholds": list(repetition_thresholds)
                if repetition_thresholds
                else None,
                "scrub_pii": scrub_pii,
                "lm_filtered": lm_reference is not None,
                "lm_logprob_min": lm_logprob_min if lm_reference is not None else None,
                "mixture_weights": mixture_weights,
                "span_dedup_tokens": span_dedup_tokens,
                "training_order_seed": training_order_seed,
                "checkpoint": checkpoint,
            },
        )
    return stats


def mixture_stage(
    kept: DataFrame, mixture_weights: dict[str, int], tokenizer=None
) -> DataFrame:
    """The corpus-GLOBAL domain-mixture stage — ONE implementation
    shared by the batch pipeline (apply_doc_filters) and the
    incremental release pass (corpus_incremental.release_corpus), so
    their parity is structural. Semantics: curation's exact-integer
    token-share downsampling over ``source``."""
    from .curation import domain_mixture_sample

    mixed = domain_mixture_sample(
        kept, mixture_weights, tokenizer=tokenizer
    ).select("doc_id")
    return kept.join(mixed, "doc_id", "left_semi")


def span_dedup_stage(kept: DataFrame, span_tokens: int) -> DataFrame:
    """The corpus-GLOBAL C4-style duplicate-span removal stage (shared
    exactly like mixture_stage): text is REWRITTEN to the surviving
    spans, n_chars refreshed, emptied docs dropped."""
    from .curation import span_dedup

    rewritten = span_dedup(kept, span=span_tokens).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    return (
        kept.drop("text")
        .join(rewritten, "doc_id")
        .where(F.length("text") > 0)
        .withColumn("n_chars", F.length("text"))
    )


def apply_doc_filters(
    kept: DataFrame,
    tap,
    *,
    quality_scores: DataFrame,
    quality_threshold: float = 0.5,
    decontaminate_against: DataFrame | None = None,
    decontamination_threshold: float = 0.3,
    repetition_thresholds: tuple[float, float] | None = None,
    lm_reference: DataFrame | None = None,
    lm_logprob_min: float = -10.0,
    mixture_weights: dict[str, int] | None = None,
    tokenizer=None,
    lang_rates: dict[str, float] | None = None,
    span_dedup_tokens: int | None = None,
    scrub_pii: bool = False,
    obs: dict | None = None,
) -> DataFrame:
    """The post-dedup per-document filter chain of the corpus pipeline,
    extracted so the batch path (prepare_training_corpus) and the
    incremental path (corpus_incremental.ingest_corpus_wave) share ONE
    implementation — wave-vs-batch parity of every stage is structural,
    not duplicated code kept in sync by hand.

    ``tap(df, stage)`` is the caller's funnel-observation hook;
    ``quality_scores`` is a (doc_id, quality_score) frame (the batch
    path passes the registry t02 over the full table, the incremental
    path passes textops.quality_score_frame over the wave — identical
    per-doc values either way). Every stage here is a pure per-document
    decision EXCEPT ``mixture_weights`` (corpus-global token shares)
    and ``span_dedup_tokens`` (span ownership = min doc_id over the
    WHOLE input frame) — incremental callers must leave both unset and
    run them globally over the assembled corpus instead.

    ``obs`` (the caller's Observation dict) enables the pii-redaction
    counter; None disables stats for that stage."""
    from pyspark.sql import Observation

    if decontaminate_against is not None:
        from .cleaning import decontaminate

        contaminated = (
            decontaminate(kept, decontaminate_against, n=5)
            .where(F.col("overlap") >= decontamination_threshold)
            .select("doc_id")
        )
        kept = tap(
            kept.join(contaminated, "doc_id", "left_anti"),
            "after_decontamination",
        )

    good = quality_scores.where(
        F.col("quality_score") >= quality_threshold
    ).select("doc_id")
    kept = tap(kept.join(good, "doc_id", "left_semi"), "after_quality")

    if repetition_thresholds is not None:
        from .cleaning import repetition_signals

        top_max, dup_max = repetition_thresholds
        repetitive = (
            repetition_signals(kept, n=2)
            .where((F.col("top_frac") >= top_max) | (F.col("dup_frac") >= dup_max))
            .select("doc_id")
        )
        kept = tap(
            kept.join(repetitive, "doc_id", "left_anti"), "after_repetition"
        )

    if lm_reference is not None:
        from .curation import unigram_logprob

        fluent = (
            unigram_logprob(kept, lm_reference)
            .where(F.col("mean_logprob") >= lm_logprob_min)
            .select("doc_id")
        )
        kept = tap(kept.join(fluent, "doc_id", "left_semi"), "after_lm_filter")

    if mixture_weights is not None:
        kept = tap(
            mixture_stage(kept, mixture_weights, tokenizer=tokenizer),
            "after_mixture",
        )

    if lang_rates:
        kept = tap(
            stratified_sample(kept, "lang", lang_rates, "doc_id", default_rate=1.0),
            "after_sample",
        )

    if span_dedup_tokens is not None:
        kept = tap(span_dedup_stage(kept, span_dedup_tokens), "after_span_dedup")

    if scrub_pii:
        from .cleaning import PII_PATTERNS, pii_scrub

        kept = pii_scrub(kept)
        hit_cols = [f"{name}_hits" for name in PII_PATTERNS]
        if obs is not None:
            obs["pii_redactions"] = Observation("corpus_pii_redactions")
            kept = kept.observe(
                obs["pii_redactions"],
                F.coalesce(
                    F.sum(sum((F.col(c) for c in hit_cols), F.lit(0))), F.lit(0)
                )
                .cast("bigint")
                .alias("n"),
            )
        kept = kept.drop(*hit_cols)

    return kept


def _write_manifest(
    spark,
    out_path: str,
    stats: dict,
    config: dict,
    stats_key: str = "funnel",
    filename: str = "_corpus_manifest.json",
) -> None:
    """Reproducibility manifest next to the shards: the funnel counts
    and every knob that determined the corpus, so a consumer (or a
    re-run) can verify it has the exact same dataset without recounting.
    Every pipeline stage is deterministic, so (manifest config + input
    corpus) fully identifies the output bytes.

    Written through the Hadoop FileSystem API so the manifest lands
    wherever the shards did (local, HDFS, S3A, ...) — a driver-local
    ``open()`` would silently miss a remote ``out_path``."""
    import json

    payload = json.dumps(
        {stats_key: stats, "config": config}, indent=2, sort_keys=True
    ).encode("utf-8")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(out_path, filename)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def read_corpus_manifest(
    spark, out_path: str, filename: str = "_corpus_manifest.json"
) -> dict:
    """Read back the manifest written by prepare_training_corpus.
    Goes through the Hadoop FileSystem API like the writer (any scheme);
    ``spark.read.text`` cannot be used here — Spark's file index hides
    underscore-prefixed files (the same convention that makes the
    manifest invisible to parquet readers of the shard directory)."""
    import json

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(out_path, filename)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8")
    )
    lines = []
    try:
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
    finally:
        reader.close()
    return json.loads("\n".join(lines))


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    max_records_per_file: int | None = None,
    training_order_seed: str | None = None,
) -> None:
    """Export a corpus as hash-sharded parquet: shard membership is a
    pure function of ``key_col`` (stable run-to-run and cluster-size-
    independent — resumable/reproducible training), and
    ``maxRecordsPerFile`` additionally splits any hot shard so no file
    exceeds the loader's streaming budget.

    With ``training_order_seed``, rows additionally carry a
    deterministic GLOBAL training order (curation.shuffle_for_training:
    shard = seeded md5 draw, ``pos`` = rank of an independent draw
    within the shard): the output is ``shard=N/`` directories whose
    files hold rows in ``pos`` order, plus the ``pos`` column for
    resume pointers — a reproducible shuffled epoch with no global
    sort (each shard sorts only its own slice). Vary the seed per
    epoch for independent permutations of the same corpus."""
    if training_order_seed is not None:
        from .curation import shuffle_for_training

        out = (
            shuffle_for_training(
                df, n_shards=n_shards, seed=training_order_seed, id_col=key_col
            )
            .repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "pos")
        )
        w = out.write.mode("overwrite").partitionBy("shard")
    else:
        out = df.repartition(n_shards, F.col(key_col))
        w = out.write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.parquet(path)
