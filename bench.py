"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a
full JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "queries_warm": {name: sec}, "sf": ...} followed
by a COMPACT final line (cold map + total + errors, minified, <1900
bytes) so the driver's 2000-char output tail always captures every cold
entry. The full cold+warm JSON is also written to BENCH_LOCAL.json.

Execution is measured with the noop sink (full distributed execution, no
driver-side row transfer), matching how a cluster job would be bounded.
"queries" are first executions (cold codegen — comparable to the frozen
BASELINE targets, which were measured the same way); "queries_warm" is a
second pass with compilation amortized — the steady-state cost a
long-lived cluster session pays.

Fault-isolated: a query that raises is recorded under "errors" and the
run continues — the JSON line is always printed (round 3's bench died at
one broken query and produced no numbers at all).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback


# The timed entries, in run order (a cold pass, then a warm pass).
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q09_topk_parts_per_brand",
    "q10_running_total",
    "q14_distinct_parts_per_supplier",
    "q19_sessionization",
    "w01_tumbling",
    "t02_quality_score",
    "d01_exact_dedup",
    "d02_ngram_jaccard_pairs",
    "d03_minhash_lsh_pairs",
    "d04_simhash",
    "s01_knn_bruteforce",
    "w03_session",
    "j01_asof_last_purchase",
    "q21_custdist",
    # round-2 additions: one heavy query per previously-unguarded
    # family (rollup, range join, stats battery, distributed GEMM)
    "q07_rollup_region_nation_year",
    "j02_range_join_campaigns",
    "q24_quantiles_stats",
    "d05_embedding_neardup_pairs",
    # round-5 additions: corpus-cleaning ops (BASELINE §G targets)
    "c01_decontamination",
    "c02_repetition_signals",
    "c03_pii_scrub",
    "c04_chunking",
    "c05_token_budget_sample",
    # round-5 curation ops (BASELINE §H targets)
    "c06_domain_mixture",
    "c07_span_dedup",
    "c08_unigram_logprob",
    # round-5 temporal/sketch/SCD additions (BASELINE §I targets):
    # j06 is the equi-join re-plan of j02 (same answer — their delta
    # is the nested-loop vs binned-join cost at the same sf)
    "j06_range_join_binned",
    "q31_concurrency_histogram",
    "q32_coalesced_intervals",
    "t09_hll_mergeable",
    "c10_scd2_customer",
    "c11_split_assign",
    "c12_per_group_topk",
    "t10_theta_setops",
    "t11_kll_quantiles",
    "v01_data_audit",
    # round-5 resample/funnel additions (BASELINE §J targets). g01
    # (triangle census) is NOT a bench entry: its cost is the exact
    # 40M-wedge materialization (~7.7 s warm at sf0.1) — the s04/t08
    # exclusion rule; SCALE.md carries its measured sf1 linearity.
    "q33_gapfill_locf",
    "q34_funnel",
    "q35_rolling_7day",
    "q36_cohort_retention",
    # round-5 sequence-analysis additions (also §J targets)
    "q37_transition_matrix",
    "q38_leading_paths",
    "q39_copurchase_lift",
    "q40_rfm_segments",
    # round-5 fifth-session additions (BASELINE §K targets)
    "s06_bm25_search",
    "q41_last_touch_attribution",
    "c13_weighted_sample",
    "c14_snapshot_diff",
    "t12_bloom_membership",
    "q42_histogram_cents",
    "q43_mad_outliers",
    # round-6 additions (BASELINE §L targets): t13 includes BPE
    # training (word-table agg + driver merge loop) + tokenize;
    # v02 includes three snapshot writes + the time-travel diff
    "t13_bpe_subword_stats",
    "v02_table_time_travel",
    # round-8 addition (BASELINE §M target): MERGE epochs through the
    # bucketed upsert table — create + partial-bucket upsert +
    # rollback + three time-travel reads (e0, e1, current) + SMJ diff
    "v03_bucketed_upsert_time_travel",
    # round-9 addition (BASELINE §N target): v03 plus a 4 -> 16
    # rebucket boundary mid-history and four time-travel reads —
    # the modulus-evolution storage path, guarded as one number.
    # m08 (MJPEG decode) is NOT a bench entry: per-item Python codec
    # kernel cost by construction, the m04/m07 exclusion rule.
    "v04_rebucket_time_travel",
    # round-10 addition (BASELINE §O target): file-skipping scan —
    # snapshot commit with the per-file stats sidecar + pruned range
    # read; guards the sidecar collection agg AND the pruned-read
    # plan as one number. m09 (progressive JPEG parity) is NOT a
    # bench entry: per-item Python codec kernel cost by
    # construction, the m04/m07/m08 exclusion rule.
    "v05_file_skipping_scan",
    # round-11 addition (BASELINE §P target): ANN retrieval-family
    # guard — fresh IVF-PQ index build over the sf's embeddings +
    # the serving search AND the distributed search_join at the
    # fixed 8-cell geometry, with the bit-equality pin inside the
    # entry. Bounded: 5 queries x top_k 10 at every sf. This is
    # the one family (s01-s08) that previously had no
    # BENCH-vs-BASELINE presence.
    "s07_ann_search_join_parity",
    # round-12 addition (BASELINE §Q target): additive schema
    # evolution through the bucketed table — create + an
    # add-column MERGE + two time-travel reads + the exact-integer
    # quality aggregate; guards the evolved-read NULL-fill path as
    # one number. s09 (sampled-build parity) is NOT a bench entry:
    # its cost is TWO fresh index builds by construction (the
    # s04/g01 exact-cost exclusion rule) — s07 already guards one
    # build+search; SCALE.md carries s09's measured build speedup.
    "v07_schema_evolution",
    # m04_png_roundtrip is NOT a bench entry: its cost is the
    # per-item Python PNG encode+decode kernel by construction (the
    # g01/t08/s04 exact-cost exclusion rule); the codec itself is
    # timed in SCALE.md-adjacent tests and the oracle sweep.
)


def _timed(timings: dict, errors: dict, name: str, fn, err_key: str | None = None) -> None:
    """Fault-isolated timing: one broken query records an error and the
    run continues — a benchmark harness should degrade, not die (round 3
    produced NO numbers because one query raised before the print)."""
    t0 = time.monotonic()
    try:
        fn()
        timings[name] = round(time.monotonic() - t0, 3)
    except Exception:
        errors[err_key or name] = (
            traceback.format_exc(limit=3).strip().splitlines()[-1]
        )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # Machine-state stamp: round 6's driver artifact was load-poisoned
    # (3x aggregate under container contention) and nothing in the JSON
    # said so — a full round of perf signal burned. Stamp 1/5/15-min
    # load + wall timestamps at start and end of the run so a polluted
    # artifact self-identifies; "load_warning" flips when the run
    # STARTED on a busy machine (1-min load > 2).
    load_start = tuple(round(v, 2) for v in os.getloadavg())
    t_run0 = time.time()

    # --require-quiet: refuse to produce an artifact from a contended
    # machine (round-7 lesson: every builder bench that round started at
    # load >= 2.66, and one warned run was mislabeled "quiet"). The
    # driver's invocation passes no flags, so its behavior is unchanged;
    # builders recording round evidence should use this and re-run until
    # it passes, or consciously override with --force.
    # Gate on BOTH the 1-min and 5-min stamps: a decaying-load box
    # (round-8 driver artifact: 1-min 1.89 but 5-min 3.3) passes a
    # 1-min-only gate while its tail entries still read 2-3x — the
    # just-went-quiet machine must wait out the decay.
    if "--require-quiet" in sys.argv and "--force" not in sys.argv:
        if max(load_start[0], load_start[1]) > 2:
            print(json.dumps({
                "error": "require_quiet_refused",
                "load_start": load_start,
                "hint": "1-min or 5-min load > 2 — wait for the machine "
                        "to go quiet and re-run, or pass --force",
            }))
            return 3

    from kmeanwithmapreduce_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    qs = queries()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # JVM/codegen warmup (untimed): one scan+agg so the first timed query
    # doesn't absorb classloading.
    from kmeanwithmapreduce_spark.sources.readers import load_table as _lt

    _timed({}, errors, "warmup", lambda: _lt(spark, sf_dir, "lineitem").agg({"l_quantity": "sum"}).collect())

    def _run_query(name: str) -> None:
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    for name in HEADLINE:
        _timed(timings, errors, name, lambda: _run_query(name))

    # second pass: steady-state cost with codegen/classloading amortized —
    # the number that scales to a long-lived cluster session. Reported as
    # a separate key; the headline "queries" stay cold-run for
    # comparability with the frozen BASELINE §C/§D/§E targets.
    timings_warm: dict[str, float] = {}
    for name in HEADLINE:
        _timed(
            timings_warm, errors, name, lambda: _run_query(name),
            err_key=f"warm:{name}",
        )

    # K-Means: fixed 5 iterations on the lineitem projection (per-iter
    # cost is the metric; convergence depends on init).
    from pyspark.sql import functions as F

    from kmeanwithmapreduce_spark.kmeans import core
    from kmeanwithmapreduce_spark.sources.readers import load_table

    try:
        li = load_table(spark, sf_dir, "lineitem")
        feats = li.select(
            F.array(
                F.col("l_quantity"),
                F.col("l_extendedprice") / 1000.0,
                F.col("l_discount"),
                F.col("l_tax"),
            )
            .cast("array<float>")
            .alias("features")
        )
    except Exception:
        errors["kmeans_setup"] = (
            traceback.format_exc(limit=3).strip().splitlines()[-1]
        )
        feats = None

    def _lloyd_5iter() -> None:
        core.lloyd(
            feats,
            core.KMeansParams(k=8, seed=42, thresh=0.0, max_loop=5),
        )

    if feats is not None:
        _timed(timings, errors, "kmeans_5iter_k8", _lloyd_5iter)

        # warm per-iteration cost: second identical run (JVM + codegen +
        # input cache paths fully warm) divided by iteration count — the
        # number the 100x scale-up argument in SCALE.md extrapolates
        # from; cold-run sampling/caching overhead is excluded by
        # construction.
        _timed(timings, errors, "kmeans_warm_sec_per_iter", _lloyd_5iter)
        if "kmeans_warm_sec_per_iter" in timings:
            timings["kmeans_warm_sec_per_iter"] = round(
                timings["kmeans_warm_sec_per_iter"] / 5, 3
            )

        from kmeanwithmapreduce_spark.kmeans.mllib import mllib_kmeans

        _timed(
            timings, errors, "kmeans_mllib_5iter_k8",
            lambda: mllib_kmeans(feats, k=8, seed=42, max_iter=5, init_mode="random"),
        )

    # Whole-pipeline entry: prepare_training_corpus end-to-end (MinHash-
    # LSH dedup -> connected components -> quality filter -> stratified
    # sample -> sharded export) — the composed product story, guarded as
    # one number. Funnel stats ride along (observe metrics, zero extra
    # jobs).
    corpus_funnel: dict[str, int] = {}

    def _corpus_pipeline() -> None:
        import shutil
        import tempfile

        from kmeanwithmapreduce_spark.operators.corpus import (
            prepare_training_corpus,
        )

        td = tempfile.mkdtemp(prefix="bench_corpus_")
        try:
            corpus_funnel.update(
                prepare_training_corpus(
                    spark,
                    sf_dir,
                    os.path.join(td, "out"),
                    lang_rates={"en": 0.5},
                    n_shards=8,
                )
            )
        finally:
            shutil.rmtree(td, ignore_errors=True)

    _timed(timings, errors, "corpus_pipeline", _corpus_pipeline)

    # ------------------------------------------------------------------
    # Scale spot-probe (round 14, additive — VERDICT r13 item 3): the
    # sf0.1 bench is task-overhead-bound (every 8c/32c ratio ≤ 1.3), so
    # it cannot SEE parallelism wins. These two entries run the heaviest
    # text operators over a 10x-replicated documents corpus (written to
    # a temp parquet as an UNTIMED setup step — the timed region reads
    # parquet like every other entry; nothing persists across runs).
    # Every token is tagged with its copy id, so copies share no
    # shingles: the workload is exactly 10 independent sf0.1 corpora —
    # linear scale-up, no artificial near-dup pair blowup. Because the
    # driver also runs this bench at a lower core count, these entries'
    # 8c/32c ratio is the scale evidence the sf0.1 entries cannot give.
    # They live in their OWN dict + their own tiny JSON line (the
    # round-13 compact line already sits at 1885 of the 1900-byte tail
    # budget, so the headline line and its entry set stay byte-stable;
    # a second additive line is exactly what the r13 VERDICT asked for).
    scale_probe: dict[str, float] = {}

    def _scale_probe_fn() -> None:
        import shutil
        import tempfile

        from pyspark.sql import functions as SF

        from kmeanwithmapreduce_spark.operators.cleaning import decontaminate
        from kmeanwithmapreduce_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
        td = tempfile.mkdtemp(prefix="bench_scale_")
        path = os.path.join(td, "documents10x")
        try:
            def _gen() -> None:
                d = load_table(spark, sf_dir, "documents").select(
                    "doc_id", "source", "text"
                )
                tagged = (
                    d.select(
                        "doc_id",
                        "source",
                        "text",
                        SF.explode(
                            SF.sequence(SF.lit(0), SF.lit(factor - 1))
                        ).alias("copy"),
                    )
                    .select(
                        (SF.col("doc_id") * factor + SF.col("copy")).alias(
                            "doc_id"
                        ),
                        "source",
                        SF.concat_ws(
                            " ",
                            SF.transform(
                                SF.split(SF.col("text"), " "),
                                lambda t: SF.concat(
                                    t, SF.lit("_"), SF.col("copy").cast("string")
                                ),
                            ),
                        ).alias("text"),
                    )
                )
                ncpu = spark.sparkContext.defaultParallelism
                tagged.repartition(max(8, ncpu)).write.mode(
                    "overwrite"
                ).parquet(path)

            _timed(scale_probe, errors, "scale10x_gen", _gen)
            if "scale10x_gen" not in scale_probe:
                return  # generation failed; error already recorded
            docs10 = spark.read.parquet(path)

            def _d02_10x() -> None:
                ngram_jaccard_pairs(docs10).write.format("noop").mode(
                    "overwrite"
                ).save()

            def _c01_10x() -> None:
                ev = docs10.where(SF.col("doc_id") % 11 == 7)
                tr = docs10.where(SF.col("doc_id") % 11 != 7)
                decontaminate(
                    tr, ev, n=5, id_cols=("doc_id", "source")
                ).write.format("noop").mode("overwrite").save()

            _timed(scale_probe, errors, "scale10x_d02", _d02_10x)
            _timed(scale_probe, errors, "scale10x_c01", _c01_10x)
        finally:
            shutil.rmtree(td, ignore_errors=True)

    _timed({}, errors, "scale_probe_outer", _scale_probe_fn)

    total = round(sum(timings.values()), 3)
    load_end = tuple(round(v, 2) for v in os.getloadavg())
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": timings_warm,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "load_start": load_start,
        "load_end": load_end,
        "t_start": round(t_run0, 1),
        "t_end": round(time.time(), 1),
    }
    if load_start[0] > 2:
        out["load_warning"] = (
            f"run started at 1-min load {load_start[0]} on a "
            f"{os.cpu_count()}-cpu box — timings may reflect external "
            "contention, compare warm pass / re-run quiet before "
            "treating deltas as regressions"
        )
    if corpus_funnel:
        out["corpus_funnel"] = corpus_funnel
    if scale_probe:
        out["scale10x"] = scale_probe
    if errors:
        out["errors"] = errors

    # Full cold+warm+funnel JSON goes to a repo file (survives any
    # stdout truncation); stdout gets the full line for humans, then a
    # COMPACT line LAST. The driver's BENCH_r{N}.json keeps only the
    # last 2000 chars of output, which truncated the round-5 cold map —
    # the final line is minified cold-map + total + errors only and is
    # hard-capped under 1900 bytes (progressively shrunk if a future
    # registry grows past the cap), so every cold entry and the total
    # are always parseable from the artifact tail.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json"),
            "w",
        ) as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench line
    print(json.dumps(out))

    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "load": [load_start[0], load_end[0]],
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    if load_start[0] > 2:
        compact["load_warning"] = True
    if errors:
        compact["errors"] = {k: v[:60] for k, v in errors.items()}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # shrink: 1-dp, then clipped error messages
        compact["queries"] = {k: round(v, 1) for k, v in timings.items()}
        if errors:
            compact["errors"] = {k: v[:20] for k, v in errors.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # last resort: keep totals + error names only
        compact.pop("queries")
        compact["n_queries"] = len(timings)
        line = json.dumps(compact, separators=(",", ":"))
    # the scale spot-probe rides its OWN tiny line right before the
    # compact line (round 14): the compact line already sits ~15 bytes
    # under the driver's 2000-char tail cap, so the probe cannot live
    # inside it, and this line (~90 bytes) still fits the tail budget
    # alongside it. cpus is stamped so an 8c-vs-32c pair of driver runs
    # reads as a scaling ratio directly.
    if scale_probe:
        print(json.dumps(
            {
                "metric": "scale10x",
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                **{
                    k.replace("scale10x_", ""): round(v, 2)
                    for k, v in scale_probe.items()
                },
            },
            separators=(",", ":"),
        ))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
