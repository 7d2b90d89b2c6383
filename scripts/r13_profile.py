"""Round-13 optimization profiler: per-entry Spark JOB census.

Runs selected bench entries (same noop-sink methodology as bench.py)
in an event-log-enabled session with per-entry job descriptions, then
parses the event log into {entry: [(job_id, seconds, n_tasks), ...]}.
The job count per entry is the thing bench seconds alone hide: at
sf0.1 most entries are fixed-overhead bound, so a redundant pass shows
up as an extra job, not as an obviously hot stage.

Usage: python scripts/r13_profile.py [entry ...]   (default: the
heavyweight set). Prints one JSON line per entry:
  {"entry": ..., "sec": ..., "n_jobs": N, "jobs": [[desc, sec, tasks], ...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = "/tmp/r13_eventlog"
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from kmeanwithmapreduce_spark.session import get_spark

    spark = get_spark(
        "r13profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    Q = queries()

    default = [
        "s07_ann_search_join_parity",
        "v03_bucketed_upsert_time_travel",
        "v04_rebucket_time_travel",
        "c01_decontamination",
        "t11_kll_quantiles",
        "d02_ngram_jaccard_pairs",
        "v07_schema_evolution",
        "c02_repetition_signals",
        "v02_table_time_travel",
        "j02_range_join_campaigns",
        "q39_copurchase_lift",
        "d05_embedding_neardup_pairs",
        "c07_span_dedup",
        "q01_pricing_summary",
        "d03_minhash_lsh_pairs",
        "q03_shipping_priority",
        "d04_simhash",
        "q05_local_supplier_volume",
        "v05_file_skipping_scan",
        "v01_data_audit",
        "q14_distinct_parts_per_supplier",
        "t12_bloom_membership",
    ]
    names = sys.argv[1:] or default

    # warmup (untimed)
    from kmeanwithmapreduce_spark.sources.readers import load_table

    load_table(spark, sf_dir, "lineitem").agg({"l_quantity": "sum"}).collect()

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    for name in names:
        sc.setJobDescription(f"r13::{name}")
        t0 = time.monotonic()
        if name == "kmeans_5iter_k8":
            from pyspark.sql import functions as F

            from kmeanwithmapreduce_spark.kmeans import core

            li = load_table(spark, sf_dir, "lineitem")
            feats = li.select(
                F.array(
                    F.col("l_quantity"),
                    F.col("l_extendedprice") / 1000.0,
                    F.col("l_discount"),
                    F.col("l_tax"),
                ).cast("array<float>").alias("features")
            )
            core.lloyd(
                feats, core.KMeansParams(k=8, seed=42, thresh=0.0, max_loop=5)
            )
        elif name == "corpus_pipeline":
            import shutil
            import tempfile

            from kmeanwithmapreduce_spark.operators.corpus import (
                prepare_training_corpus,
            )

            td = tempfile.mkdtemp(prefix="r13_corpus_")
            try:
                prepare_training_corpus(
                    spark, sf_dir, os.path.join(td, "out"),
                    lang_rates={"en": 0.5}, n_shards=8,
                )
            finally:
                shutil.rmtree(td, ignore_errors=True)
        else:
            Q[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        timings[name] = round(time.monotonic() - t0, 3)
        sc.setJobDescription(None)

    app_id = sc.applicationId
    spark.stop()

    # parse the event log
    path = os.path.join(evdir, app_id)
    jobs: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description", "")
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "t0": ev["Submission Time"],
                    "n_stages": len(ev.get("Stage Infos", [])),
                    "tasks": sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    ),
                    "site": (ev.get("Stage Infos") or [{}])[-1].get(
                        "Stage Name", ""
                    )[:60],
                }
            elif ev.get("Event") == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["sec"] = round(
                        (ev["Completion Time"] - j["t0"]) / 1000.0, 3
                    )

    per_entry: dict[str, list] = {n: [] for n in names}
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["desc"].startswith("r13::"):
            entry = j["desc"][5:]
            if entry in per_entry:
                per_entry[entry].append(
                    [jid, j.get("sec", -1), j["tasks"], j["n_stages"],
                     j.get("site", "")]
                )

    for n in names:
        js = per_entry[n]
        print(json.dumps({
            "entry": n,
            "sec": timings[n],
            "n_jobs": len(js),
            "job_sec_sum": round(sum(x[1] for x in js), 3),
            "jobs": js,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
