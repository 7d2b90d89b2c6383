"""Round-8 SCALE.md measurements, one reproducible run:

- sf0.1 vs sf1 cold wall for the media-codec kernels (m04/m05/m06/m07)
  and the bucketed-upsert entry (v03);
- BPE 32k-merge APPLY over sf0.1 vs sf1 documents (tokens/s scaling);
- incremental corpus ingest: three equal-size waves over the sf1
  documents table — per-wave wall must stay ~flat (O(wave), not
  O(corpus)) as the persisted band index grows.

Prints one JSON line, load-stamped (bench.py discipline: rerun until
load_start is quiet before recording numbers).

Usage: python scripts/r8_scale_probe.py [sf01_dir] [sf1_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"

    from pyspark.sql import functions as F

    from __spark_entry__ import queries
    from kmeanwithmapreduce_spark.functions.bpe import bpe_count_col, train_bpe
    from kmeanwithmapreduce_spark.operators.corpus_incremental import (
        ingest_corpus_wave,
    )
    from kmeanwithmapreduce_spark.session import get_spark
    from kmeanwithmapreduce_spark.sources.readers import load_table

    spark = get_spark("r8probe")
    spark.sparkContext.setLogLevel("ERROR")
    Q = queries()
    out: dict = {"load_start": round(os.getloadavg()[0], 2)}

    def t_entry(name: str, sf: str) -> float:
        t0 = time.monotonic()
        Q[name](spark, sf).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 2)

    # untimed warmup so the first timed entry doesn't absorb classloading
    load_table(spark, sf01, "lineitem").agg({"l_quantity": "sum"}).collect()

    for name in [
        "m04_png_roundtrip",
        "m05_wav_roundtrip",
        "m06_avi_frame_stats",
        "m07_jpeg_decode_stats",
        "v03_bucketed_upsert_time_travel",
    ]:
        out[name] = {"sf0.1": t_entry(name, sf01), "sf1": t_entry(name, sf1)}

    docs01 = load_table(spark, sf01, "documents")
    docs1 = load_table(spark, sf1, "documents")
    tok = train_bpe(docs01, n_merges=32768, top_words=262144, min_count=2)
    bpe: dict = {"n_merges_trained": len(tok.merges)}
    for label, d in [("sf0.1", docs01), ("sf1", docs1)]:
        t0 = time.monotonic()
        total = int(bpe_count_col(d, tok).selectExpr("sum(n_tokens)").first()[0])
        dt = time.monotonic() - t0
        bpe[label] = {
            "sec": round(dt, 2),
            "tokens": total,
            "tokens_per_s": int(total / dt),
        }
    out["bpe_apply_32k"] = bpe

    # incremental corpus: 3 equal doc_id-range waves over sf1 documents
    d = docs1.select("doc_id", "text", "lang", "source", "n_chars")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    waves = [
        d.where(F.col("doc_id") <= cut1),
        d.where((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        d.where(F.col("doc_id") > cut2),
    ]
    td = tempfile.mkdtemp(prefix="r8_waves_")
    try:
        per_wave = []
        for i, w in enumerate(waves):
            t0 = time.monotonic()
            stats = ingest_corpus_wave(
                spark, w, os.path.join(td, "corpus"), i,
                quality_threshold=0.5, lang_rates={"en": 0.5},
            )
            per_wave.append(
                {"wave": i, "sec": round(time.monotonic() - t0, 2),
                 "input": stats["input"], "kept": stats.get("after_sample")}
            )
        out["incremental_corpus_sf1"] = per_wave
    finally:
        shutil.rmtree(td, ignore_errors=True)

    out["load_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
