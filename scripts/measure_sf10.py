"""One-off sf10 (100x the driver's sf0.1) scale measurement: the
shuffle-heavy / quadratic-prone subset, cold+warm pair each. d05 is
deliberately excluded — it is the documented exact-quadratic baseline
(2.5e11 candidate pairs at 500k vectors); its scale path is s02/SemDeDup.
Usage: python scripts/measure_sf10.py [sf_dir]  (default /tmp/sf10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kmeanwithmapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    spark = get_spark("sf10", shuffle_partitions=64)
    from pyspark.sql import functions as F

    from __spark_entry__ import queries
    from kmeanwithmapreduce_spark.sources.readers import load_table

    qs = queries()
    names = [
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q19_sessionization",
        "w03_session",
        "j01_asof_last_purchase",
        "d01_exact_dedup",
        "d02_ngram_jaccard_pairs",
        "d03_minhash_lsh_pairs",
        "d04_simhash",
        "c05_token_budget_sample",
        "c07_span_dedup",
        "t08_cms_heavy_hitters",
    ]
    for name in names:
        ts = []
        for _ in range(2):
            t0 = time.time()
            try:
                qs[name](spark, sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(round(time.time() - t0, 1))
            except Exception as exc:  # noqa: BLE001 - report, keep measuring
                print(f"SF10 {name} ERROR {type(exc).__name__}: {exc}")
                ts = None
                break
        if ts:
            print(f"SF10 {name} cold={ts[0]} warm={ts[1]}", flush=True)

    # K-Means warm per-iteration at 60M lineitem rows
    from kmeanwithmapreduce_spark.kmeans import core

    li = load_table(spark, sf, "lineitem")
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
    t0 = time.time()
    res = core.lloyd(
        feats, core.KMeansParams(k=8, seed=42, thresh=0.0, max_loop=5)
    )
    total = time.time() - t0
    print(
        f"SF10 kmeans_5iter_k8 total={total:.1f} per_iter~="
        f"{total / max(res.n_iter, 1):.2f} iters={res.n_iter}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
