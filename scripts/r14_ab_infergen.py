"""Round-14 A/B: the global InferFiltersFromGenerate exclusion on the
explode-pipeline entries the round-13 driver measured SLOWER in both of
its runs (d02, d03) plus the control set (d04, c04, c01, c02, c07).

The round-13 VERDICT's top item: the builder's A/B said the exclusion
is neutral-to-better for every explode consumer, but the driver's two
runs contradicted that for d02/d03. Settle it with a quiet,
same-session, BOTH-ORDERS A/B: the exclusion is a runtime SQL conf, so
each timed action toggles it immediately before the noop write (the
conf is read at optimization time, not DataFrame-construction time —
verified by checking the plan under each setting).

Usage: python scripts/r14_ab_infergen.py [reps] [entry ...]
Prints one JSON line per (entry, order) with per-setting times, then a
summary. Refuses to run on a loaded machine unless --force.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def main() -> int:
    load = os.getloadavg()
    if max(load[0], load[1]) > 2 and "--force" not in sys.argv:
        print(json.dumps({"error": "machine loaded", "load": load}))
        return 3
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = int(args[0]) if args and args[0].isdigit() else 3
    entries = args[1:] if len(args) > 1 else [
        "d02_ngram_jaccard_pairs",
        "d03_minhash_lsh_pairs",
        "d04_simhash",
        "c04_chunking",
        "c01_decontamination",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kmeanwithmapreduce_spark.session import get_spark

    spark = get_spark("r14_ab")
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    Q = queries()

    def run_once(name: str, excluded: bool) -> float:
        df = Q[name](spark, sf_dir)  # load_table re-sets the exclusion
        spark.conf.set(
            "spark.sql.optimizer.excludedRules", _RULE if excluded else ""
        )
        spark.sparkContext.setJobDescription(
            f"ab:{name}:{'exc' if excluded else 'on'}"
        )
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    # one untimed warmup of each entry so codegen/classloading is paid
    # before any timed rep, symmetric across settings
    for name in entries:
        run_once(name, True)
        run_once(name, False)

    results: dict[str, dict[str, list[float]]] = {}
    for name in entries:
        times: dict[str, list[float]] = {"exc": [], "on": []}
        for rep in range(reps):
            # alternate order per rep: exc-first on even reps, on-first odd
            order = [("exc", True), ("on", False)]
            if rep % 2:
                order.reverse()
            for label, flag in order:
                times[label].append(round(run_once(name, flag), 3))
        results[name] = times
        print(json.dumps({
            "entry": name,
            "exc": times["exc"],
            "on": times["on"],
            "exc_min": min(times["exc"]),
            "on_min": min(times["on"]),
            "verdict": (
                "exclusion_faster"
                if min(times["exc"]) < min(times["on"]) * 0.95
                else "rule_on_faster"
                if min(times["on"]) < min(times["exc"]) * 0.95
                else "neutral"
            ),
            "load": [round(v, 2) for v in os.getloadavg()],
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
