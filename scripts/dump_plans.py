"""Write the formatted physical plan of each named registry entry to
<outdir>/<entry>_<tag>.txt — before/after evidence for a plan change.

Usage: SPARK_GRAFT_SF_DIR=<sf_dir> python scripts/dump_plans.py <outdir> <tag> entry...
Plans depend on the corpus size, so the corpus dir has no default.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 4 or not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from __spark_entry__ import queries
    from kmeanwithmapreduce_spark.plans.inspect import explain_str
    from kmeanwithmapreduce_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    for name in names:
        plan = explain_str(qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
