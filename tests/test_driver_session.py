"""The external driver builds its own SparkSession with default configs;
the engine must self-heal (nanos timestamps, UTC timezone). Simulated in
a subprocess with a vanilla session."""

from __future__ import annotations

import os
import subprocess
import sys

# the checkout under test; the subprocess script imports from it
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
sys.path.insert(0, REPO)
import duckdb
from pyspark.sql import SparkSession

# vanilla session: no engine configs, hostile timezone
spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla-driver")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

df = e.entry(spark)
assert df.count() > 0

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

qs, osql = e.queries(), e.oracle_sql()
# the events-based, timestamp-emitting queries are the ones a hostile
# session breaks; check full values on one of each shape
for name in ["w01_tumbling", "q17_monthly_trend", "q19_sessionization",
             "j02_range_join_campaigns", "j06_range_join_binned",
             "j01_asof_last_purchase", "w03_session"]:
    got = sorted(map(str, qs[name](spark, sf).collect()))
    n_want = len(con.execute(osql[name]).fetchall())
    assert len(got) == n_want, (name, len(got), n_want)
got = {(r[0].isoformat(), r[1]): r[2] for r in qs["w01_tumbling"](spark, sf).select("window_start","event_type","n").collect()}
want = {(r[0].isoformat(), r[1]): r[2] for r in con.execute("SELECT window_start, event_type, n FROM (" + osql["w01_tumbling"] + ")").fetchall()}
assert got == want, "timestamp values diverge under hostile timezone"

# the golden-row VALUES oracles assert bit-determinism of the compat
# K-Means tails; a vanilla session (different core count, 200 shuffle
# partitions) changes aggregation merge order, so full-value parity
# here proves the 5-dp rounding really does absorb it
def canon(rows):
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, float):
                t.append("nan" if v != v else repr(float(v)))
            else:
                t.append(repr(int(v)) if isinstance(v, int) else repr(v))
        out.append(tuple(t))
    return sorted(out)

for name in ["k01_kmeans_lineitem", "k02_kmeans_compat",
             # k03's output is layout-invariant BY CONTRACT (round 6):
             # total rows / cluster count / banded WSSE must survive the
             # vanilla 4-core 200-partition layout changing MLlib's
             # k-means|| sampling
             "k03_kmeans_mllib", "t06_tfidf_kmeans",
             "m03_cluster_decoded", "s03_ivf_search", "s04_ivfpq_search",
             "s05_ivfpq_residual_search"]:
    cols = qs[name](spark, sf).columns
    got = canon(qs[name](spark, sf).select(*sorted(cols)).collect())
    want = canon(con.execute(
        "SELECT " + ", ".join(sorted(cols)) + " FROM (" + osql[name] + ")"
    ).fetchall())
    assert got == want, (name, got[:3], want[:3])

# round-5 extensions whose determinism rests on exact integer / grid
# arithmetic (c06 decimal cross-product, c07 span ownership, t08 CMS
# buckets) or rounded transcendentals (c08): full-value parity under
# the hostile session pins session-layout independence
for name in ["c06_domain_mixture", "c07_span_dedup",
             "c08_unigram_logprob", "c09_domain_mixture_upsample",
             "t08_cms_heavy_hitters",
             # sweep-line temporal ops: ts arithmetic in, pure ints out —
             # any session-tz leak into the epoch math shifts these
             "q31_concurrency_histogram", "q32_coalesced_intervals",
             "t09_hll_mergeable", "c10_scd2_customer",
             "c11_split_assign", "c12_per_group_topk",
             "t10_theta_setops", "t11_kll_quantiles", "v01_data_audit",
             # q33 emits DATE grid rows from ts (to_date is session-tz
             # sensitive), q34's funnel counts rest on raw ts ordering,
             # g01 on exact integer joins
             "q33_gapfill_locf", "q34_funnel", "g01_copurchase_triangles",
             # q35's RANGE frame key and q36's cohort weeks are epoch/
             # day integer arithmetic from ts — session-tz sensitive
             "q35_rolling_7day", "q36_cohort_retention",
             # q37/q38 order events by (ts, event_id) — the tie rule and
             # tz handling both live in the ts column
             "q37_transition_matrix", "q38_leading_paths",
             # q39's support/confidence/lift are IEEE divisions of
             # exact integer counts — bit-equal across engines
             "q39_copurchase_lift",
             # q40's quartile coding compares exact ints against
             # percentile cutpoints — the interpolation-ulp safety
             # argument must hold under any session layout
             "q40_rfm_segments",
             # s06 folds driver-computed idf/avgdl literals into the
             # scoring plan — the fold must be layout-independent and
             # the 6-dp rounding must absorb libm/expr-chain ulps in
             # the vanilla session too
             "s06_bm25_search",
             # q41 rests on the (ts, event_id) total order + ignore-nulls
             # last() carry — both session-tz and layout sensitive
             "q41_last_touch_attribution",
             # c13's ES keys / t12's bitmap words are md5-derived pure
             # functions of content; c14's full-outer digest diff has
             # no float anywhere — all three must be layout-independent
             "c13_weighted_sample", "c14_snapshot_diff",
             "t12_bloom_membership",
             # q42's bucket rule is exact integer DIV on scalar-folded
             # bounds; q43's MAD fences are doubles from exact-int
             # percentiles — the q40 interpolation argument again
             "q42_histogram_cents", "q43_mad_outliers",
             # t13's BPE training is content-deterministic by design
             # (ordered capped word table + integer merge loop); the
             # vanilla 4-core layout must train the identical merge
             # table and produce the identical golden token totals
             "t13_bpe_subword_stats",
             # v04's rebucket boundary must preserve content under any
             # session layout and its md5 digest diff is float-free;
             # m08's golden rows were generated engine==vanilla — keep
             # both pinned against the hostile session forever
             "v04_rebucket_time_travel", "m08_mjpeg_frame_stats"]:
    cols = qs[name](spark, sf).columns
    got = canon(qs[name](spark, sf).select(*sorted(cols)).collect())
    want = canon(con.execute(
        "SELECT " + ", ".join(sorted(cols)) + " FROM (" + osql[name] + ")"
    ).fetchall())
    assert got == want, (name, got[:3], want[:3])
print("DRIVER-SESSION-OK")
"""


def test_vanilla_driver_session(tmp_path):
    p = tmp_path / "driver_sim.py"
    p.write_text(f"REPO = {REPO!r}\n" + SCRIPT)
    res = subprocess.run(
        [sys.executable, str(p)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert "DRIVER-SESSION-OK" in res.stdout, res.stdout[-2000:] + res.stderr[-2000:]
