"""Smoke the driver contract exactly as the driver will: entry() runs
with >=0 rows and a stable schema; every queries() key resolves; every
oracle_sql() key exists in queries() and parses in DuckDB; the
registry order is pinned in full."""

from __future__ import annotations

import json
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert [f.name for f in df.schema.fields] == [
        "cluster",
        "n_points",
        "c_quantity",
        "c_price_k",
        "c_discount",
        "c_tax",
    ]


def test_entry_deterministic(spark):
    a = sorted(map(tuple, entry_mod.entry(spark).collect()))
    b = sorted(map(tuple, entry_mod.entry(spark).collect()))
    assert a == b


def test_queries_and_oracles_consistent(spark, sf_dir):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 35
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in osql.items():
        con.execute(f"SELECT * FROM ({sql}) LIMIT 0")  # parses + binds


def test_kmeans_queries_run(spark, sf_dir):
    qs = entry_mod.queries()
    k01 = qs["k01_kmeans_lineitem"](spark, sf_dir)
    assert k01.count() == 4
    k02 = qs["k02_kmeans_compat"](spark, sf_dir)
    assert k02.count() >= 1


def test_k02_golden_row_oracle(spark, duck, sf_dir):
    """k02 is deterministic (injected init + compat mode), so its
    literal VALUES oracle must match value-for-value — the driver-side
    hash check for the flagship K-Means surface."""
    import math

    got = sorted(
        map(tuple, entry_mod.queries()["k02_kmeans_compat"](spark, sf_dir).collect())
    )
    want = sorted(map(tuple, duck.execute(entry_mod.K02_SQL).fetchall()))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert (math.isnan(g[3]) and math.isnan(w[3])) or g[3] == w[3]


def test_k03_invariant_oracle(spark, duck, sf_dir):
    """k03 reports layout-invariant derived facts of the MLlib fit
    (total labeled rows == corpus count, 4 non-empty clusters, banded
    WSSE vs the engine's deterministic Lloyd), so since round 6 it
    carries a real VALUES-style oracle — the last driver row goes from
    rows-only to value-checked (50/50)."""
    got = entry_mod.queries()["k03_kmeans_mllib"](spark, sf_dir).collect()
    want = duck.execute(entry_mod.K03_SQL).fetchall()
    assert len(got) == len(want) == 1
    assert tuple(got[0]) == tuple(want[0])


def test_k01_golden_row_oracle(spark, duck, sf_dir):
    """k01 is deterministic since round 5 (partitioning-invariant
    hash-ordered init), so its VALUES oracle must match value-for-value
    at whatever sf the suite runs — the same gate the driver applies."""
    got = sorted(
        map(tuple, entry_mod.queries()["k01_kmeans_lineitem"](spark, sf_dir).collect())
    )
    want = sorted(map(tuple, duck.execute(entry_mod.K01_SQL).fetchall()))
    assert len(got) == len(want) == 4
    for g, w in zip(got, want):
        assert g[:2] == w[:2]
        for gv, wv in zip(g[2:], w[2:]):
            assert gv == pytest.approx(wv, abs=1e-9)


# The whole registry, in order. The driver checks only the first 50
# entries (the CORRECTNESS window, frozen since round 2); the rest are
# append-only. Adding an entry means one row in __spark_entry__._entries()
# plus its name at the end of this tuple.
REGISTRY_ORDER = (
    # 1-50: the driver's frozen window
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q07_rollup_region_nation_year",
    "q08_cube_grouping_sets",
    "q09_topk_parts_per_brand",
    "q10_running_total",
    "q12_semi_anti_battery",
    "q13_setops_battery",
    "q14_distinct_parts_per_supplier",
    "q15_conditional_null_agg",
    "q16_string_regex_funcs",
    "q17_monthly_trend",
    "q18_json_props",
    "q19_sessionization",
    "q20_pivot_unpivot",
    "q21_custdist",
    "q22_correlated_subqueries",
    "q24_quantiles_stats",
    "q28_full_outer",
    "q30_posexplode_embedding_dims",
    "t01_doc_stats",
    "t02_quality_score",
    "t03_language_id",
    "t04_fingerprint",
    "t05_tfidf_top_terms",
    "t07_tfidf_hashed_features",
    "t06_tfidf_kmeans",
    "d01_exact_dedup",
    "d02_ngram_jaccard_pairs",
    "d03_minhash_lsh_pairs",
    "d04_simhash",
    "d05_embedding_neardup_pairs",
    "s01_knn_bruteforce",
    "s02_lsh_buckets",
    "s03_ivf_search",
    "m01_payload_meta",
    "m02_decoded_features",
    "m03_cluster_decoded",
    "w01_tumbling",
    "w02_sliding",
    "w03_session",
    "j01_asof_last_purchase",
    "j02_range_join_campaigns",
    "j03_approx_distinct",
    "j04_asof_merge_grouped",
    "k01_kmeans_lineitem",
    "k02_kmeans_compat",
    "k03_kmeans_mllib",
    # 51+: append-only
    "c01_decontamination",
    "c02_repetition_signals",
    "c03_pii_scrub",
    "c04_chunking",
    "c05_token_budget_sample",
    "j05_approx_percentile",
    "c06_domain_mixture",
    "c07_span_dedup",
    "c08_unigram_logprob",
    "c09_domain_mixture_upsample",
    "s04_ivfpq_search",
    "t08_cms_heavy_hitters",
    "s05_ivfpq_residual_search",
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
    "q33_gapfill_locf",
    "q34_funnel",
    "g01_copurchase_triangles",
    "q35_rolling_7day",
    "q36_cohort_retention",
    "q37_transition_matrix",
    "q38_leading_paths",
    "q39_copurchase_lift",
    "q40_rfm_segments",
    "s06_bm25_search",
    "q41_last_touch_attribution",
    "c13_weighted_sample",
    "c14_snapshot_diff",
    "t12_bloom_membership",
    "q42_histogram_cents",
    "q43_mad_outliers",
    "t13_bpe_subword_stats",
    "v02_table_time_travel",
    "m04_png_roundtrip",
    "m05_wav_roundtrip",
    "m06_avi_frame_stats",
    "v03_bucketed_upsert_time_travel",
    "m07_jpeg_decode_stats",
    "v04_rebucket_time_travel",
    "m08_mjpeg_frame_stats",
    "s07_ann_search_join_parity",
    "v05_file_skipping_scan",
    "m09_progressive_jpeg_parity",
    "s08_ann_filtered_search_parity",
    "t14_unigram_subword_stats",
    "v06_in_list_skipping_scan",
    "s09_ann_sampled_build_parity",
    "v07_schema_evolution",
    "t15_unigram_loss_prune_stats",
)


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_order_is_frozen():
    names = tuple(entry_mod.queries())
    assert names == REGISTRY_ORDER
    assert set(entry_mod.oracle_sql()) == set(names)  # every entry has an oracle
    with open(os.path.join(_ROOT, "CORRECTNESS_r14.json")) as f:
        assert names[:50] == tuple(json.load(f))  # the driver's last report


def test_bench_headline_names_registered_entries():
    import bench

    assert set(bench.HEADLINE) <= set(entry_mod.queries())
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
