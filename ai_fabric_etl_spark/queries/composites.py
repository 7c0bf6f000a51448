"""Fingerprint composite entries — driver-visible coverage for every
oracled query the 50-entry correctness cap would otherwise leave
without a driver row (see fingerprint.py for the mechanism).

Groups are thematic so a driver hash-fail localizes: the failing
composite's `q` column names the sub-query whose summary diverged
(verify locally with tools/verify_oracle.py <sf> <fp_name>).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from ai_fabric_etl_spark.queries.catalog import _ORACLES, _QUERIES, register
from ai_fabric_etl_spark.queries.fingerprint import (
    oracle_fingerprint,
    spark_fingerprint,
)

# every name must be a registered ★-oracled entry; the one rows-only
# entry (the greedy packer) is gated by its pack_firstfit_invariants
# twin instead.
# Budget check (r4): all four composites run + hash-verify in <3 min
# total at the driver's sf0.01, well inside the correctness window.
FP_GROUPS: dict[str, list[str]] = {
    "fp_tpch_core": [
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q4_order_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q6_forecast_revenue",
        "tpch_q7_volume_shipping",
        "tpch_q10_returned_items",
        "tpch_q12_priority_classes",
        "tpch_q14_promo_revenue",
        "tpch_q17_small_quantity_revenue",
        "tpch_q18_large_volume_customer",
    ],
    "fp_tpch_advanced": [
        "tpch_q2_min_cost_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_type_profit",
        "tpch_q11_important_stock",
        "tpch_q13_order_count_distribution",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_part_counts",
        "tpch_q19_disjunctive_revenue",
        "tpch_q20_part_promotion_suppliers",
        "tpch_q21_waiting_supplier",
        "tpch_q22_global_sales_opportunity",
    ],
    "fp_relational_ops": [
        "a9_summarize_events",
        "a1_transaction_summary",
        "a6_collect_ack_lists",
        "a10_sliding_rollup",
        "a14_unpivot_daily",
        "a13_percentiles",
        "rollup_region_nation",
        "cube_status_priority",
        "grouping_sets_mixed",
        "j2_semi_join",
        "j2_anti_join",
        "set_intersect_except",
        "w2_rank_topk",
        "w3_running_totals",
        "w5_ntile_distribution",
        "w6_lag_lead_deltas",
        "w7_time_range_frame",
        "skew_salted_agg",
        "skew_hotkey_salted_agg",
        "p8_concat_partner_keys",
        "p10_case_bands",
        "div_full_priority_customers",
        "u1_claim_metrics",
        "profile_orders",
        "profile_histogram_prices",
        "scd2_customer_history",
        "lakehouse_change_feed",
        "lakehouse_skipping_scan",
        "dq_expectations_orders",
        "funnel_view_click_purchase",
        "cohort_retention_weekly",
        "timeseries_gap_fill",
        "anomaly_zscore_daily",
        "affinity_brand_pairs",
        "event_transition_matrix",
        "rfm_customer_segments",
        "winsorize_prices",
        "topk_docs_per_source",
        "graph_pagerank_suppliers",
        "graph_hierarchy_roots",
        "graph_triangle_counts",
        "profile_histogram_equidepth",
        "attribution_linear_touch",
        "profile_skew_gini",
        "drift_psi_prices",
        # r9 rotation: long-green veterans displaced from the 50-slot
        # window by the r9 flagships; oracles verified every sweep
        "scalar_strings",
        "p6_projection_casts",
        # r10 rotation: displaced by the r4 behavior/profile family's
        # fresh direct-row pass (VERDICT r9 item 6); a2/a3/a4/u3/u7
        # green r2–r9, a10/j1/w1 green since r1 — oracles stay fully
        # driver-visible here
        "a2_partner_matrix",
        "a3_quality_bands",
        "a4_business_kpis",
        "u3_enrollment_metrics",
        "u7_action_buckets",
        "a10_hourly_rollup",
        "j1_left_join_activity",
        "w1_latest_event_per_user",
        # r11 rotation: displaced by the never-direct family's fresh
        # pass (VERDICT r10 item 5); every oracle stays driver-visible
        "a5_approx_distinct",
        "scalar_datetime",
        "a11_pivot_daily",
        "o1_topk_nations",
        "scalar_json",
    ],
    "fp_training_sources": [
        "range_recent_activity",
        "pack_firstfit_invariants",
        "scalar_arrays",
        "variant_props_profile",
        "sample_global_shuffle",
        "sample_priority_bottomk",
        "sample_weighted_priority",
        "sample_kfold",
        "sample_group_split",
        "sample_temperature_mixture",
        "sample_purged_time_split",
        "contrastive_negatives",
        "feature_target_encoding",
        # r7: pure-stdlib Avro container source/sink round trip
        "source_avro_roundtrip",
        # r7: WebDataset tar-shard export/import round trip
        "export_wds_roundtrip",
        "user_event_sequences",
        "sink_partitioned_roundtrip",
        "source_csv_roundtrip",
        "source_jsonl_roundtrip",
        "source_orc_roundtrip",
        "source_fixedwidth_roundtrip",
        "source_xml_roundtrip",
        "x12_datasource_scan",
        "lakehouse_incremental_mart",
        "lakehouse_incremental_join_view",
        "sketch_distinct_rollup",
        "quantile_sketch_prices",
        "zorder_curve_keys",
        "heavy_hitters_langs",
        "sketch_cms_events",
        "sample_dsir_topk",
        # r8: per-domain token-budget selection (distributed prefix sum)
        "sample_token_budget",
        "source_sqlite_roundtrip",
        "pack_token_bins",
        # r11 rotation: displaced veterans (three direct greens each)
        "sample_stratified",
        "sample_hash_split",
        "privacy_pseudonymize",
        "privacy_k_anonymity",
        "privacy_aes_roundtrip",
        # r10: epsilon-DP Laplace count release (keyed-PRG determinism)
        "privacy_dp_counts",
        # r10: bounded-contribution DP sum release (clip + Laplace)
        "privacy_dp_sum",
    ],
}


try:
    from ai_fabric_etl_spark.queries.fingerprint_meta import FP_META
except ImportError:  # bootstrap: run tools/gen_fingerprint_meta.py
    FP_META = {}


def _composite_fn(names: list[str]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [
            spark_fingerprint(n, _QUERIES[n](spark, sf_dir), FP_META[n])
            for n in names
        ]
        return reduce(DataFrame.unionByName, parts)

    return fn


def _composite_oracle(names: list[str]) -> str:
    return "\nUNION ALL\n".join(
        oracle_fingerprint(n, _ORACLES[n], FP_META[n]) for n in names
    )


for _group, _names in FP_GROUPS.items():
    missing = [n for n in _names if n not in _QUERIES or n not in _ORACLES]
    if missing:  # defensive: never register a composite with holes
        raise ImportError(f"fingerprint group {_group} missing {missing}")
    if any(n not in FP_META for n in _names):
        continue  # meta not generated yet; gen tool imports this module
    register(_group, oracle=_composite_oracle(_names))(_composite_fn(_names))
