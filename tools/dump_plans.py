#!/usr/bin/env python
"""Emit formatted physical plans for the headline queries → PLANS.md.

The artifact the scale review reads: shows predicate pushdown
(PushedFilters), column pruning (ReadSchema), join strategies, and
whole-stage-codegen spans for each representative query.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from hrfco_data_pipeline_spark.plans import llm, relational  # noqa: E402
from hrfco_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

# queries that eagerly materialize (checkpointed pair sets, driver-side
# folds) would audit as a bare ExistingRDD scan — ask for the lazy inner
# plan instead
LAZY_OVERRIDES = {
    "docs_ngram_jaccard_pairs": lambda s, d: llm.docs_ngram_jaccard_pairs(
        s, d, materialize=False
    ),
    "copurchase_triangles": lambda s, d: relational.copurchase_triangles(
        s, d, materialize=False
    ),
    # one lazy iteration shows the per-round shape; 5 lazy rounds
    # would re-embed the upstream tree exponentially (~2 MB plan)
    "nation_trade_pagerank": lambda s, d: relational.nation_trade_pagerank(
        s, d, iters=1, materialize=False
    ),
    "copurchase_jaccard_parts": lambda s, d: (
        relational.copurchase_jaccard_parts(s, d, materialize=False)
    ),
}

AUDIT = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q4_order_priority",
    "nation_trade_volume",
    "hydro_classify_alerts",
    "docs_ngram_jaccard_pairs",
    "docs_decontaminate",
    "docs_pack_sequences",
    "ann_cosine_topk",
    "events_asof_last_error",
    "docs_tfidf_top_terms",
    "docs_inverted_index",
    "q10_returned_items",
    "doc_winnow_fingerprints",
    "events_props_variant",
    "docs_chunk_windows",
    "events_range_window",
    "embedding_block_near_dups",
    "tables_report",
    "q7_volume_shipping",
    "q13_customer_order_distribution",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    "docs_gopher_quality",
    "docs_segment_dedup",
    # r4 oracle upgrades: the ANN family plans
    "ivf_cosine_topk",
    "lsh_cosine_topk",
    "embedding_near_dups",
    "events_hll_accuracy",
    # r4 new operators: lossless-pruning joins, layout, sketches
    "docs_simjoin_prefix",
    "docs_bloom_decontaminate",
    "lineitem_zorder_layout",
    "docs_cms_heavy_hitters",
    "docs_editdist_pairs",
    # r4 new operators: clustering / selection / leakage-safe curation
    "semantic_dedup_keep",
    "docs_dsir_weights",
    "docs_leakage_safe_split",
    "docs_bpe_pair_counts",
    "docs_quality_cutoff",
    "ann_hard_negatives",
    "events_user_overlap",
    # r4 late: session windows, quantile rollup, basket, graph
    "events_session_window_agg",
    "events_histogram_quantiles",
    "parts_copurchase_lift",
    "copurchase_triangles",
    "nation_trade_pagerank",
    # r4 late: stats/DQ, survival, sweep-line, merchandising
    "orders_benford_digits",
    "events_ab_test",
    "brand_supplier_hhi",
    "events_cusum_changepoint",
    "events_session_paths",
    "session_survival_curve",
    "orders_open_backlog_curve",
    "lineitem_pareto_abc",
    "customer_rfm_segments",
    # r5: range-bucketed two-pass rank replaces the global windows
    "docs_select_token_budget",
    "docs_vocab_growth",
    "customer_ltv_deciles",
    "events_user_lorenz_curve",
    # r5 new operators
    "docs_bigram_perplexity",
    "events_feature_matrix",
    "copurchase_bfs_levels",
    "hydro_resample_10min",
    "embedding_random_projection",
    "docs_nb_lang_classifier",
    "docs_zipf_fit",
    "events_nearest_error",
    "docs_snapshot_diff",
    "hydro_stage_exceedance",
    "events_touch_attribution",
    "wire_field_presence",
    "pq_distortion_report",
    "lineitem_returnflag_anova",
    "events_k_anonymity",
    "docs_weighted_sample",
    "copurchase_bfs_levels",
    "docs_nb_holdout_eval",
    "docs_learning_curve",
    "events_markov_concentration",
    "hydro_baseflow_separation",
    "events_weekday_type_chisq",
    # r6: pushdown-barrier rework (single-parse bucket key) + shielded
    # parse-derived filters
    "hydro_sensor_gaps",
    "hydro_station_uptime",
    "docs_train_linear_gate",
    # r7 new operators: substring dedup, salting, graph similarity,
    # windowed framing, drift, skew diagnostic
    "docs_substring_dedup",
    "orders_salted_revenue",
    "copurchase_jaccard_parts",
    "orders_seasonal_decomposition",
    "multimodal_audio_windows",
    "wire_schema_drift",
    "lineitem_key_skew_profile",
    "sessions_error_overlap",
    # r8 new operators: retrieval (sparse + hybrid), graph peeling,
    # keyphrases, space-filling-curve layouts (the EAGER
    # orders_join_strategy_report is deliberately absent — explain
    # would execute its profiling actions)
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    "copurchase_kcore",
    "docs_rake_keyphrases",
    "lineitem_hilbert_layout",
    "layout_pruning_report",
    # r9 new operators: routed joins (orders_salted_revenue above now
    # routes through choose/apply — its profile actions are two
    # bounded 1-row aggregates, cheap enough to audit), SCD2 time
    # travel, robust trend, mutual kNN, PMI collocations
    "events_segment_enrichment",
    "customer_scd2_asof_snapshot",
    "orders_theilsen_trend",
    "embedding_mutual_knn",
    "docs_pmi_top_pairs",
    "hydro_double_mass",
    "docs_ccnet_quality_buckets",
    "events_watermark_lateness_audit",
    "orders_retention_vacuum_plan",
    "events_mad_outliers",
    "docs_quality_bootstrap_ci",
    "docs_source_tv_distance",
    "copurchase_weighted_sssp",
    "docs_length_survival",
    # r10 heavies
    "events_ks_two_sample",
    "events_mann_whitney",
    "hydro_station_crosscorr",
    "hydro_pettitt_changepoint",
    "lineitem_bloom_semijoin_prune",
    "multimodal_dhash_dups",
    # r11 additions
    "events_trimmed_mean",
    "events_running_records",
    "docs_source_kl_divergence",
    "hydro_drought_runs",
    "docs_quality_calibration",
    "orders_duplicate_invoices",
    "events_psi_by_type",
    "simhash_bit_balance",
    "ann_centroid_occupancy",
    "docs_packing_waste",
    "events_burstiness_fano",
    "orders_amount_reconciliation",
    "customer_churn_sensitivity",
    "embedding_pca_explained_variance",
    "docs_vocab_coverage_curve",
    # r12 additions
    "parts_price_size_skyline",
    "events_lateness_profile",
    "docs_crosssnap_containment",
    "docs_contamination_heatmap",
    "embedding_label_noise_screen",
    "embedding_cosine_histogram",
    "docs_partition_checksums",
    "docs_length_quantiles_by_source",
    "multimodal_bytes_concentration",
    "docs_quality_dup_contingency",
    "events_session_gap_sensitivity",
    "docs_dedup_threshold_curve",
    "embedding_label_silhouette",
    "hydro_level_mad_outliers",
    "docs_source_vocab_overlap",
    "events_t_closeness",
    # r13 new operators (streaming parity queries excluded: their
    # served report is a store read-back — the plan of record is the
    # maintainer's, audited via tests/test_streaming_curation.py)
    "dedup_survivor_length_bias",
    "docs_cross_source_dup_matrix",
    "dedup_incremental_certificate",
    "dedup_chaining_audit",
    "lsh_band_tradeoff_curve",
    "hydro_flashiness_index",
    "hydro_flood_volume",
    "events_bot_regularity_screen",
    "events_ewma_control",
    "events_quantile_sketch_error",
    "supplier_share_drift",
    "wire_dedup_replay",
    "docs_tokenizer_fertility",
    "ann_recall_by_occupancy",
    # r15 new operators (streaming parity certificates excluded as
    # above; ann_ivf_pq_agreement and docs_source_halves_drift
    # materialize a bounded intermediate mid-plan, so their final
    # plans root at the checkpoint — the scan-side shape was audited
    # by the r15 plan census, docs/ROUND15.md)
    "customers_without_urgent_orders",
    "docs_token_concentration",
    # (events_markov_concentration sits at the renamed
    # events_entropy_rate slot above)
    "hydro_rising_limb_lead_time",
    "dedup_rate_by_snapshot",
    "embedding_quantize_bit_sweep",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = ["# Physical plan audit", "",
           f"Generated by tools/dump_plans.py over {sf_dir}.", ""]
    for name in AUDIT:
        fn = LAZY_OVERRIDES.get(name, queries[name])
        plan = (
            fn(spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(mode)
        )
        out += [f"## {name}", "", "```", plan.strip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
