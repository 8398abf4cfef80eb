"""Dump formatted physical plans for the headline queries (or the named
ones) to PLANS.md — reviewable evidence that filters push down, dims
broadcast, and top-k avoids global sorts. Regenerate after
plan-affecting changes:

    python tools/explain_all.py [--sf SF_DIR] [--out PLANS.md] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_orders",
    "q05_regional_revenue",
    "q18_small_quantity_revenue",
    "q32_best_weight",
    "q41_minhash_neardup",
    "q50_cosine_topk",
    "a060_sessionization",
    "a063_late_events",
    "a083_neardup_skew_capped",
    "a086_periodogram",
    "a087_mi_feature_filter",
    "a089_trailing_range_join",
    "a092_repetition_signals",
    "a093_mixture_sample",
    "a094_chunk_stats",
    "a095_unigram_logprob",
    "a096_ivf_multiprobe",
    "a097_cdc_upsert",
    "a098_asof_join",
    "q102_pagerank_transitions",
    "q105_decontaminate",
    "q108_incremental_dedup",
    "q109_sequence_packing",
    "q111_embedding_quantization",
    "q103_weighted_sample",
    "q113_multimodal_decode",
    "q114_semdedup",
    "q115_decontaminate_bloom",
    "q116_duplicated_passages",
    "q45_quality_scores",
    # round-6 additions
    "q118_batch_ann_join",
    "q119_cms_heavy_hitters",
    "q120_product_quantization",
    "q121_bpe_pair_counts",
    "q122_classifier_scoring",
    "q123_zorder_layout",
    "q126_quantile_sketch",
    "q128_triangle_count",
    "q129_incremental_view",
    "q130_prefix_filter_simjoin",
    "q131_frequent_itemsets",
    "q133_table_stats",
    # late-round-6 additions: statistical analytics + real multimodal ops
    "q136_acf_daily_revenue",
    "q137_cusum_changepoints",
    "a139_ols_trend",
    "a140_chi_square",
    "a141_corr_matrix",
    "a142_bootstrap_ci",
    "a0146_ohlc_bars",
    "a0147_sliding_distinct_users",
    "a0148_fuzzy_join",
    "a0149_key_skew_report",
    "a0150_sliding_hll_wau",
    "a0152_scd2_history",
    "a0153_hierarchy_rollup",
    "a0154_max_concurrency",
    "a0156_join_size_estimate",
    "a0157_session_paths",
    "a0158_equal_freq_bins",
    "a0159_seasonal_naive_backtest",
    "a0160_mad_outliers",
    "a0161_embedding_drift",
    "a0151_validation_report",
    "a0155_score_calibration",
    "a0162_trimmed_mean_udaf",
    # round-7 additions
    "a0163_jpeg_color_decode",
    "a0164_ivf_pq_search",
    "a0165_bm25_search",
    "a0168_bm25_multiquery",
    "a0169_file_audit_inputs",
    "a0170_phrase_search",
    "a0171_jpeg_progressive_decode",
    "a0172_variant_json_ops",
    "a0173_recursive_cte_paths",
    "a0174_cogroup_asof_join",
    "a0175_mapinarrow_parity",
    "a0176_ridgecv_loo",
    "a0177_bpe_encode",
    "a0178_bigram_perplexity",
    "a0166_kmeans_lloyd",
    # round-10 additions
    "a0133_warclite_source",
    "a0134_sorted_neighborhood",
    "a0135_kneser_ney_bigram",
    "a0136_ks_drift_test",
    "a0137_regression_aggs",
    "a0138_hll_set_ops",
    "a0139_gap_fill_interpolate",
    "a0140_ngram_decontaminate",
    "a0141_int4_quantization",
    "a0142_flagship_pipeline",
    "a0143_applyinarrow_parity",
    "a0106_pareto_skyline",
    "a0107_entropy_profile",
    "a0108_pmi_collocations",
    "a0109_delta_rle_audit",
    # round-10 second/third waves
    "a0110_hilbert_layout",
    "a0111_rank_biased_overlap",
    "a0112_ndcg_eval",
    "a0114_token_burstiness",
    "a0115_weighted_log_odds",
    "a0116_markov_transitions",
    "a0117_ab_proportion_ztest",
    "a0118_gini_diversity",
    "a0119_python_udtf_chunks",
    "a0120_lateral_topk_join",
    "a0121_gif_lzw_decode",
    "a0122_compaction_plan",
    "a0123_mulaw_codec_audit",
    "a0124_kaplan_meier",
    "a0125_touch_attribution",
    "a0126_isotonic_calibration",
    "a0127_vocab_coverage",
    "a0128_span_corruption_plan",
    "a0129_inbatch_negatives",
    "a0130_fellegi_sunter",
    "a0131_curriculum_shards",
    # round-10 final wave (a0093-a0105)
    "a0093_association_rules",
    "a0094_weighted_reservoir",
    "a0095_psi_drift",
    "a0096_rolling_ols",
    "a0097_stl_decompose",
    "a0098_rowgroup_audit",
    "a0099_rendezvous_sharding",
    "a0100_grid_density_clusters",
    "a0101_heavy_change",
    "a0102_funnel_conversion",
    "a0103_adamic_adar",
    "a0104_sax_motifs",
    "a0105_range_partition_plan",
    # round-10 post-window wave (a0050-a0069, window fodder for r11)
    "a0050_acf_ljung_box",
    "a0051_zonemap_pruning",
    "a0052_haar_energy",
    "a0053_apriori_triples",
    "a0054_itemitem_cf",
    "a0055_theil_sen",
    "a0056_mdlp_split",
    "a0057_rfm_segments",
    "a0058_cart_split",
    "a0059_bh_fdr",
    "a0060_em_gmm_step",
    "a0061_pca_power",
    "a0062_distance_outliers",
    "a0063_naive_bayes_langid",
    "a0064_markov_stationary",
    "a0065_sequence_patterns",
    "a0066_logistic_newton",
    "a0067_roc_auc",
    "a0068_lift_gains",
    "a0069_skipgram_pairs",
    # round-11 wave (a0070-a0092)
    "a0070_kmeans_lloyd",
    "a0071_centroid_silhouette",
    "a0072_chi2_cramers",
    "a0073_mannwhitney_u",
    "a0074_binseg_changepoint",
    "a0075_benford_audit",
    "a0076_fd_discovery",
    "a0077_clustering_coeff",
    "a0078_kmv_theta_setops",
    "a0079_rake_keywords",
    "a0080_winnow_fingerprints",
    "a0081_grubbs_outliers",
    "a0082_bloom_semijoin",
    "a0083_mf_gradient_step",
    "a0084_uplift_segments",
    "a0085_tfidf_keywords",
    "a0086_spearman_corr",
    "a0087_kendall_tau_daily",
    "a0088_lorenz_gini",
    "a0089_mrl_quantile_summary",
    "a0090_jpeg_lossless_decode",
    "a0091_jpeg_lossless12_decode",
    # round-12 queries (missing from the r12 regeneration despite the
    # commit message — caught r13)
    "a0001_semdedup_autok",
    "a0002_density_level_hierarchy",
    # round-13 wave
    "a0003_semdedup_incremental",
    "a0004_knn_classify",
    "a0005_zipf_fit",
    "a0006_heaps_law",
    "a0007_stylometry_delta",
    "a0008_kcore_peeling",
    "a0009_pmi_collocations",
    "a0010_hill_tail_index",
    "a0011_ngram_novelty_decay",
    # round-13 wave 4
    "a0012_label_propagation",
    "a0013_hits_scores",
    "a0014_lof_outliers",
    "a0015_js_divergence",
    "a0016_readability",
    "a0017_adaboost_stumps",
    "a0018_jl_projection_audit",
    "a0019_ngram_self_overlap",
    "a0020_ams_f2_sketch",
    "a0021_jpeg_arith_decode",
    "a0022_bfs_layers",
    # round-14 wave
    "a0023_semdedup_twolevel_codebook",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=HEADLINE)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()
    spark = get_spark("explain-all")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = all_queries()
    lines = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by tools/explain_all.py at {args.sf}. What to look for:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for top-k,",
        "absence of `CartesianProduct`, and `Exchange` only where a shuffle",
        "is semantically required.",
        "",
    ]
    cap = 600  # wide expression trees (64-dim vectors) explode the dump
    for name in args.names:
        df = qs[name].fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(jmode)
        plines = plan.rstrip().splitlines()
        if len(plines) > cap:
            plines = plines[:cap] + [f"... [{len(plines) - cap} lines elided: per-dimension expression details]"]
        lines += [f"## {name}", "", f"{qs[name].description}", "", "```", *plines, "```", ""]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} ({len(args.names)} plans)")


if __name__ == "__main__":
    main()
