#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing excludes SparkSession startup (BASELINE.md §6 note: JVM boot would
otherwise dominate at small SF and the 2x-of-reference gate would measure
the wrong thing). Each query is timed as wall-clock of plan + execute +
collect on a warmed shared session.
"""

from __future__ import annotations

import json
import os
import sys
import time

from large_csv_etl_spark.queries import all_queries
from large_csv_etl_spark.session import get_spark, release_blocks

# Headline set — SELECTION RULE (VERDICT r13 ask #9): the set grows
# SUB-linearly with the registry. Every operator family keeps at least
# one timed representative, and a new round contributes only its
# heaviest / structurally-novel plans (new kernels, new join shapes,
# new streaming drains) — NOT every new entry; cheap variants of
# already-timed machinery (another EMA kernel, another rank test on the
# shared cumulative machinery) are covered by their family
# representative. Full-registry correctness runs in CORRECTNESS; bench
# tracks representative plans so the per-round battery stays bounded
# (~390 entries) while staying per-query comparable across rounds
# (tools/bench_compare.py diffs the commons).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_running_spend",
    "window_topk_orders_per_customer",
    "agg_having",
    "join_outer_null_handling",
    "events_sessionization",
    "events_hourly_tumbling",
    "text_top_terms",
    "text_quality_score",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_neardup",
    "dedup_embedding_neardup",
    "dedup_clusters",
    "sim_cosine_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "q18_large_volume_customers",
    "quantiles_exact",
    "events_daily_active_users",
    "multimodal_decoded_dims",
    "multimodal_frame_index",
    "text_bpe_token_estimate",
    "etl_transform_parity",
    "etl_upsert_last_write_wins",
    "asof_join_latest_order",
    "range_join_follower_events",
    "grouping_sets_status_priority",
    "q9_product_profit",
    "q12_priority_by_delay",
    "events_daily_gap_fill",
    "events_type_run_intervals",
    "profile_orders_columns",
    "embedding_quantize_int8",
    "fk_orphan_counts",
    "sim_quantized_topk",
    "text_chunk_documents",
    "dedup_incremental_exact",
    "text_oov_rate",
    "text_boilerplate_chunks",
    "dedup_eval_decontamination",
    "sample_mixture_weighted",
    "sample_token_budget",
    "sample_pack_sequences",
    "agg_iqr_outliers",
    "text_idf_score",
    "scalar_pii_mask",
    "agg_median_abs_deviation",
    "events_zscore_anomaly",
    "quantile_binning_decile",
    "dq_expectations_orders",
    "embedding_centroid_assign",
    "dedup_ngram_containment",
    "sample_negative_pairs",
    "text_bigram_surprisal",
    "text_bpe_pair_counts",
    "embedding_dim_stats",
    "sample_export_shards",
    "events_type_diversity",
    "agg_ols_by_group",
    "sim_filtered_topk",
    "graph_token_pagerank",
    "multimodal_resize_dims",
    "multimodal_audio_windows",
    "events_heatmap_hour_dow",
    "text_length_histogram",
    "agg_mode_by_group",
    "export_training_manifest",
    "events_bot_cadence",
    "text_vocab_diversity",
    "customer_rfm_segments",
    "basket_part_pairs",
    "dedup_minhash_portable",
    "dedup_simhash_portable_neardup",
    "sim_lsh_portable_buckets",
    "text_feature_hashing",
    "events_sequence_trigrams",
    "sample_temperature_mixture",
    "dq_orders_lineitem_reconciliation",
    "events_hourly_mad_anomaly",
    "embedding_centroid_separation",
    "text_tfidf_top_terms",
    "dedup_minhash_calibration",
    "asof_join_with_ttl",
    "curation_funnel_report",
    "text_boilerplate_removal",
    "events_conversion_lag",
    "sim_ivf_portable_topk",
    "streaming_user_totals",
    "dq_join_cardinality_audit",
    "dq_key_skew_profile",
    "text_source_token_drift",
    "events_type_drift_daily",
    "dedup_incremental_minhash",
    "sample_survivor_weighted",
    # round-6 additions
    "text_memorization_ngrams",
    "text_ngram_novelty",
    "text_readability_ari",
    "text_token_concentration",
    "dedup_prefix_truncation",
    "events_concurrency_profile",
    "sample_mixture_solver",
    "embedding_pca_top_component",
    "dedup_source_contamination_matrix",
    "embedding_kmeans_lloyd",
    "events_watermark_late_audit",
    "dataset_card_report",
    "skew_salted_join_rollup",
    "window_topk_with_ties",
    "etl_scd2_merge",
    "setop_symmetric_diff_active_custkeys",
    "scalar_regexp_functions",
    "sample_kfold_assign",
    "sample_length_bucket_waste",
    "temporal_nearest_event_to_order",
    "dedup_cdc_chunk_potential",
    "sim_matryoshka_overlap",
    "dq_join_estimate_calibration",
    "agg_skew_kurtosis_exact",
    "events_ab_experiment_analysis",
    "dedup_cdc_gearhash",
    "graph_token_communities",
    "streaming_hourly_users",
    # round 7
    "etl_cdc_apply",
    "events_debounce_bursts",
    "events_interarrival_histogram",
    "events_seasonal_naive_error",
    "text_vocab_growth",
    "graph_triangle_count",
    "dq_benford_first_digit",
    "streaming_segment_counts",
    "agg_gini_concentration",
    "sim_ann_recall_audit",
    "sample_neyman_allocation",
    "multimodal_ahash_neardup",
    "embedding_pq_audit",
    "events_markov_stationary",
    "sample_poisson_bootstrap",
    "etl_changeset_derive",
    "dq_k_anonymity_audit",
    "events_user_feature_export",
    "dedup_bloom_prefilter_calibration",
    "setop_intersect_all_partkeys",
    "scalar_bitwise_functions",
    "temporal_business_hours_overlap",
    "events_rolling_wau",
    "sample_curriculum_order",
    "dedup_survivor_policy_compare",
    "window_max_drawdown",
    "events_hysteresis_alerts",
    "embedding_pair_distance_histogram",
    "multimodal_frame_ahash_dedup",
    "agg_share_of_parent",
    "dq_warehouse_sanity_sweep",
    "temporal_ship_lag_sla",
    "join_not_in_null_semantics",
    "events_trending_decay",
    "dedup_cluster_size_histogram",
    "sample_ipw_estimate",
    "basket_association_rules",
    "events_user_behavior_divergence",
    "etl_csv_dialect_parity",
    "text_lang_confusion",
    "embedding_label_homophily",
    "dedup_lsh_band_sweep",
    "etl_schema_evolution_read",
    "events_out_of_order_audit",
    "events_linear_attribution",
    "sim_retrieval_eval",
    "etl_reject_reasons",
    "events_transition_latency",
    "agg_robust_location_panel",
    "dq_functional_dependency_audit",
    "text_normalization_impact",
    "events_type_daily_correlation",
    "dedup_normalization_gain",
    "agg_largest_remainder_percent",
    # round-8 additions
    "approx_hll_portable_dau",
    "approx_countmin_portable",
    "window_pareto_frontier",
    "agg_simpsons_paradox_audit",
    "events_changepoint_scan",
    "events_funnel_time_constrained",
    "text_bm25_topk",
    "text_collocation_lift",
    "temporal_interval_overlap_join",
    "etl_fk_surrogate_keys",
    "dq_gini_impurity_profile",
    "graph_common_neighbors",
    "graph_kcore_peel",
    "sim_rerank_two_stage",
    "streaming_topk_per_window",
    "multimodal_phash_dedup",
    "setop_except_all_partkeys",
    "window_decayed_average",
    "etl_late_arriving_dim",
    "dq_freshness_lag_audit",
    "sample_systematic_interval",
    "events_whale_share",
    "dedup_winnowing_overlap",
    "sample_balanced_class_downsample",
    "dq_referential_cascade_audit",
    "events_cohort_ltv",
    "temporal_point_in_time_join",
    "multimodal_vad_segments",
    "sim_mmr_diversified_topk",
    "window_order_gaps",
    "text_freq_spectrum",
    "events_activity_streaks",
    # round-8 additions (second wave)
    "agg_empirical_bayes_rates",
    "agg_lorenz_curve_deciles",
    "graph_hits_bipartite",
    "window_rolling_median_7d",
    "multimodal_frame_phash_dedup",
    "events_diff_in_diff",
    "text_langid_eval_f1",
    "text_term_burstiness",
    "agg_chi_square_independence",
    "events_markov_baseline_accuracy",
    "multimodal_scene_cuts",
    "events_behavior_predictability",
    "etl_type_inference_profile",
    "text_phonetic_collisions",
    "customer_segment_migration",
    "events_rate_anomaly_anscombe",
    "events_cadence_autocorrelation",
    "etl_dead_letter_replay",
    "text_rake_keywords",
    "window_kaufman_efficiency",
    "multimodal_audio_fingerprint",
    "sim_knn_label_eval",
    "temporal_allen_relations",
    "agg_trimmed_mean_by_group",
    "approx_kmv_distinct",
    "graph_degree_assortativity",
    "window_rsi_14",
    "etl_merge_full_semantics",
    "window_turning_points",
    "agg_mann_whitney_u",
    "agg_ks_two_sample",
    "agg_spearman_rho",
    "graph_modularity_brand",
    "graph_local_clustering",
    "graph_bfs_khop",
    "streaming_upsert_latest_event",
    "etl_backfill_plan",
    "etl_pseudonymize_audit",
    "sample_target_encoding_loo",
    "text_lexicon_router",
    "sim_ndcg_eval",
    "events_survival_risk_table",
    "approx_kmv_intersection",
    "text_compression_ratio",
    "etl_data_vault_keys",
    "sample_kcenter_coreset",
    "events_attribution_position",
    "agg_welch_ttest",
    "agg_capture_recapture",
    "sample_greedy_coverage",
    "window_sma_crossover",
    "sim_triplet_mining",
    "etl_fixed_width_parse",
    "etl_trailer_file_parse",
    "dq_temporal_order_audit",
    "etl_orc_roundtrip_parity",
    "graph_rich_club",
    "agg_revenue_decomposition",
    "events_cuped_adjustment",
    "etl_hive_partition_pruning",
    "etl_jsonl_dirty_parse",
    "sim_hubness_audit",
    "scalar_checksum_functions",
    "agg_proportion_ztest",
    "events_attribution_window_sensitivity",
    "agg_odds_ratio_2x2",
    "dq_rare_level_audit",
    "events_repeat_purchase_latency",
    # round-11 additions
    "agg_kruskal_wallis",
    "agg_anova_oneway",
    "agg_cramers_v",
    "agg_cohens_d",
    "agg_mood_median_test",
    "agg_wilcoxon_signed_rank",
    "agg_weighted_correlation",
    "agg_qq_deciles",
    "window_bollinger_breakout",
    "window_donchian_channel",
    "window_drawup_symmetry",
    "window_obv_flow",
    "window_gap_zscore",
    "window_ema_macd",
    "events_stickiness_ratio",
    "events_power_user_curve",
    "events_ewma_control_chart",
    "events_session_depth_quantiles",
    "events_type_cooccurrence_lift",
    "events_weekday_effect",
    "text_mojibake_audit",
    "text_markup_density",
    "text_hapax_ratio",
    "text_yule_k",
    "text_sentence_length_stats",
    "text_url_extraction_census",
    "dedup_url_canonical",
    "dedup_record_linkage_score",
    "dedup_stopword_insensitive",
    "dedup_cluster_embedding_dispersion",
    "sim_jl_projection_audit",
    "sim_nprobe_recall_sweep",
    "sim_centroid_drift_by_source",
    "sim_dim_quantization_error",
    "sample_group_holdout_split",
    "sample_inverse_frequency_weights",
    "sample_sliding_window_backtest",
    "etl_gzip_csv_parity",
    "etl_scd3_previous_value",
    "etl_bitemporal_asof",
    "etl_input_file_checksum_dedup",
    "dq_candidate_key_audit",
    "dq_volumetric_anomaly",
    "dq_schema_drift_diff",
    "approx_ams_f2_sketch",
    "approx_reservoir_quantile_twin",
    "temporal_anti_join_window",
    "streaming_leftouter_interval_join",
    "multimodal_tile_index",
    "graph_jaccard_link_prediction",
    "graph_degree_histogram",
    # round-12 representatives: one per new family wave
    "agg_jonckheere_terpstra",
    "agg_kendall_tau",
    "agg_brown_forsythe",
    "agg_theil_sen_banded",
    "agg_cusum_drift",
    "window_aroon_indicator",
    "window_price_percentile_rank",
    "window_seasonal_decompose_daily",
    "events_funnel_strict_order",
    "events_cohort_week_retention_triangle",
    "events_value_by_depth",
    "text_vocab_coverage_curve",
    "text_mattr_windowed_ttr",
    "text_duplicate_sentence_census",
    "text_ngram_positional_bias",
    "dedup_bag_jaccard",
    "dedup_sentence_containment",
    "sim_intra_inter_label_margin",
    "sim_dim_covariance_screen",
    "sim_rank_displacement",
    "etl_scd6_hybrid",
    "etl_currency_normalize_asof",
    "dq_benford_second_digit",
    "dq_psi_tvd_stability",
    "sample_quota_priority",
    "graph_bipartite_projection",
    "temporal_overlap_duration_matrix",
    "streaming_update_mode_topk",
    "multimodal_letterbox_plan",
    # round-13 additions
    "agg_hodges_lehmann_banded",
    "agg_durbin_watson",
    "agg_partial_correlation",
    "window_trix_indicator",
    "window_volume_price_corr",
    "window_donchian_breakout_runs",
    "events_burstiness_index",
    "events_churn_flags",
    "events_value_concentration_by_type",
    "text_char_trigram_source_tvd",
    "text_repeated_substring_mass",
    "text_vocab_jaccard_matrix",
    "dedup_transitivity_audit",
    "sim_cosine_euclidean_rank_agreement",
    "sim_kmeans_inertia_curve",
    "sim_silhouette_sampled",
    "etl_dead_column_detector",
    "etl_quarantine_rate_trend",
    "dq_referential_orphan_trend",
    "sample_stratified_neyman_vs_proportional",
    "temporal_gap_islands_coverage",
    "graph_weighted_degree_strength",
    "multimodal_aspect_bucket_census",
    "streaming_append_mode_hourly",
    "streaming_fullouter_interval_join",
    "layout_zorder_pruning_audit",
    # round-14 representatives (5 of 32 new entries, per the rule above):
    # the wedge-join k-truss, the triple-banding LSH sweep, the 200-query
    # panel histogram, the decode-census packing walk, and the
    # foreachBatch update-mode capture
    "graph_ktruss_edges",
    "dedup_band_sensitivity_curve",
    "sim_hubness_kocc",
    "multimodal_tile_batch_packing",
    "streaming_update_mode_user_totals",
    # round-15-prebuild representatives (4 of the 51 entries built in
    # round 14, per the rule above): the triple-drain watermark sweep
    # (heaviest streaming shape), the IVF probe-cost percentile join,
    # the dual-candidate-generator anchor audit, and the capped 2-hop
    # expansion
    "streaming_watermark_delay_sweep",
    "sim_ivf_list_balance_audit",
    "dedup_anchor_prefilter_audit",
    "graph_two_hop_reach",
]


# The driver records only the last ~2000 chars of combined output and
# parses the JSON line out of that window, so the printed line must (a)
# start on a clean newline with no console-progress \r junk glued on and
# (b) fit inside the window. All queries are still MEASURED; if the full
# dict would overflow the window, the cheapest timings are omitted from
# the printed line (counted in "queries_omitted") and the complete dict
# goes to stderr behind a non-JSON prefix.
MAX_LINE = 1900


def _fit_payload(total: float, timings: dict[str, float], sf: object) -> str:
    # cheapest first; failed (-1.0) entries are never omitted — they are
    # the signal the driver needs most
    by_cost = sorted((n for n in timings if timings[n] >= 0), key=lambda n: timings[n])
    omitted = 0
    while True:
        payload = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": {n: t for n, t in timings.items() if t < 0 or n not in by_cost[:omitted]},
            "sf": sf,
        }
        if omitted:
            payload["queries_omitted"] = omitted
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= MAX_LINE or omitted >= len(by_cost):
            return line
        omitted += 1


def _write_full_dict(
    total: float, timings: dict[str, float], sf: object, cpus: int
) -> None:
    """Persist the COMPLETE per-query dict beside the repo's BENCH_r*.json.

    The driver's stdout record keeps only a <=1900-char JSON line, so the
    cheapest per-query timings are omitted there (``queries_omitted``) and a
    regression in an omitted query would be invisible across rounds. This
    writes ``BENCH_full_r{N}_c{cpus}.json`` (N = 1 + the highest
    committed BENCH_r*.json round, i.e. the round in progress, and cpus =
    the session's parallelism, so a scaling run at another core count
    never takes the round's slot; override with
    $SPARK_GRAFT_BENCH_FULL) so round-over-round comparisons always have
    every timing. Best-effort: a read-only checkout must not break the
    one-JSON-line driver contract."""
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        out = os.environ.get("SPARK_GRAFT_BENCH_FULL")
        if not out and str(sf) != "0.1":
            # the round artifact is the sf0.1 cross-round comparison
            # basis; a quick smoke at another SF must never clobber it
            # (a round-8 sf0.01 smoke did exactly that — every timing
            # looked like a 3-4x "regression" against the real run)
            return
        if not out:
            rounds = [0]
            for f in os.listdir(repo):
                if f.startswith("BENCH_r") and f.endswith(".json"):
                    try:
                        rounds.append(int(f[len("BENCH_r"):-len(".json")]))
                    except ValueError:
                        pass
            out = os.path.join(
                repo, f"BENCH_full_r{max(rounds) + 1:02d}_c{cpus}.json"
            )
        with open(out, "w") as fh:
            json.dump(
                {"metric": "headline_total_sec", "value": total, "unit": "sec",
                 "sf": sf, "cpus": cpus, "queries": timings},
                fh, indent=1, sort_keys=True,
            )
            fh.write("\n")
    except OSError as exc:
        print(f"bench: full-dict write skipped: {exc}", file=sys.stderr)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # crude sf label from the dir name (sf0.1 -> 0.1)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = base

    spark = get_spark(
        app_name="bench",
        # Progress bars write \r-terminated fragments that glue onto the
        # next stdout line; the driver then fails to parse the JSON line.
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]

    # Warm the JVM + parquet footers with one cheap action so the first
    # timed query doesn't pay one-off session costs. A warm-up failure must
    # not break the one-JSON-line contract — the timed loop will surface it.
    try:
        registry["q6_forecast_revenue"](spark, sf_dir).collect()
    except Exception as exc:
        print(f"bench: warm-up FAILED: {exc}", file=sys.stderr)

    # Warm the Structured Streaming + Arrow-stateful path the same way,
    # at the smallest sibling SF of the bench dir (falling back to the
    # bench dir itself if the testdata root has no smaller SF): the first
    # streaming query of a session pays one-off class loading, state-store
    # provider init, and the applyInPandasWithState Python-worker spin-up
    # (~8 s measured on local[32]) that is session-lifetime cost, not
    # per-query work — exactly the category the warmed-session contract
    # excludes.
    # Only a sibling STRICTLY smaller than the bench SF qualifies: warming
    # on the bench dataset itself would pre-read the exact data the timed
    # run scans, which goes beyond the session-init scope above. With no
    # smaller sibling the streaming path warms implicitly during the timed
    # run and simply pays its one-off cost there.
    warm_dir = None
    root = os.path.dirname(sf_dir.rstrip("/"))
    siblings = []
    try:
        for d in os.listdir(root):
            if d.startswith("sf") and os.path.isdir(os.path.join(root, d)):
                try:
                    sib_sf = float(d[2:])
                except ValueError:
                    continue
                if isinstance(sf, float) and sib_sf < sf:
                    siblings.append((sib_sf, os.path.join(root, d)))
    except OSError:
        pass
    if siblings:
        warm_dir = min(siblings)[1]
    if warm_dir is not None:
        try:
            registry["streaming_user_totals"](spark, warm_dir).collect()
        except Exception as exc:
            print(f"bench: streaming warm-up FAILED: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            registry[name](spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep the bench artifact parseable
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
        # Outside the timed span: free localCheckpoint blocks so storage
        # pressure from earlier queries can't inflate later timings (the
        # driver's round-9 battery read the storage-heavy cluster up to
        # 10x over its warm isolation re-times from exactly this
        # accumulation — VERDICT r9 ask #2; the correctness mimic got the
        # same fix in round 9).
        release_blocks(spark)

    ok = [v for v in timings.values() if v >= 0]
    total = round(sum(ok), 3)
    # Full dict to stderr (prefixed so no driver-side parser grabs it).
    print(f"bench full: {json.dumps(timings, separators=(',', ':'))}", file=sys.stderr)
    sys.stderr.flush()
    _write_full_dict(total, timings, sf, spark.sparkContext.defaultParallelism)
    line = _fit_payload(total, timings, sf)
    # Leading newline: guarantees the JSON starts a fresh line even if
    # some earlier write left the stream mid-line.
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()
    return 0 if len(ok) == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
