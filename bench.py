"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with a noop sink (full computation, no
collect-to-driver cost). Wall metric = total seconds across queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aquacache_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("aquacache-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in sorted(queries):
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (plan + JIT + cache OS pages)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # evict blocks persisted inside this query's plan before moving
        # on: 80+ queries' leftover storage otherwise accumulates in the
        # executor store and skews later timings (GC pressure)
        spark.catalog.clearCache()
        # r12 measurement-hygiene fix (same intent as clearCache, see
        # OPTIMIZATION_r12.md): localCheckpoint()-backed plans pin
        # RDD blocks that clearCache does NOT release (measured: 16
        # leftover persistent RDDs / 164 MB after a full run). Release
        # COMPLETED queries' leftovers explicitly — never touched
        # between a query's warm and timed runs, so per-query timings
        # still measure the full computation.
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    total = round(sum(timings.values()), 3)
    # the round-1 suite was 48 queries; the suite has since grown, so
    # the raw total is not comparable round-over-round — emit the
    # like-for-like subset alongside it
    r01 = {
        "ann_ivf_topk", "ann_lsh_topk", "asof_join_1to1", "audit_as_of",
        "calculate_period", "compound_expression",
        "compound_priority_coalesce", "corrections_chain",
        "customers_without_recent_orders", "daily_rollup",
        "daily_rollup_median", "dedup_exact", "divergence_cutoff",
        "donor_offset_scoring", "doy_feb29_smoothed", "doy_historic_stats",
        "doy_stats_30yr_window", "embedding_cosine_topk", "ffill_bfill",
        "gap_expansion", "grade_exclusion_antijoin", "hydat_daily_merge",
        "import_mapping_join", "impute_donor_fill",
        "incremental_daily_refresh", "increments_stateful",
        "iso_period_format", "json_extract_args", "lag_diff_period",
        "linear_interpolation", "minhash_lsh_pairs", "minhash_signatures",
        "multimodal_features", "nearest_station_search",
        "ngram_jaccard_pairs", "pricing_summary",
        "recursive_downstream_closure", "region_revenue",
        "resample_6h_dense", "rle_segments", "rls_share_with_filter",
        "segment_overlay", "simhash_signatures", "spline_imputation",
        "sync_reconcile", "text_metrics", "topk_per_group",
        "unit_conversions",
    }
    # the 121-query round-2 suite, frozen for round-over-round
    # comparability (the raw total keeps growing as queries are added)
    r02 = {
        "add_new_continuous_actions", "ann_ivf_topk", "ann_ivfpq_topk",
        "ann_lsh_topk", "ann_pq_topk", "api_corrected_read",
        "api_daily_read", "aquarius_connector_normalize", "asof_join_1to1",
        "audit_as_of", "audit_changed_fields", "bmp_decode_features",
        "c4_line_filter", "calculate_period", "cluster_safe_split",
        "compound_asof_expression", "compound_expression",
        "compound_metadata_rollup", "compound_priority_coalesce",
        "corpus_curation", "corrected_read_at", "corrections_chain",
        "curation_full_gate", "customers_without_recent_orders",
        "daily_calculated_at", "daily_rollup", "daily_rollup_median",
        "dedup_clusters", "dedup_exact", "discrete_result_sync",
        "discrete_sample_sync", "divergence_cutoff",
        "document_type_validation", "domain_quality_gate",
        "donor_offset_scoring", "doy_feb29_smoothed", "doy_historic_stats",
        "doy_stats_30yr_window", "dsir_importance", "eccc_connector_fanout",
        "ecccwq_results", "embedding_cosine_topk", "embedding_near_dup",
        "eqwin_normalize", "era5_request_plan", "eval_decontamination",
        "ffill_bfill", "gap_expansion", "grade_exclusion_antijoin",
        "guideline_rule_evaluation", "guideline_scalar",
        "hardness_guideline", "hrdpa_listing_normalize", "hydat_daily_merge",
        "image_hash_upsert", "image_series_watermarks",
        "import_mapping_join", "import_mapping_resolution",
        "impute_donor_fill", "incremental_daily_refresh",
        "increments_stateful", "interval_overlap_validation",
        "iso_period_format", "ivf_kmeans_centroids", "json_extract_args",
        "lag_diff_period", "language_id", "linear_interpolation",
        "location_checks", "location_code_generation", "location_masking",
        "matrix_state_resolution", "minhash_lsh_pairs", "minhash_signatures",
        "mixture_domain_sample", "multimodal_features",
        "nearest_station_search", "ngram_jaccard_pairs", "nhn_layer_upsert",
        "nwis_connector_normalize", "pii_redaction", "pricing_summary",
        "qc_adjust_e2e", "qc_intervals_as_of", "raster_basin_stats",
        "raster_forecast_selective", "raster_model_asof", "raster_pyramid",
        "raster_zonal_stats", "recursive_downstream_closure",
        "refresh_daily_e2e", "region_revenue", "repetition_metrics",
        "resample_6h_dense", "rle_segments", "rls_share_with_filter",
        "segment_id_recycling", "segment_overlay", "sequence_packing",
        "share_with_maintenance", "simhash_near_pairs", "simhash_signatures",
        "snow_workbook_qc", "snowcourse_station_merge", "spline_imputation",
        "stratified_split", "swob_minute_normalize", "sync_reconcile",
        "text_metrics", "timeseries_bounds_check",
        "timeseries_insert_validation", "token_entropy", "token_stats",
        "topk_per_group", "unigram_surprisal", "unit_conversions",
        "vector_point_in_polygon", "visibility_expiry_maintenance",
        "watermark_ingest_trim", "winnow_fingerprints",
        "wsc_connector_daily"
    }
    # the 129-query round-3 suite, frozen for round-over-round
    # comparability
    r03 = {
        "add_new_continuous_actions", "ann_ivf_topk", "ann_ivfpq_topk",
        "ann_lsh_topk", "ann_pq_topk", "api_corrected_read",
        "api_daily_read", "aquarius_connector_normalize",
        "asof_join_1to1", "audit_as_of", "audit_changed_fields",
        "bmp_decode_features", "c4_line_filter", "calculate_period",
        "cluster_safe_split", "compound_asof_expression",
        "compound_expression", "compound_metadata_rollup",
        "compound_priority_coalesce", "corpus_curation",
        "corrected_read_at", "corrections_chain", "curation_full_gate",
        "curation_packed_manifest", "customers_without_recent_orders",
        "daily_calculated_at", "daily_corrected_at", "daily_rollup",
        "daily_rollup_median", "dedup_clusters", "dedup_exact",
        "discrete_result_sync", "discrete_sample_sync",
        "divergence_cutoff", "document_type_validation",
        "domain_quality_gate", "donor_offset_scoring",
        "doy_feb29_smoothed", "doy_historic_stats",
        "doy_stats_30yr_window", "dsir_importance",
        "eccc_connector_fanout", "ecccwq_results",
        "embedding_cosine_topk", "embedding_near_dup",
        "eqwin_normalize", "era5_request_plan", "eval_decontamination",
        "ffill_bfill", "gap_expansion", "grade_exclusion_antijoin",
        "guideline_rule_evaluation", "guideline_scalar",
        "hampel_spike_flags", "hampel_spike_nulls",
        "hardness_guideline", "hrdpa_grib_ingest",
        "hrdpa_listing_normalize", "hydat_daily_merge",
        "image_hash_upsert", "image_series_watermarks",
        "import_mapping_join", "import_mapping_resolution",
        "impute_donor_fill", "incremental_daily_refresh",
        "increments_stateful", "interval_overlap_validation",
        "iso_period_format", "ivf_kmeans_centroids",
        "json_extract_args", "lag_diff_period", "language_id",
        "linear_interpolation", "location_checks",
        "location_code_generation", "location_masking",
        "matrix_state_resolution", "minhash_lsh_pairs",
        "minhash_signatures", "mixture_domain_sample",
        "multimodal_features", "nearest_station_search",
        "ngram_jaccard_pairs", "nhn_gpkg_layer_upsert",
        "nhn_layer_upsert", "nwis_connector_normalize", "pii_redaction",
        "pricing_summary", "qc_adjust_e2e", "qc_intervals_as_of",
        "raster_basin_stats", "raster_forecast_selective",
        "raster_model_asof", "raster_pyramid", "raster_zonal_stats",
        "recursive_downstream_closure", "refresh_daily_e2e",
        "region_revenue", "repeated_span_coverage",
        "repetition_metrics", "resample_6h_dense", "rle_segments",
        "rls_share_with_filter", "segment_id_recycling",
        "segment_overlay", "sequence_packing", "share_with_maintenance",
        "simhash_near_pairs", "simhash_signatures", "snow_workbook_qc",
        "snowcourse_station_merge", "spike_qc_segments",
        "spline_imputation", "stratified_split",
        "swob_minute_normalize", "sync_reconcile", "text_metrics",
        "timeseries_bounds_check", "timeseries_insert_validation",
        "token_entropy", "token_stats", "topk_per_group",
        "unigram_surprisal", "unit_conversions",
        "vector_point_in_polygon", "visibility_expiry_maintenance",
        "watermark_ingest_trim", "winnow_fingerprints",
        "wsc_connector_daily"
    }
    # the 140-query round-4 suite, frozen for round-over-round
    # comparability
    r04 = {
        "add_new_continuous_actions", "ann_ivf_topk", "ann_ivfpq_topk",
        "ann_lsh_topk", "ann_pq_topk", "api_corrected_read",
        "api_daily_read", "aquarius_connector_normalize",
        "asof_join_1to1", "audit_as_of", "audit_changed_fields",
        "bmp_decode_features", "c4_line_filter", "calculate_period",
        "caldas_grib_ingest", "cluster_safe_split",
        "compound_asof_expression", "compound_expression",
        "compound_metadata_rollup", "compound_priority_coalesce",
        "corpus_curation", "corrected_read_at", "corrections_chain",
        "curation_full_gate", "curation_packed_manifest",
        "customers_without_recent_orders", "daily_calculated_at",
        "daily_corrected_at", "daily_rollup", "daily_rollup_median",
        "dedup_clusters", "dedup_exact", "discrete_result_sync",
        "discrete_sample_sync", "divergence_cutoff",
        "document_type_validation", "domain_quality_gate",
        "donor_offset_scoring", "doy_feb29_smoothed",
        "doy_historic_stats", "doy_stats_30yr_window",
        "dsir_importance", "eccc_connector_fanout", "ecccwq_results",
        "embedding_cosine_topk", "embedding_near_dup",
        "eqwin_normalize", "era5_netcdf4_ingest", "era5_netcdf_ingest",
        "era5_request_plan", "eval_decontamination", "ffill_bfill",
        "gap_expansion", "grade_exclusion_antijoin",
        "guideline_rule_evaluation", "guideline_scalar",
        "hampel_spike_flags", "hampel_spike_nulls",
        "hardness_guideline", "hrdpa_complex_ingest",
        "hrdpa_grib_ingest", "hrdpa_listing_normalize",
        "hrdps_grib_ingest", "hydat_daily_merge", "image_hash_upsert",
        "image_series_watermarks", "import_mapping_join",
        "import_mapping_resolution", "impute_donor_fill",
        "incremental_daily_refresh", "increments_stateful",
        "interval_overlap_validation", "iso_period_format",
        "ivf_kmeans_centroids", "json_extract_args", "lag_diff_period",
        "language_id", "linear_interpolation", "location_checks",
        "location_code_generation", "location_masking",
        "lsh_capped_pairs", "matrix_state_resolution",
        "minhash_lsh_pairs", "minhash_signatures",
        "mixture_domain_sample", "multimodal_features",
        "nearest_station_search", "ngram_jaccard_pairs",
        "nhn_gpkg_layer_upsert", "nhn_layer_upsert",
        "nwis_connector_normalize", "pii_redaction",
        "png_decode_features", "pricing_summary", "qc_adjust_e2e",
        "qc_intervals_as_of", "raster_basin_stats",
        "raster_forecast_selective", "raster_model_asof",
        "raster_pyramid", "raster_zonal_stats",
        "recursive_downstream_closure", "refresh_daily_e2e",
        "region_revenue", "repeated_span_coverage",
        "repeated_span_removal", "repetition_metrics",
        "resample_6h_dense", "rle_segments", "rls_share_with_filter",
        "segment_id_recycling", "segment_overlay", "sequence_packing",
        "share_with_maintenance", "simhash_near_pairs",
        "simhash_signatures", "snow_workbook_qc",
        "snowcourse_station_merge", "spike_qc_segments",
        "spline_imputation", "stratified_split",
        "swob_minute_normalize", "sync_reconcile", "text_metrics",
        "timeseries_bounds_check", "timeseries_insert_validation",
        "token_entropy", "token_stats", "topk_per_group",
        "tz_daily_rollup_dst", "unigram_surprisal", "unit_conversions",
        "url_domain_rollup", "url_domain_rollup_psl",
        "vector_point_in_polygon", "visibility_expiry_maintenance",
        "watermark_ingest_trim", "winnow_fingerprints",
        "wsc_connector_daily"
    }
    # the 158-query round-5 suite, frozen for round-over-round
    # comparability
    r05 = {
        "add_new_continuous_actions", "add_new_discrete_actions",
        "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
        "ann_pq_topk", "api_corrected_read", "api_daily_read",
        "aquarius_connector_normalize", "asof_join_1to1",
        "audio_fingerprint_near_dup", "audit_as_of",
        "audit_changed_fields", "bm25_topk", "bmp_decode_features",
        "c4_line_filter", "calculate_period", "caldas_grib_ingest",
        "cluster_safe_split", "compound_asof_expression",
        "compound_expression", "compound_metadata_rollup",
        "compound_priority_coalesce", "corpus_curation",
        "corrected_read_at", "corrections_chain",
        "cross_section_discharge", "cross_section_panel_hydraulics",
        "curation_full_gate", "curation_packed_manifest",
        "customers_without_recent_orders", "daily_calculated_at",
        "daily_corrected_at", "daily_rollup", "daily_rollup_median",
        "dedup_clusters", "dedup_exact", "discrete_result_sync",
        "discrete_sample_sync", "divergence_cutoff",
        "document_type_validation", "domain_quality_gate",
        "donor_offset_scoring", "doy_feb29_smoothed",
        "doy_historic_stats", "doy_stats_30yr_window",
        "dsir_importance", "eccc_connector_fanout",
        "ecccwq_results", "embedding_cosine_topk",
        "embedding_near_dup", "eqwin_normalize",
        "era5_netcdf4_ingest", "era5_netcdf_ingest",
        "era5_request_plan", "eval_decontamination", "ffill_bfill",
        "gap_expansion", "gopher_quality_gate",
        "grade_exclusion_antijoin", "guideline_rule_evaluation",
        "guideline_scalar", "hampel_spike_flags",
        "hampel_spike_nulls", "hardness_guideline",
        "hrdpa_complex_ingest", "hrdpa_grib_ingest",
        "hrdpa_listing_normalize", "hrdpa_rotated_ingest",
        "hrdps_grib_ingest", "hydat_daily_merge",
        "image_hash_upsert", "image_phash_near_dup",
        "image_series_watermarks", "import_mapping_join",
        "import_mapping_resolution", "impute_donor_fill",
        "incremental_daily_refresh", "increments_stateful",
        "interval_overlap_validation", "iso_period_format",
        "ivf_kmeans_centroids", "jpeg_decode_features",
        "jpeg_progressive_features", "json_extract_args",
        "lag_diff_period", "language_id", "linear_interpolation",
        "location_checks", "location_code_generation",
        "location_masking", "lsh_capped_pairs",
        "matrix_state_resolution", "minhash_lsh_pairs",
        "minhash_signatures", "mixture_domain_sample",
        "multimodal_features", "nearest_station_search",
        "ngram_jaccard_pairs", "nhn_gpkg_layer_upsert",
        "nhn_layer_upsert", "nwis_connector_normalize",
        "parameter_unit_guard", "pgraster_wkb_export",
        "pii_redaction", "png_decode_features", "pricing_summary",
        "psl_wildcard_resolution", "qc_adjust_e2e",
        "qc_intervals_as_of", "raster_basin_stats",
        "raster_forecast_selective", "raster_model_asof",
        "raster_pyramid", "raster_zonal_stats",
        "recursive_downstream_closure", "refresh_daily_e2e",
        "region_revenue", "repeated_span_coverage",
        "repeated_span_removal", "repetition_metrics",
        "resample_6h_dense", "rle_segments",
        "rls_share_with_filter", "segment_id_recycling",
        "segment_overlay", "semdedup_capped_prune",
        "semdedup_prune", "sequence_packing",
        "share_with_maintenance", "simhash_near_pairs",
        "simhash_signatures", "snow_workbook_qc",
        "snowcourse_station_merge", "spike_qc_segments",
        "spline_imputation", "stratified_split",
        "swob_minute_normalize", "sync_reconcile", "text_metrics",
        "timeseries_bounds_check", "timeseries_insert_validation",
        "token_entropy", "token_stats", "topk_per_group",
        "tz_daily_rollup_dst", "unigram_surprisal",
        "unit_conversions", "url_domain_rollup",
        "url_domain_rollup_psl", "vector_point_in_polygon",
        "video_fingerprint_near_dup", "video_frame_features",
        "visibility_expiry_maintenance", "watermark_ingest_trim",
        "wav_decode_features", "winnow_fingerprints",
        "wsc_connector_daily"
    }
    # the 272-query round-9 suite, frozen for round-over-round
    # comparability
    r09 = {
        "add_new_continuous_actions", "add_new_discrete_actions",
        "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk", "ann_pq_topk",
        "antecedent_index", "api_corrected_read", "api_daily_read",
        "aquarius_connector_normalize", "asof_join_1to1",
        "asset_cross_modal_dedup", "audio_fingerprint_near_dup",
        "audio_spectral_features", "audio_spectral_near_dup", "audit_as_of",
        "audit_changed_fields", "baseflow_separation", "benford_digit_screen",
        "bigram_surprisal", "bloom_membership", "bm25_phrase_topk",
        "bm25_topk", "bmp_decode_features", "bpe_tokenize_counts",
        "bpe_train_merges", "bpe_trained_vocab_tokens", "c4_line_filter",
        "calculate_period", "caldas_grib_ingest", "canonical_url_dedup",
        "chain_components", "charset_transcode_features",
        "chunk_cross_doc_near_dup", "cluster_safe_split",
        "code_quality_filters", "compound_asof_expression",
        "compound_expression", "compound_metadata_rollup",
        "compound_priority_coalesce", "corpus_curation", "corpus_datacard",
        "corpus_datacard_v2", "corpus_token_quantiles", "corrected_read_at",
        "corrections_chain", "countmin_heavy_hitters",
        "crawl_frontier_priority", "cross_section_discharge",
        "cross_section_panel_hydraulics", "csw_layer_read",
        "curation_full_gate", "curation_packed_manifest",
        "customers_without_recent_orders", "daily_calculated_at",
        "daily_corrected_at", "daily_rollup", "daily_rollup_median",
        "dedup_best_of_cluster", "dedup_clusters", "dedup_exact",
        "default_sharing_agreement_check", "discrete_result_sync",
        "discrete_sample_sync", "divergence_cutoff", "doc_containment_scores",
        "document_chunking", "document_type_validation",
        "domain_quality_gate", "donor_offset_scoring", "double_mass_screen",
        "doy_feb29_smoothed", "doy_historic_stats", "doy_stats_30yr_window",
        "dsir_importance", "eccc_connector_fanout", "ecccwq_results",
        "embedding_cosine_topk", "embedding_int8_quantization",
        "embedding_ip_topk", "embedding_l2_topk", "embedding_near_dup",
        "eqwin_normalize", "era5_netcdf4_ingest", "era5_netcdf_ingest",
        "era5_request_plan", "eval_decontamination",
        "event_cooccurrence_lift", "event_funnel", "event_sessionization",
        "ffill_bfill", "flood_frequency_gumbel", "flood_frequency_lmoments",
        "flow_duration_curve", "freshet_timing", "gap_expansion",
        "gif_decode_features", "gopher_quality_gate",
        "grade_exclusion_antijoin", "guideline_rule_evaluation",
        "guideline_scalar", "hampel_spike_flags", "hampel_spike_nulls",
        "hardness_guideline", "hash_stratified_sample",
        "histogram_length_quantiles", "hll_token_distinct",
        "hll_token_intersection", "host_link_stats", "host_pagerank",
        "hrdpa_complex_ingest", "hrdpa_grib_ingest",
        "hrdpa_listing_normalize", "hrdpa_rotated_ingest",
        "hrdps_grib_ingest", "html_main_text_extract", "hybrid_rrf_topk",
        "hydat_daily_merge", "idf_design_depths", "idw_station_gridding",
        "image_hash_upsert", "image_phash_near_dup", "image_resize_features",
        "image_series_watermarks", "image_share_with_restriction",
        "image_sharpness_metrics", "import_mapping_join",
        "import_mapping_resolution", "impute_donor_fill",
        "incremental_daily_refresh", "incremental_lsh_parity",
        "incremental_pagerank", "increments_stateful",
        "instrument_acquisition_validation",
        "instrument_connection_signal_check", "instrument_deployment_overlap",
        "interval_overlap_validation", "iso_period_format",
        "ivf_kmeans_centroids", "jpeg12_decode_features",
        "jpeg_decode_features", "jpeg_progressive_features",
        "json_extract_args", "kn_bigram_surprisal", "lag_diff_period",
        "language_id", "linear_interpolation", "location_checks",
        "location_code_generation", "location_masking",
        "location_metadata_fr", "location_metadata_read",
        "low_flow_frequency", "lsh_capped_pairs", "luhn_card_validation",
        "mann_kendall_trend", "matrix_state_resolution",
        "matryoshka_truncated_topk", "minhash_lsh_pairs",
        "minhash_signatures", "mixture_domain_sample", "model_quality_score",
        "multimodal_features", "nearest_station_search",
        "ngram_jaccard_pairs", "nhn_gpkg_layer_upsert", "nhn_layer_upsert",
        "nwis_connector_normalize", "parameter_unit_guard",
        "per_language_curation", "per_language_temperature_sample",
        "pgraster_wkb_export", "pii_redaction", "pmi_collocations",
        "png_decode_features", "pricing_summary", "provenance_curation_gate",
        "psl_wildcard_resolution", "qc_adjust_e2e", "qc_intervals_as_of",
        "raster_basin_stats", "raster_bilinear_sample",
        "raster_forecast_selective", "raster_model_asof", "raster_pyramid",
        "raster_reference_cell_size_sync", "raster_zonal_stats",
        "rating_curve_discharge", "record_completeness",
        "recursive_downstream_closure", "refresh_daily_e2e", "region_revenue",
        "repeated_span_coverage", "repeated_span_removal",
        "repetition_metrics", "resample_6h_dense", "results_metadata_fr",
        "results_metadata_read", "retrieval_ranking_metrics", "rle_segments",
        "rls_share_with_filter", "robots_rules_parse", "robots_url_filter",
        "runs_randomness_test", "samples_metadata_fr",
        "samples_metadata_read", "scd2_dimension_build",
        "scored_curation_manifest", "seasonal_mann_kendall",
        "segment_id_recycling", "segment_overlay", "semdedup_capped_prune",
        "semdedup_prune", "sensor_assignment_validation", "sequence_packing",
        "session_features", "share_with_maintenance",
        "sharing_agreement_overlap_check", "simhash_capped_pairs",
        "simhash_near_pairs", "simhash_signatures",
        "sitemap_crawl_candidates", "sitemap_url_ingest", "snow_workbook_qc",
        "snowcourse_station_merge", "spi_empirical_3mo", "spike_qc_segments",
        "spline_imputation", "station_lag_correlation", "stratified_split",
        "surprisal_quality_buckets", "swob_minute_normalize",
        "sync_reconcile", "table_profile", "temperature_mixture_sample",
        "text_metrics", "tfidf_top_terms", "tfpw_mann_kendall",
        "timeseries_bounds_check", "timeseries_insert_validation",
        "timeseries_metadata_fr", "timeseries_metadata_read", "token_entropy",
        "token_stats", "topk_per_group", "trigram_surprisal",
        "tz_daily_rollup_dst", "unicode_fold_normalize", "unigram_surprisal",
        "unit_conversions", "url_canonicalization", "url_domain_rollup",
        "url_domain_rollup_psl", "vector_point_in_polygon",
        "verified_heavy_hitters", "video_fingerprint_near_dup",
        "video_frame_features", "video_scene_cuts", "video_shot_containment",
        "video_shot_containment_capped", "video_shot_containment_sign",
        "visibility_expiry_maintenance", "warc_crawl_corpus",
        "warc_multilingual_corpus", "warc_record_ingest",
        "warc_robots_gated_corpus", "watermark_ingest_trim",
        "wav_decode_features", "weighted_stratified_sample",
        "winnow_fingerprints", "wsc_connector_daily", "zorder_layout_key",
    }

    # the round-10 additions (patch_36/37 transmission validators,
    # regional flood frequency, long-gram ExactSubstr doubling):
    # r10 subset = r09 + these, frozen for round-over-round comparison
    r10 = r09 | {
        "instrument_meta_overlap",
        "instrument_connection_check",
        "transmission_setup_validation",
        "transmission_component_check",
        "transmission_capability_check",
        "protocol_dependents_check",
        "deployment_transmission_dependents",
        "regional_flood_homogeneity",
        "regional_index_flood",
        "long_repeated_span_coverage",
        "regional_discordancy",
        "regional_screening_report",
        "embedding_cosine_topk_blas",
        "semdedup_blas_prune"
    }
    # a frozen subset's sum silently skips names that are no longer
    # registered, so each rNN_subset_seconds carries the count of that
    # subset's queries that actually ran: a subset that shrank through
    # deletion must not read as a speed-up
    subsets = {"r01": r01, "r02": r02, "r03": r03, "r04": r04,
               "r05": r05, "r09": r09, "r10": r10}
    subset_fields = {}
    for tag, names in subsets.items():
        ran = [v for k, v in timings.items() if k in names]
        subset_fields[f"{tag}_subset_seconds"] = round(sum(ran), 3)
        subset_fields[f"{tag}_subset_queries"] = len(ran)

    # The driver keeps only a 4KB stdout TAIL: a single JSON line carrying
    # all 200+ per-query timings gets its leading "metric"/"value" fields
    # truncated away (BENCH_r02..r07 all recorded parsed:null).  Contract:
    # the LAST stdout line is a compact (<4KB) summary; the full per-query
    # map goes to a sidecar file next to this script and to stderr.
    full = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        **subset_fields,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # r13 (VERDICT r12 #4/#6): the sidecar used to be one fixed path,
    # so a later scaling run (same HEAD, different $SPARK_GRAFT_CPUS)
    # overwrote the 32-core per-query record. Name it by (cpus, sf) so
    # each configuration keeps its own full map; BENCH_full.json stays
    # as the latest-run convenience pointer.
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    sidecar = os.path.join(
        here, f"BENCH_full_c{cpus}_sf{sf}.json")
    for p in (sidecar, os.path.join(here, "BENCH_full.json")):
        with open(p, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full), file=sys.stderr)

    slowest = dict(sorted(
        timings.items(), key=lambda kv: kv[1], reverse=True)[:20])
    print(json.dumps({
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": slowest,          # top-20 slowest; full map in sidecar
        "n_queries": len(timings),
        **subset_fields,
        "queries_sidecar": sidecar,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
