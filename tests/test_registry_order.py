"""The driver's correctness gate reads the first 50 entries of
``queries()``, so the ordering is part of the contract: pin it, so a
reordering (a new spec registered in the wrong place, a promotion
edit) fails here, with the diff, instead of silently moving gates in
or out of the window."""

from lofar_bf_pulsar_scripts_spark.registry import (
    _PROMOTE,
    oracle_sql,
    queries,
)

ORDER = [
    "catalog_union", "regex_filter_parts", "nearest_supplier",
    "top_customer_per_nation", "lsh_bucket_sizes", "dup_clusters",
    "ngram_jaccard_pairs", "simhash_docs", "cosine_topk", "ivf_topk",
    "ivf_topk_filtered", "lsh_ann_topk", "lsh_ann_topk_stored",
    "lsh_recall_at_5", "embedding_quantize", "pq_code_histogram",
    "pq_adc_top3", "ivf_pq_top3", "ivf_pq_rerank_top3",
    "kmeans_update_step", "rfi_zap_fraction", "running_revenue",
    "rollup_pricing", "orders_without_lineitems", "polyco_fold",
    "lta_superquery_manifest", "shipping_priority", "embedding_near_dups",
    "streaming_asof_joins_exact", "salted_event_type_volume",
    "qq_normalize_stats", "tsky_map_lookup", "wijnholds_aeff_lookup",
    "wijnholds_channel_calibration", "gopher_rules",
    "training_data_pipeline", "bigram_lm_quality", "dsir_importance",
    "ivf_pq_stored_top3", "hybrid_rrf_search", "semantic_dedup_stats",
    "hierarchical_assign_counts", "hier_assign_agreement",
    "pii_redaction_stats", "image_phash_pairs", "lsh_multiprobe_topk",
    "incremental_components", "delete_closure_ids",
    "trained_ivf_pq_upsert", "forget_documents_stores", "fold_profile",
    "fold_subints", "profile_stats", "pricing_summary", "rebin_events",
    "trimmed_stats", "above_avg_orders", "dedup_documents",
    "asof_latest_event", "sigma_clip_events", "value_histogram",
    "user_sessions", "boxcar_best_hourly", "token_stats", "doc_chunks",
    "url_canonical", "vocab_coverage", "chunk_dedup_stats",
    "bpe_token_counts", "text_quality", "language_id",
    "doc_fingerprint_groups", "minhash_signatures", "contamination_screen",
    "repetition_stats", "source_quota_sample", "temperature_mix_counts",
    "near_dedup_pipeline", "incremental_near_dup", "stratified_sample",
    "tokenize_pack_pipeline", "sequence_packing", "hash_split_counts",
    "pca_gram_matrix", "corpus_stats", "incremental_dedup_counts",
    "bloom_incremental_screen", "curation_funnel", "tfidf_top_terms",
    "domain_blocklist_stats", "shuffle_rank_sample", "frame_offsets",
    "payload_metadata", "dispersion_delays", "pulsar_derived",
    "tsky_scaled", "detrend_events", "flux_spectrum", "pivot_event_values",
    "event_pairs_within_minute", "acf_hourly", "acf2d_user_day",
    "fold_event_counts", "cube_pricing", "bilinear_gain",
    "local_supplier_volume", "off_window_stats", "rotated_profile",
    "scrunch_user_hour", "altaz_positions", "streaming_fold_replay",
    "streaming_fold_exact", "streaming_dedup_exact",
    "streaming_sessions_exact", "streaming_asof_exact", "spectral_index",
    "band_averaged_tsky", "file_placement", "approx_sketches",
    "sketch_exact_check", "auto_off_window", "jones_beam_corr",
    "hamaker_beam_corr", "psrflux_band_flux", "channel_sefd",
    "quality_classifier", "zorder_bucket_stats", "bpe_pair_counts",
    "bpe_apply_counts", "json_props_stats", "boilerplate_removal",
    "bm25_search", "event_funnel", "cohort_retention", "scd2_user_values",
    "resample_hourly_ffill", "dq_profile_events", "key_skew_report",
    "top_session_paths", "streaming_funnel_exact",
    "streaming_funnel_joins_exact", "period_search", "sky_crossmatch",
    "harmonic_periodogram", "dm_search", "streaming_crossmatch_exact",
    "accel_search", "blind_search_pipeline", "pagerank_buckets",
    "nearest_sky_match", "visibility_windows", "candidate_sift",
    "single_pulse_cands", "timing_fit_drift", "span_dedup_docs",
    "subband_dm_search", "pulse_energy_hist", "quality_dedup_keep",
    "trained_pq_adc_top3", "trained_ivf_pq_rerank_top3",
]


def test_queries_order_is_pinned():
    assert list(queries()) == ORDER


def test_window_is_the_promoted_set_and_oracles_follow_the_order():
    assert len(ORDER) == len(set(ORDER)) == 160
    assert set(ORDER[:50]) == set(_PROMOTE)
    assert list(oracle_sql()) == [n for n in ORDER if n in oracle_sql()]
