"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` exposes one
callable per implemented operator from SURVEY.md §2; ``oracle_sql()`` gives
the DuckDB-equivalent SQL per query (driver compares row-count + schema +
order-insensitive value-hash at sf=0.01).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from msgvault_spark.catalog import CATALOG

# Gate-priority order: the driver verifies exactly the first 50 catalog
# entries in dict order, so dict order IS the verification budget.
# Invariant (tools/gate_priority.py, pinned by tests/test_gate_priority.py):
# every entry whose implementation changed since the last clean round
# boundary must precede every entry that did not; when the touched set
# exceeds 50, all 50 slots go to touched entries and the overflow relies
# on the out-of-band full-oracle sweep until its next window.
_PRIORITY = [
    # the exact wide record (sources/cache.build_wide_messages with
    # nested junction rows; aggregate_wide/sub_aggregate_wide and the
    # shared name helpers in functions/text.py): narrow changes, every
    # aggregate/sub-aggregate entry re-verifies
    "agg_senders",
    "agg_sender_names",
    "agg_recipients",
    "agg_domains",
    "agg_labels",
    "agg_time_month",
    "agg_time_year_filtered",
    "sub_agg_domain_to_senders",
    "sub_agg_label_to_time",
    "total_stats",
    "agg_senders_wide",
    "agg_domains_wide",
    "agg_labels_wide",
    "agg_time_month_wide",
    "sub_agg_domain_to_senders_wide",
    "agg_recipients_wide",
    "agg_senders_wide_multifrom",
    "agg_senders_join_multifrom",
    "agg_senders_with_search",
    # the plan-memo removal: catalog_streaming lost its per-entry memo
    # opt-out and streaming/incremental's pool clear changed (every
    # stream entry); catalog_lookup's docstrings changed (every lookup
    # entry). Narrow changes, must re-verify
    "stream_rollup_daily",
    "stream_dedup_count",
    "stream_user_sessions",
    "stream_stream_join_funnel",
    "stream_static_enrich",
    "hydrate_search_hits",
    "get_messages_by_ids",
    "list_accounts",
    "get_messages_raw_batch",
    "get_message_by_source_id",
    "get_attachments_batch",
    "gmail_ids_by_filter",
    "summary_stats",
    # --- round 12 gate window (50 slots). Composition, in order:
    # (1) the mid-build narrow changes (promote_generation hardening in
    #     embeddings_pipeline.py; the NEW ivfpq_knn_seed0 +
    #     ivfpq_recall_report entries in catalog_ann.py);
    # (2) the r12 OPTIMIZATION-round narrow changes — every entry whose
    #     plan was restructured this round (tfidf/backoff rewrites, the
    #     ILIKE→lowered-contains compilation, simhash integer-shift
    #     votes, the wide recipient-blob columns). Results are
    #     hash-identical (proven against the oracle at sf0.001/0.01/0.1
    #     in-round) but gate_priority must_verify fronts them;
    # (3) the r2/r3-vintage rotation cohort (r11 verdict task #3)
    #     filling the remaining slots; the r5-vintage tail the
    #     optimization entries displaced queues first in overflow for
    #     the r13 window.
    # The full sf0.01 oracle sweep re-verified all 223 entries
    # out-of-band on this round's tree. ---
    "embed_pipeline_vectors",
    "ivfpq_knn_seed0",
    "ivfpq_recall_report",
    # the ILIKE→lowered-contains compilation (functions/text.py) touches
    # every search-path entry
    "search_fast_recipients_wide",
    "search_fast_operators_wide",
    "search_fast_operators",
    "search_text_terms",
    "search_relative_dates",
    "list_messages_by_domain",
    "list_messages_by_domain_wide",
    "search_with_stats",
    "search_page2",
    "search_by_domains",
    # level-2 memory recovery (r12): checkpoint-unpersist discipline in
    # connected_components and pagerank — narrow changes, must re-verify
    "fuzzy_dedup_survivors",
    "quality_dedup_survivors",
    "dedup_component_sizes",
    "pagerank_dup_graph",
    "hybrid_rrf_hydrated",
    # --- end of the window. The r12 plan-restructure entries (tfidf/
    #     backoff rewrites, simhash integer-shift votes, ngram prefix
    #     filter) and r5-vintage TPC-H/operator entries, displaced by the
    #     narrow changes above, queue first in overflow ---
    "tfidf_top_terms",
    "bigram_backoff_quality",
    "doremi_weight_update",
    "simhash_fingerprints",
    "simhash_hamming_pairs",
    "ngram_jaccard_pairs",
    "bloom_join_orders",
    "chunk_documents",
    "cms_frequency_orders",
    "cube_priority_status",
    "hist_quantile_orders",
    "hll_distinct_rollup",
    "market_share_q8",
    "nation_volume_q7",
    "pack_training_sequences",
    "regional_volume_q5",
    "salted_priority_rollup",
    "shipping_priority_q3",
    "snapshot_merge_timetravel",
    "temperature_mix_sources",
    "train_val_test_split",
    "customer_distribution_q13",
    "disjunctive_revenue_q19",
    "encoding_repair_docs",
    "forecast_revenue_q6",
    "global_shuffle_shards",
    "idle_customers_q22",
    "nation_profit_q9",
    "order_priority_q4",
    "promo_revenue_q14",
    "salted_join_priority_dim",
    "schema_drift_read",
    "snapshot_optimize_vacuum",
    "supplier_parts_q16",
    "time_series_zero_fill",
    "top_supplier_q15",
    "waiting_suppliers_q21",
    "approx_percentile_check",
    "c4_pipeline_stats",
    "dedup_mime_hash_groups",
    "embed_preprocess_docs",
    "epoch_upsample_sources",
    "label_centroids",
    "pivot_events_weekly",
    "priority_shipping_q12",
    "profile_orders_table",
    "returned_items_q10",
    "rp_project_embeddings",
    # --- overflow (out-of-band full-oracle sweep; driver rows in
    #     later rounds), prior order preserved; the r5-vintage tail
    #     displaced by the r12 narrow-change entries queues first ---
    "skew_report_orders",
    "sliding_window_events",
    "snapshot_diff_versions",
    "semantic_decontaminate_docs",
    "decontaminate_docs",
    "dedup_exact_survivors",
    "dedup_merge_labels",
    "dedup_content_hash",
    "minhash_lsh_near_dups",
    "lsh_capped_hot_bucket",
    "lsh_hot_bucket_stats",
    "embedding_near_dups",
    "text_profile_docs",
    "dv_survivor_counts",
    "winnow_substring_pairs",
    "dedup_line_segments",
    "minhash_incremental_pairs",
    "unigram_quality_docs",
    "semantic_dedup_cells",
    "cross_source_dup_report",
    "kmv_source_overlap",
    "embedding_near_dups_lsh",
    "pricing_summary",
    "top_customers_by_spend",
    "orders_semi_anti",
    "latest_order_per_customer",
    "events_by_type_daily",
    "scalar_functions_chain",
    "union_distinct_parts",
    "ilike_part_search",
    "ann_lsh_seed0",
    "media_payload_stats",
    "media_features_entropy",
    "media_decode_fake",
    "knn_join_batch",
    "rfc822_backfill",
    "sessionize_events",
    "stratified_sample_docs",
    "rollup_priority_status",
    "repetition_filter_docs",
    "events_json_props",
    "range_join_error_context",
    "window_family_orders",
    "incremental_agg_orders",
    "percentiles_order_price",
    "scd2_customer_priority",
    "bm25_documents",
    "knn_cosine_seed0",
    "hybrid_rrf",
    "ann_ivf_seed0",
    "hybrid_rrf_filtered",
    "bm25_prefix_documents",
    "pq_knn_seed0",
    "phrase_search_docs",
    "asof_events_orders",
    "quantized_knn_seed0",
    "sq8_rerank_knn",
    "bm25_phrase_documents",
    "media_resize_plan",
    "media_frame_sample",
    "ann_recall_report",
    "ivf_recall_report",
    "sq8_recall_report",
    "pq_recall_report",
    "token_budget_mix_plan",
    "ivf_probe_sweep",
    "dsir_importance_select",
    "length_bucket_report",
    "quality_median_filter",
    "cluster_balanced_sample",
    "source_divergence_matrix",
    "curriculum_decile_plan",
    "bpe_merge_candidates",
    "repeated_span_coverage",
    "span_clean_docs",
    "incremental_span_coverage",
    "zipf_slope_by_source",
    "mrr_eval_knn",
    "oov_rate_by_source",
    "token_entropy_docs",
    "quality_zscore_by_lang",
    "word_sampling_plan",
    "dup_position_profile",
    "unimax_budget_plan",
    "rfm_segments",
    "bm25_fts5_documents",
    "ndcg_eval_knn",
    "bpe_train_merges",
    "bpe_trained_fertility",
    "edit_distance_pairs",
    "dedup_threshold_sweep",
    "cache_roundtrip_by_year",
    "list_conversations",
    "text_agg_contacts",
    "empty_cc_by_year",
    "raw_sql_v_domains",
    "list_conversation_messages",
    "text_search_messages",
    "text_stats_total",
    "csv_roundtrip_stats",
    "incremental_cache_append",
    "weighted_mix_sources",
    "topk_orders_per_priority",
    "top_bigrams_corpus",
    "label_dispersion_report",
    "small_quantity_revenue_q17",
    "large_orders_q18",
    "min_cost_supplier_q2",
    "important_stock_q11",
    "excess_stock_suppliers_q20",
    "ngram_diversity_by_source",
    "hard_negative_mining",
    "token_fertility_report",
    "triplet_margin_eval",
    "gopher_rules_docs",
    "kmeans_cells_report",
    "span_corruption_plan",
    "length_psi_drift",
    "boilerplate_prefixes",
    "length_mad_outliers",
    "volume_anomaly_days",
    "pmi_collocations",
    "weighted_sample_sources",
    "lsh_band_recall_sweep",
    "redact_pii_docs",
]


def _ordered() -> list[str]:
    seen = set(_PRIORITY)
    rest = [k for k in CATALOG if k not in seen]
    with_oracle = [k for k in rest if CATALOG[k].oracle_sql is not None]
    rows_only = [k for k in rest if CATALOG[k].oracle_sql is None]
    front = list(dict.fromkeys(k for k in _PRIORITY if k in CATALOG))
    return front + with_oracle + rows_only


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the top-senders aggregate —
    the backbone join+agg of every reference view (SURVEY.md §7 phase 1)."""
    return CATALOG["agg_senders"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: CATALOG[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: CATALOG[name].oracle_sql
        for name in _ordered()
        if CATALOG[name].oracle_sql is not None
    }
