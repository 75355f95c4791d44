"""AUTO-GENERATED by scripts/gen_status.py — do not edit.

The driver-sample head, computed from the CORRECTNESS_r*.json
history by rotationlib.priority_order (never-green first, then
gen_status.CHANGED_THIS_ROUND, then oldest-green-first).
Regenerate with: python scripts/gen_status.py
"""

PRIORITY_50 = [
    'ann_beam_search_served',  # changed
    'i11_stored_grid_probe',  # changed
    'i11_stored_index_probe',  # changed
    'i11_stored_ivf_probe',  # changed
    'knn_dispatch_grid',  # changed
    'knn_dispatch_lsh',  # changed
    's19_store_time_travel',  # changed
    's20_store_vacuum',  # changed
    's21_store_compaction',  # changed
    's23_store_clone',  # changed
    's24_store_version_diff',  # changed
    's25_store_restore',  # changed
    's26_store_incremental_read',  # changed
    'stream_cdc_upserts',  # changed
    'stream_click_purchase_join',  # changed
    'stream_dataset_manifest',  # changed
    'stream_decontamination',  # changed
    'stream_dedup_events',  # changed
    'stream_embed_pending',  # changed
    'stream_index_maintenance',  # changed
    'stream_ingestion_dedup',  # changed
    'stream_ivf_maintenance',  # changed
    'stream_ivf_refit',  # changed
    'stream_ivf_refit_served',  # changed
    'stream_ivm_label_stats',  # changed
    'stream_knn_graph_maintenance',  # changed
    'stream_knn_queries',  # changed
    'stream_late_data_audit',  # changed
    'stream_quality_resample',  # changed
    'stream_quantile_histogram',  # changed
    'stream_session_windows',  # changed
    'stream_sliding_event_counts',  # changed
    'stream_stateful_user_totals',  # changed
    'stream_windowed_event_counts',  # changed
    'sketch_countmin_event_types',  # r11
    'startup_rebuild_report',  # r11
    'text_bpe_token_estimate',  # r11
    'text_curation_funnel',  # r11
    'text_fingerprints',  # r11
    'text_language_summary',  # r11
    'text_quality_scores',  # r11
    'text_stratified_sample',  # r11
    'ann_blocked_pair_recall',  # r12
    'ann_cluster_silhouette',  # r12
    'ann_index_recall_report',  # r12
    'ann_ivfpq_topk',  # r12
    'ann_knn_join',  # r12
    'ann_knn_join_salted',  # r12
    'ann_matryoshka_recall',  # r12
    'ann_pq_topk',  # r12
]
