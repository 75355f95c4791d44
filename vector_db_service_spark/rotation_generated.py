"""AUTO-GENERATED by scripts/gen_status.py — do not edit.

The driver-sample head, computed from the CORRECTNESS_r*.json
history by rotationlib.priority_order (never-green first, then
the oldest-green rows the staleness ceiling needs, then
rotation_changed.CHANGED_THIS_ROUND, then oldest-green-first).
Regenerate with: python scripts/gen_status.py
"""

PRIORITY_50 = [
    'i11_stored_grid_probe',  # changed
    'i11_stored_index_probe',  # changed
    'i11_stored_ivf_probe',  # changed
    'knn_dispatch_flat',  # changed
    'knn_dispatch_grid',  # changed
    'knn_dispatch_lsh',  # changed
    'knn_flat_cosine',  # changed
    'knn_flat_cosine_library',  # changed
    'knn_flat_dot_product',  # changed
    'knn_flat_euclidean',  # changed
    'knn_flat_manhattan',  # changed
    'knn_grid_euclidean',  # changed
    'knn_lsh_cosine',  # changed
    'knn_range_search',  # changed
    'knn_safe_flat',  # changed
    'knn_search_hydrated',  # changed
    'mllib_ivf_kmeans_topk',  # changed
    'obs_search_meta',  # changed
    'obs_timed_search',  # changed
    't5_k_exceeds_n',  # changed
    'sketch_countmin_event_types',  # r11
    'startup_rebuild_report',  # r11
    'stream_dedup_events',  # r11
    'stream_sliding_event_counts',  # r11
    'stream_windowed_event_counts',  # r11
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
    'dedup_embedding_pairs',  # r12
    'dedup_exact_keep_first',  # r12
    'dedup_lsh_tuning_curve',  # r12
    'dedup_minhash_signatures',  # r12
    'dedup_paragraphs',  # r12
    'dedup_semantic_keep',  # r12
    'dedup_simhash_fingerprints',  # r12
    'dedup_substring_spans',  # r12
    'dedup_winnowing_fingerprints',  # r12
    'lsh_bucket_stats',  # r12
    'lsh_signatures',  # r12
]
