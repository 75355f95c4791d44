"""AUTO-GENERATED by scripts/gen_status.py — do not edit.

The driver-sample head, computed from the CORRECTNESS_r*.json
history by rotationlib.priority_order (never-green first, then
gen_status.CHANGED_THIS_ROUND, then oldest-green-first).
Regenerate with: python scripts/gen_status.py
"""

PRIORITY_50 = [
    'ann_blocked_pair_recall',  # changed
    'ann_cluster_silhouette',  # changed
    'ann_ivf_balance_audit',  # changed
    'ann_ivf_filtered',  # changed
    'ann_ivf_list_split',  # changed
    'ann_ivf_multi_query',  # changed
    'ann_ivf_nprobe_autotune',  # changed
    'ann_ivf_recall_sweep',  # changed
    'ann_ivfpq_rerank_sweep',  # changed
    'ann_ivfpq_residual_topk',  # changed
    'ann_ivfpq_topk',  # changed
    'ann_pq_topk',  # changed
    'ann_product_quantize',  # changed
    'ann_refit_recall_gain',  # changed
    'dedup_semantic_keep',  # changed
    'mllib_ivf_kmeans_topk',  # changed
    'p2_conjunctive_filter',  # changed
    'p3_json_filter',  # changed
    'rel_asof_purchase_click',  # changed
    'rel_conversion_funnel',  # changed
    'rel_event_funnel',  # changed
    'rel_event_transitions',  # changed
    'rel_events_daily_rollup',  # changed
    'rel_events_hourly',  # changed
    'rel_events_json_stats',  # changed
    'rel_interarrival_stats',  # changed
    'rel_moving_avg_value',  # changed
    'rel_range_join_context',  # changed
    'rel_salted_user_counts',  # changed
    'rel_scd2_user_history',  # changed
    'rel_sessionize_events',  # changed
    'rel_sliding_1h_sum',  # changed
    'rel_temporal_tier_join',  # changed
    'rel_user_day_retention',  # changed
    'rel_user_running_totals',  # changed
    'rel_value_deciles',  # changed
    'rel_value_outliers',  # changed
    'rel_value_percentiles',  # changed
    's18_orc_file_roundtrip',  # changed
    's4_scan_by_parent',  # changed
    'sketch_bloom_membership',  # changed
    'sketch_countmin_event_types',  # changed
    'sketch_countmin_merge',  # changed
    'sketch_hll_by_event_type',  # changed
    'sketch_hll_distinct_users',  # changed
    'sketch_hll_intersection',  # changed
    'sketch_hll_merge',  # changed
    'sketch_kmv_merge',  # changed
    'sketch_kmv_overlap',  # changed
    'sketch_quantile_histogram',  # changed
]
