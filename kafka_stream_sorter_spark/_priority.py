"""GENERATED by scripts/gen_priority.py — do not hand-edit.

Registry order consumed by registry.py: queries changed this round
first, then oldest-newest-green first (driver prefix = first 50).
Derived from CORRECTNESS_r*.json through round 17.
"""

from __future__ import annotations

LATEST_ROUND = 17
CHANGED: list[str] = ['keyed_fanout', 'keyed_fanout_pair', 'keyed_fanout_name', 'keyed_fanout_score', 'keyed_fanout_ts', 'keyed_fanout_unique', 'keyed_fanout_url']

PRIORITY: list[str] = [
    'keyed_fanout',  # newest green: r17
    'keyed_fanout_pair',  # newest green: r17
    'keyed_fanout_name',  # newest green: r17
    'keyed_fanout_score',  # newest green: r17
    'keyed_fanout_ts',  # newest green: r17
    'keyed_fanout_unique',  # newest green: r17
    'keyed_fanout_url',  # newest green: r17
    'sort_multikey_nulls',  # newest green: r15
    'sample_hash_split',  # newest green: r15
    'sample_stratified',  # newest green: r15
    'window_rank',  # newest green: r15
    'set_except',  # newest green: r15
    'tpch_q2_min_price',  # newest green: r15
    'tpch_q4_exists',  # newest green: r15
    'tpch_q5_region',  # newest green: r15
    'tpch_q7_volume',  # newest green: r15
    'tpch_q8_market_share',  # newest green: r15
    'tpch_q9_profit',  # newest green: r15
    'tpch_q10_returns',  # newest green: r15
    'tpch_q11_value_parts',  # newest green: r15
    'tpch_q12_late_priority',  # newest green: r15
    'tpch_q13_custdist',  # newest green: r15
    'tpch_q14_promo',  # newest green: r15
    'tpch_q15_top_supplier',  # newest green: r15
    'tpch_q16_supplier_cnt',  # newest green: r15
    'tpch_q17_small_qty',  # newest green: r15
    'tpch_q18_large_orders',  # newest green: r15
    'tpch_q19_disjunctive',  # newest green: r15
    'tpch_q20_excess_share',  # newest green: r15
    'tpch_q21_waiting',  # newest green: r15
    'tpch_q22_idle_balance',  # newest green: r15
    'window_sessionize',  # newest green: r15
    'window_range_frame',  # newest green: r15
    'window_distribution',  # newest green: r15
    'topk_paged',  # newest green: r15
    'agg_histogram',  # newest green: r15
    'agg_salted_skew',  # newest green: r15
    'scalar_string',  # newest green: r15
    'scalar_date',  # newest green: r15
    'scalar_math',  # newest green: r15
    'scalar_json',  # newest green: r15
    'scalar_array_struct',  # newest green: r15
    'udf_scalar_pandas',  # newest green: r15
    'unpivot_melt',  # newest green: r15
    'sql_interface',  # newest green: r15
    'agg_time_bucket',  # newest green: r15
    'join_fuzzy_levenshtein',  # newest green: r15
    'ann_ivf_kmeans',  # newest green: r16
    'ann_lsh_hyperplane',  # newest green: r16
    'ann_lsh_multiprobe',  # newest green: r16
    'dedup_embedding',  # newest green: r16
    'ann_knn_join',  # newest green: r16
    'agg_quantiles_approx',  # newest green: r16
    'udf_grouped_regression',  # newest green: r16
    'udf_grouped_regression_pandas',  # newest green: r16
    'join_interval_overlap',  # newest green: r16
    'join_asof',  # newest green: r16
    'join_interval_bucketed',  # newest green: r16
    'filter_project',  # newest green: r16
    'agg_tpch_q1',  # newest green: r16
    'tpch_q6',  # newest green: r16
    'tpch_q3_topk',  # newest green: r16
    'join_broadcast',  # newest green: r16
    'join_sortmerge',  # newest green: r16
    'join_multiway',  # newest green: r16
    'join_semi',  # newest green: r16
    'join_anti',  # newest green: r16
    'agg_distinct',  # newest green: r16
    'agg_rollup',  # newest green: r16
    'agg_cube',  # newest green: r16
    'agg_stats',  # newest green: r16
    'agg_pivot',  # newest green: r16
    'set_union',  # newest green: r16
    'set_intersect',  # newest green: r16
    'dedup_exact_hash',  # newest green: r16
    'multimodal_meta',  # newest green: r16
    'multimodal_resize',  # newest green: r16
    'multimodal_byte_hist',  # newest green: r16
    'multimodal_frames',  # newest green: r16
    'ann_bruteforce',  # newest green: r16
    'ann_vectorized',  # newest green: r16
    'ann_ivf_blocked',  # newest green: r16
    'csv_wire_roundtrip',  # newest green: r17
    'dedup_connected_groups',  # newest green: r17
    'dedup_jaccard',  # newest green: r17
    'dedup_minhash_groups',  # newest green: r17
    'dedup_minhash_lsh',  # newest green: r17
    'dedup_minhash_sig',  # newest green: r17
    'dedup_ngram_jaccard',  # newest green: r17
    'dedup_simhash',  # newest green: r17
    'doc_fingerprint',  # newest green: r17
    'sort_low_cardinality',  # newest green: r17
    'stream_cdc_upsert',  # newest green: r17
    'stream_dedup_keys',  # newest green: r17
    'stream_session_window',  # newest green: r17
    'stream_sorted_drain',  # newest green: r17
    'stream_stateful_user_stats',  # newest green: r17
    'stream_static_join',  # newest green: r17
    'stream_stream_interval_join',  # newest green: r17
    'stream_topk',  # newest green: r17
    'stream_window_sliding',  # newest green: r17
    'stream_window_tumbling',  # newest green: r17
    'text_bpe_tokens',  # newest green: r17
    'text_langid',  # newest green: r17
    'text_pii_scrub',  # newest green: r17
    'text_quality',  # newest green: r17
    'text_repetition',  # newest green: r17
    'text_token_freq',  # newest green: r17
    'text_tokens',  # newest green: r17
    'udtf_tokenize',  # newest green: r17
    'text_chunk_windows',  # newest green: r17
    'pipeline_quality_dedup_split',  # newest green: r17
    'csv_file_roundtrip',  # newest green: r17
    'jsonl_file_roundtrip',  # newest green: r17
    'dedup_exact',  # newest green: r17
    'window_analytic',  # newest green: r17
    'agg_quantiles',  # newest green: r17
    'agg_approx_distinct',  # newest green: r17
    'agg_grouping_sets',  # newest green: r17
    'join_left_outer',  # newest green: r17
    'join_full_outer',  # newest green: r17
    'join_null_safe',  # newest green: r17
    'sort_numeric',  # newest green: r17
    'sort_lexicographic',  # newest green: r17
    'topk',  # newest green: r17
]
