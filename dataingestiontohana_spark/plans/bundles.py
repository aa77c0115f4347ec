"""Driver-facing consolidated query registry.

The external correctness harness adjudicates at most ~50 registry
entries per round, while the engine declares 72+ fine-grained queries
(plans/*.QUERIES). To keep EVERY query inside the adjudicated window,
closely-related queries are exported as *bundles*: the union of each
part's result, tagged with a ``part`` column and normalized onto a
typed slot schema. The oracle of a bundle is the UNION ALL of the
parts' oracles wrapped in the identical normalization, so a bundle
row-count/schema/value-hash match verifies every constituent query
exactly as strictly as before — nothing is sampled or summarized,
every row of every part is still compared.

Slot normalization (both sides, by the part's recorded Spark schema):
- strings & dates        -> s1..sN  (cast to string; dates are ISO)
- timestamps             -> s-slot via second-precision strftime
  (identical formatting in Spark ``date_format`` and DuckDB
  ``strftime``; sub-second data truncates identically on both sides)
- doubles/floats/decimals-> d1..dN (kept as DOUBLE — the harness's
  double comparison stays in effect; stringifying would destroy its
  tolerance for last-ulp aggregation-order differences)
- ints/bigints/booleans  -> i1..iN (cast to BIGINT)
Missing slots pad with typed NULLs. Column order inside a part is the
declared output order, so the slot assignment is deterministic and
identical in the Spark and SQL wrappers.

Fine-grained queries remain individually tested against their own
oracles in pytest (tests/test_oracle_queries.py) — bundles are the
transport format for the external gate, not a replacement surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark import plans as _plans

QueryFn = Callable[[SparkSession, str], DataFrame]

# Recorded output schema of every bundled fine query (name, sparkType).
# Guarded by tests/test_bundles.py: drift here fails fast.
FINE_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "q04_date_math": [
        ("l_orderkey", "bigint"), ("l_linenumber", "int"),
        ("d", "date"), ("net", "double"),
    ],
    "q68_datetime_functions": [
        ("o_orderkey", "bigint"), ("y", "int"), ("m", "int"), ("q", "int"),
        ("eom", "date"), ("plus30", "date"), ("since", "int"),
    ],
    "q12_rollup": [
        ("n_regionkey", "int"), ("n_nationkey", "int"), ("c", "bigint"),
    ],
    "q13_cube": [
        ("l_returnflag", "string"), ("l_linestatus", "string"), ("c", "bigint"),
    ],
    "q49_grouping_sets": [
        ("o_orderstatus", "string"), ("o_orderpriority", "string"),
        ("c", "bigint"),
    ],
    "q15_lag": [
        ("user_id", "bigint"), ("event_id", "bigint"),
        ("value", "double"), ("delta", "double"),
    ],
    "q50_first_last_window": [
        ("l_orderkey", "bigint"), ("l_linenumber", "int"),
        ("l_partkey", "bigint"), ("first_part", "bigint"),
        ("last_part", "bigint"),
    ],
    "q17_set_ops": [("k", "int")],
    "q41_set_ops_all": [("k", "int"), ("cnt", "bigint")],
    "q42_pivot": [
        ("o_orderpriority", "string"), ("F", "bigint"), ("O", "bigint"),
        ("P", "bigint"),
    ],
    "q43_unpivot": [
        ("p_partkey", "bigint"), ("measure", "string"), ("val", "double"),
    ],
    "q44_asof_join": [("event_id", "bigint"), ("last_order_date", "timestamp")],
    "q45_range_join": [("band", "string"), ("c", "bigint"), ("sv", "double")],
    "q46_percentiles": [
        ("o_orderstatus", "string"), ("p50", "double"), ("p90", "double"),
    ],
    "q60_ntile_buckets": [
        ("bucket", "int"), ("n", "bigint"), ("lo", "double"), ("hi", "double"),
    ],
    "q62_rank_dist": [
        ("o_orderkey", "bigint"), ("o_orderstatus", "string"),
        ("pr", "double"), ("cd", "double"),
    ],
    "q100_linear_trend": [
        ("event_type", "string"), ("n", "bigint"),
        ("slope_q4_per_hour", "double"), ("intercept_q4", "double"),
    ],
    "q101_mad_outliers": [
        ("event_type", "string"), ("n", "bigint"), ("med", "double"),
        ("mad", "double"), ("outliers", "bigint"),
    ],
    "q21_lang_stats": [
        ("lang", "string"), ("docs", "bigint"), ("avg_chars", "double"),
    ],
    "q27_lang_id": [("pred_lang", "string"), ("docs", "bigint")],
    "q85_hash_embed": [
        ("doc_id", "bigint"), ("dim", "int"), ("v", "bigint"),
    ],
    "q110_unigram_surprise": [
        ("doc_id", "bigint"), ("n_tokens", "bigint"),
        ("lp_sum_q6", "bigint"), ("avg_lp", "double"), ("ppl", "double"),
    ],
    "q154_naive_bayes": [
        ("actual_lang", "string"), ("pred_lang", "string"),
        ("n", "bigint"),
    ],
    "q224_nfc_audit": [
        ("is_nfc", "boolean"), ("n_docs", "bigint"),
        ("n_chars_nfc", "bigint"), ("chars_saved", "bigint"),
    ],
    "q111_source_entropy": [
        ("source", "string"), ("types", "bigint"), ("n_tokens", "bigint"),
        ("ent_sum_q6", "bigint"), ("entropy", "double"),
        ("h_norm", "double"),
    ],
    "q112_weighted_sample": [
        ("source", "string"), ("kept_docs", "bigint"),
        ("kept_chars", "bigint"), ("avg_kept_chars", "double"),
    ],
    "q113_shingle_novelty": [
        ("doc_id", "bigint"), ("n_shingles", "bigint"),
        ("uniq_shingles", "bigint"), ("novelty", "double"),
    ],
    "q114_cusum_changepoint": [
        ("event_type", "string"), ("n_hours", "bigint"),
        ("n_events", "bigint"), ("cp_hour", "bigint"),
        ("s_max", "bigint"), ("shift_score", "double"),
    ],
    "q115_theil_sen": [
        ("event_type", "string"), ("n_pairs", "bigint"),
        ("ts_slope_per_hour", "double"),
    ],
    "q117_last_touch_attribution": [
        ("d", "string"), ("purchases", "bigint"), ("attributed", "bigint"),
        ("lag_sum_sec", "bigint"), ("avg_lag_min", "double"),
    ],
    "q118_k_anonymity": [
        ("class_size", "bigint"), ("n_groups", "bigint"),
        ("n_rows", "bigint"), ("at_risk_k5", "bigint"),
    ],
    "q119_debounce_dedup": [
        ("event_type", "string"), ("total", "bigint"), ("dropped", "bigint"),
        ("kept", "bigint"), ("drop_pct", "double"),
    ],
    "q120_incremental_agg": [
        ("o_orderstatus", "string"), ("n_orders", "bigint"),
        ("sum_cents", "bigint"), ("avg_price", "double"),
    ],
    "q121_key_skew_audit": [
        ("key_name", "string"), ("n_keys", "bigint"),
        ("total_rows", "bigint"), ("top1_rows", "bigint"),
        ("top10_rows", "bigint"), ("gini", "double"),
    ],
    "q122_range_frame_rolling": [
        ("event_id", "bigint"), ("user_id", "bigint"),
        ("roll_n", "bigint"), ("roll_cents", "bigint"),
    ],
    "q123_referential_integrity": [
        ("fk_name", "string"), ("child_rows", "bigint"),
        ("child_keys", "bigint"), ("orphan_keys", "bigint"),
        ("orphan_rows", "bigint"),
    ],
    "q65_sketch_audit": [
        ("n_rows", "bigint"), ("exact_distinct", "bigint"),
        ("exact_p50", "double"), ("exact_p99", "double"),
        ("distinct_ok", "bigint"), ("p50_ok", "bigint"),
        ("p99_ok", "bigint"),
    ],
    "q124_histogram_quantiles": [
        ("q_label", "string"), ("n", "bigint"), ("rank_t", "bigint"),
        ("bin", "bigint"), ("est_lo", "double"),
    ],
    "q14_topk_per_group": [
        ("o_custkey", "bigint"), ("o_orderkey", "bigint"), ("rn", "int"),
    ],
    "q125_basket_pairs": [
        ("pa", "bigint"), ("pb", "bigint"), ("c_ab", "bigint"),
        ("c_a", "bigint"), ("c_b", "bigint"), ("lift", "double"),
    ],
    "q126_time_weighted_avg": [
        ("event_type", "string"), ("n_intervals", "bigint"),
        ("w_sum_sec", "bigint"), ("vw_sum", "bigint"), ("twap", "double"),
    ],
    "q127_rolling_hll_users": [
        ("d", "bigint"), ("v_empty", "bigint"), ("s_scaled", "bigint"),
        ("est", "double"), ("exact_u", "bigint"), ("err_pct", "double"),
    ],
    "q128_benford_audit": [
        ("digit", "string"), ("n", "bigint"), ("total", "bigint"),
        ("pct", "double"), ("benford_pct", "double"), ("dev_pct", "double"),
    ],
    "q129_feed_freshness": [
        ("event_type", "string"), ("n_gaps", "bigint"),
        ("max_gap_sec", "bigint"), ("gaps_over_1h", "bigint"),
        ("avg_gap_sec", "double"), ("last_seen", "string"),
    ],
    "q130_token_budget_fill": [
        ("source", "string"), ("kept_docs", "bigint"),
        ("kept_chars", "bigint"), ("budget_chars", "bigint"),
        ("fill_pct", "double"),
    ],
    "q05_inner_join": [
        ("c_custkey", "bigint"), ("c_name", "string"), ("n_name", "string"),
    ],
    "q131_nullsafe_join": [
        ("label", "string"), ("n", "bigint"), ("bal_cents", "bigint"),
        ("share_pct", "double"),
    ],
    "q132_activity_islands": [
        ("longest", "bigint"), ("n_users", "bigint"),
    ],
    "q133_rolling_anomaly": [
        ("event_type", "string"), ("d", "bigint"), ("x", "bigint"),
        ("base_mean", "double"), ("n", "bigint"),
    ],
    "q134_wow_growth": [
        ("event_type", "string"), ("wk", "bigint"), ("n", "bigint"),
        ("v_cents", "bigint"), ("prev_n", "bigint"),
        ("growth_pct", "double"),
    ],
    "q135_weighted_median": [
        ("l_returnflag", "string"), ("total_weight", "bigint"),
        ("med_cents", "bigint"), ("weighted_median_price", "double"),
    ],
    "q136_snapshot_diff": [
        ("n_added", "bigint"), ("n_removed", "bigint"),
        ("n_changed", "bigint"), ("n_same", "bigint"),
    ],
    "q137_hierarchy_rollup": [
        ("node", "bigint"), ("subtree_users", "bigint"),
        ("subtree_events", "bigint"),
    ],
    "q138_trimmed_mean": [
        ("o_orderstatus", "string"), ("n", "bigint"),
        ("k_trimmed", "bigint"), ("kept", "bigint"),
        ("sum_cents", "bigint"), ("trimmed_mean", "double"),
    ],
    "q139_new_vs_returning": [
        ("d", "bigint"), ("active_users", "bigint"),
        ("new_users", "bigint"), ("returning_users", "bigint"),
        ("cum_known_users", "bigint"),
    ],
    "q140_pareto_frontier": [
        ("o_orderstatus", "string"), ("d", "bigint"),
        ("day_max", "bigint"), ("prev_record", "bigint"),
    ],
    "q66_dedup_clusters": [
        ("cluster_size", "bigint"), ("n_clusters", "bigint"),
    ],
    "q141_triangle_count": [
        ("n_nodes", "bigint"), ("n_edges", "bigint"),
        ("n_triangles", "bigint"), ("n_wedges", "bigint"),
        ("gcc", "double"),
    ],
    "q148_local_clustering": [
        ("node", "bigint"), ("deg", "bigint"), ("t", "bigint"),
        ("lcc", "double"),
    ],
    "q142_golden_record": [
        ("o_custkey", "bigint"), ("n_obs", "bigint"),
        ("first_seen", "string"), ("last_seen", "string"),
        ("last_status", "string"), ("last_f_priority", "string"),
        ("total_cents", "bigint"), ("max_single_cents", "bigint"),
    ],
    "q143_temperature_mix": [
        ("lang", "string"), ("c_docs", "bigint"), ("w_q", "bigint"),
        ("target_docs", "bigint"), ("kept_docs", "bigint"),
        ("kept_chars", "bigint"), ("fill_pct", "double"),
    ],
    "q144_journey_trigrams": [
        ("t1", "string"), ("t2", "string"), ("t3", "string"),
        ("n", "bigint"), ("users", "bigint"),
    ],
    "q145_seasonal_anomaly": [
        ("event_type", "string"), ("hod", "int"), ("n_d", "bigint"),
        ("tot", "bigint"), ("mu", "double"), ("n_anom", "bigint"),
        ("max_anom_x", "bigint"),
    ],
    "q146_fulfillment_latency": [
        ("prio", "string"), ("n_orders", "bigint"), ("p50_days", "bigint"),
        ("p90_days", "bigint"), ("p99_days", "bigint"),
        ("avg_days", "double"),
    ],
    "q147_decile_lift": [
        ("decile", "int"), ("users", "bigint"), ("buyers", "bigint"),
        ("eng_cents", "bigint"), ("buy_rate", "double"),
        ("cum_lift", "double"),
    ],
    "q149_mutual_information": [
        ("event_type", "string"), ("n_x", "bigint"), ("cells", "bigint"),
        ("mi_part_q6", "bigint"), ("mi_part", "double"),
    ],
    "q150_business_day_sla": [
        ("prio", "string"), ("n_orders", "bigint"),
        ("avg_bdays", "double"), ("breaches", "bigint"),
        ("breach_pct", "double"),
    ],
    "q151_hub_strength": [
        ("node", "bigint"), ("deg", "bigint"), ("strength", "bigint"),
        ("avg_w", "double"),
    ],
    "q152_time_to_convert": [
        ("converted_users", "bigint"), ("p50_hours", "bigint"),
        ("p90_hours", "bigint"), ("avg_hours", "double"),
    ],
    "q153_multitouch_attribution": [
        ("event_type", "string"), ("credit_q6", "bigint"),
        ("credit", "double"), ("total_purchases", "bigint"),
        ("orphan_purchases", "bigint"),
    ],
    "q116_mmr_diversify": [
        ("sel_order", "int"), ("vec_id", "bigint"), ("rel", "bigint"),
        ("maxsim", "bigint"), ("score", "bigint"),
    ],
    "q52_observe_audit": [("lang", "string"), ("docs", "bigint")],
    "q25_token_stats": [
        ("source", "string"), ("docs", "bigint"),
        ("total_tokens", "bigint"), ("avg_tokens", "double"),
    ],
    "q51_bpe_token_stats": [
        ("source", "string"), ("docs", "bigint"),
        ("total_bpe", "bigint"), ("avg_bpe", "double"),
    ],
    "q61_token_topk": [("tok", "string"), ("c", "bigint")],
    "q61b_vocab_sketch_audit": [
        ("tok", "string"), ("c", "bigint"), ("sketch_ok", "bigint"),
    ],
    "q77_chunk_windows": [
        ("doc_id", "bigint"), ("chunk_id", "int"),
        ("n_tokens", "int"), ("chunk_fp", "string"),
    ],
    "q78_pack_chunks": [
        ("bucket", "int"), ("pack_id", "int"), ("n_chunks", "int"),
        ("n_tokens", "bigint"), ("fill", "double"),
    ],
    "q26_quality_score": [
        ("doc_id", "bigint"), ("n_tokens", "int"), ("quality", "double"),
    ],
    "q91_token_rarity": [
        ("doc_id", "bigint"), ("n_tokens", "bigint"), ("freq_sum", "bigint"),
        ("min_freq", "bigint"), ("rare_tokens", "bigint"),
        ("rare_frac", "double"),
    ],
    "q28_fingerprint": [
        ("fp", "string"), ("canonical_id", "bigint"), ("n_copies", "bigint"),
    ],
    "q79_pii_redaction": [
        ("source", "string"), ("emails", "bigint"), ("ips", "bigint"),
        ("phones", "bigint"), ("corpus_fp", "string"),
    ],
    "q80_bm25_topk": [("doc_id", "bigint"), ("bm25", "double")],
    "q22_exact_dedup_count": [("total", "bigint"), ("uniq", "bigint")],
    "q29_exact_dedup": [("doc_id", "bigint"), ("n_copies", "bigint")],
    "q23a_label_counts": [("label", "int"), ("n", "bigint")],
    "q23b_vec_dims": [("vec_id", "bigint")],
    "q33_cosine_topk": [("vec_id", "bigint"), ("cos_sim", "double")],
    "q87_random_projection": [
        ("vec_id", "bigint"), ("dim", "int"), ("p", "double"),
    ],
    "q34_knn_per_label": [
        ("label_a", "int"), ("label_b", "int"), ("cos_sim", "double"),
    ],
    "q63_label_centroids": [
        ("label", "int"), ("dim", "int"), ("c", "double"),
    ],
    "q64_centroid_outliers": [
        ("label", "int"), ("vec_id", "bigint"), ("cos_c", "double"),
    ],
    "q67_vector_stats": [
        ("vec_id", "bigint"), ("l2_norm", "double"), ("n_pos", "int"),
        ("has_big", "int"), ("frac_small", "double"),
    ],
    "q83_kmeans": [
        ("cluster_id", "int"), ("n", "bigint"), ("cnorm_q", "bigint"),
    ],
    "q90_semantic_dedup": [
        ("cluster_id", "int"), ("id_a", "bigint"), ("id_b", "bigint"),
        ("cos_sim", "double"), ("reject", "bigint"),
    ],
    "q53_merge_upsert": [
        ("c_custkey", "bigint"), ("bal", "double"), ("c_mktsegment", "string"),
    ],
    "q54_scd2": [
        ("c_custkey", "bigint"), ("bal", "double"),
        ("valid_from", "timestamp"), ("valid_to", "timestamp"),
        ("is_current", "boolean"),
    ],
    "q55_udaf_geomean": [("o_orderstatus", "string"), ("gm", "double")],
    "q56_group_normalize": [
        ("o_orderkey", "bigint"), ("o_orderstatus", "string"), ("z", "double"),
    ],
    "q57_hash_split": [
        ("split", "string"), ("docs", "bigint"),
        ("total_chars", "bigint"), ("avg_chars", "double"),
    ],
    "q58_stratified_sample": [
        ("lang", "string"), ("sampled_docs", "bigint"), ("avg_chars", "double"),
    ],
    "q59_dataset_mix": [
        ("source", "string"), ("kept_docs", "bigint"), ("kept_chars", "bigint"),
    ],
    "q102_dist_drift": [
        ("bin", "int"), ("c_a", "bigint"), ("c_b", "bigint"),
        ("cum_a", "bigint"), ("cum_b", "bigint"), ("ks", "double"),
        ("psi", "double"),
    ],
    "q103_chi2_independence": [
        ("event_type", "string"), ("c_a", "bigint"), ("c_b", "bigint"),
        ("chi2", "double"), ("dof", "bigint"),
        ("reject_independence", "bigint"),
    ],
    "q32_ngram_jaccard": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("inter", "bigint"),
        ("uni", "bigint"), ("jaccard", "double"),
    ],
    "q70_split_contamination": [
        ("doc_id", "bigint"), ("n_shared_shingles", "bigint"),
    ],
    "q89_substring_dup": [
        ("doc_id", "bigint"), ("n_windows", "bigint"),
        ("dup_windows", "bigint"), ("dup_frac", "double"),
    ],
    "q92_segment_dedup": [
        ("source", "string"), ("docs", "bigint"), ("segments", "bigint"),
        ("removed_segments", "bigint"), ("removed_tokens", "bigint"),
        ("corpus_fp", "string"),
    ],
    "q201_mixture_weights": [
        ("source", "string"), ("n_docs", "bigint"), ("n_tokens", "bigint"),
        ("nat_share", "double"), ("temp_weight", "double"),
        ("eff_epochs", "double"),
    ],
    "q202_hash_split": [
        ("split", "string"), ("n_docs", "bigint"), ("n_tokens", "bigint"),
        ("n_langs", "bigint"), ("n_sources", "bigint"),
    ],
    "q203_split_leakage": [
        ("split_lo", "string"), ("split_hi", "string"),
        ("n_pairs", "bigint"),
    ],
    "q93_gopher_rules": [
        ("source", "string"), ("docs", "bigint"),
        ("pass_wordcount", "bigint"), ("pass_meanlen", "bigint"),
        ("pass_symbol", "bigint"), ("pass_alpha", "bigint"),
        ("pass_stop", "bigint"), ("pass_all", "bigint"),
    ],
    "q105_pmi_bigrams": [
        ("w1", "string"), ("w2", "string"), ("c_xy", "bigint"),
        ("c_x", "bigint"), ("c_y", "bigint"), ("pmi", "double"),
    ],
    "q108_textrank": [
        ("tok", "string"), ("freq", "bigint"), ("degree", "int"),
        ("w_sum", "bigint"), ("rank_fp", "bigint"), ("rank", "double"),
    ],
    "q75_tfidf_doc_scores": [
        ("doc_id", "bigint"), ("tfidf_sum", "double"),
    ],
    "q109_rrf_fusion": [
        ("doc_id", "bigint"), ("ra", "int"), ("rb", "int"),
        ("rrf", "double"),
    ],
    "q47_sessionize": [
        ("user_id", "bigint"), ("n_sessions", "bigint"),
        ("n_events", "bigint"),
    ],
    "q106_markov_transitions": [
        ("src", "string"), ("dst", "string"), ("cnt", "bigint"),
        ("src_total", "bigint"), ("prob", "double"),
    ],
    "q107_hourly_autocorr": [
        ("event_type", "string"), ("pairs", "bigint"),
        ("sum_x", "bigint"), ("r1", "double"),
    ],
    "q94_cms_heavy_hitters": [
        ("w", "string"), ("exact_cnt", "bigint"), ("cms_est", "bigint"),
        ("over_cnt", "bigint"), ("no_underest", "bigint"),
    ],
    "q104_hll_cardinality": [
        ("bucket", "int"), ("reg", "int"), ("v_empty", "bigint"),
        ("s_scaled", "bigint"), ("est", "double"),
        ("exact_distinct", "bigint"), ("err_pct", "double"),
    ],
    "q95_bloom_decontaminate": [
        ("doc_id", "bigint"), ("n_shingles", "bigint"),
        ("bloom_hits", "bigint"), ("exact_hits", "bigint"),
        ("false_pos", "bigint"), ("no_false_neg", "bigint"),
    ],
    "q30_minhash_near_dup": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("jaccard_sig", "double"),
    ],
    "q31_simhash_clusters": [("id_a", "bigint"), ("id_b", "bigint")],
    "q35_ann_lsh": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("cos_sim", "double"),
    ],
    "q36b_ivf_topk": [
        ("vec_id", "bigint"), ("cluster_id", "int"), ("cos_sim", "double"),
    ],
    "q36c_ivf_batch_topk": [
        ("query_id", "bigint"), ("vec_id", "bigint"),
        ("cos_sim", "double"), ("rank", "int"),
    ],
    "q96_pq_topk": [
        ("vec_id", "bigint"), ("pq_dist", "bigint"),
        ("exact_dist", "bigint"),
    ],
    "q37_media_decode": [
        ("media_id", "bigint"), ("kind", "int"), ("width", "int"),
        ("height", "int"), ("n_frames", "int"), ("n_bytes", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q38_frame_sample": [
        ("media_id", "bigint"), ("frame_idx", "int"),
        ("frame_px_sum", "bigint"),
    ],
    "q37b_media_resize": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_bytes", "int"), ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q38b_audio_features": [
        ("media_id", "bigint"), ("n_samples", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q81_image_dhash": [("media_id", "bigint"), ("dhash", "string")],
    "q88_png_color": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("channels", "int"), ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q204_jpeg_mosaic": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("channels", "int"), ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q205_wav_native": [
        ("media_id", "bigint"), ("codec", "string"), ("bits", "int"),
        ("n_samples", "int"), ("px_sum", "bigint"),
        ("px_sqsum_hi", "bigint"), ("px_sqsum_lo", "bigint"),
    ],
    "q215_gif_bmp": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q221_gif_frames": [
        ("media_id", "bigint"), ("frame_idx", "int"),
        ("frame_px_sum", "bigint"),
    ],
    "q230_bmp_complete": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q231_jpeg_cmyk": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q232_mov_mjpeg": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q233_mov_frames": [
        ("media_id", "bigint"), ("frame_idx", "int"),
        ("frame_px_sum", "bigint"),
    ],
    "q234_mov_audio": [
        ("media_id", "bigint"), ("codec", "string"),
        ("n_samples", "int"), ("px_sum", "bigint"),
        ("px_sqsum", "bigint"),
    ],
    "q235_apng": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q236_tiff": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q225_avi_mjpeg": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("n_frames", "int"), ("channels", "int"),
        ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q226_avi_frames": [
        ("media_id", "bigint"), ("frame_idx", "int"),
        ("frame_px_sum", "bigint"),
    ],
    "q227_video_dhash": [
        ("media_id", "bigint"), ("frame_idx", "int"),
        ("dhash", "string"),
    ],
    "q228_video_neardup": [
        ("id_a", "bigint"), ("id_b", "bigint"),
        ("n_match", "bigint"), ("n_a", "bigint"), ("n_b", "bigint"),
    ],
    "q229_avi_audio": [
        ("media_id", "bigint"), ("codec", "string"),
        ("n_samples", "int"), ("px_sum", "bigint"),
        ("px_sqsum", "bigint"),
    ],
    "q216_warc_ingest": [
        ("file_id", "bigint"), ("rec_idx", "int"), ("url", "string"),
        ("status", "int"), ("content_type", "string"),
        ("n_payload_bytes", "int"), ("n_body_bytes", "int"),
        ("text", "string"),
    ],
    "q217_url_dedup": [
        ("canonical_url", "string"), ("n_variants", "bigint"),
        ("n_raw", "bigint"),
    ],
    "q223_charset_distribution": [
        ("charset", "string"), ("n_pages", "bigint"),
        ("n_chars", "bigint"),
    ],
    "q222_idn_host": [
        ("ace_host", "string"), ("n_urls", "bigint"),
    ],
    "q218_registrable_domain": [
        ("host", "string"), ("etld", "string"),
        ("reg_domain", "string"), ("n_urls", "bigint"),
    ],
    "q219_robots_filter": [
        ("url", "string"), ("rule_len", "bigint"), ("allowed", "bigint"),
    ],
    "q207_bigram_lm": [
        ("doc_id", "bigint"), ("n_transitions", "bigint"),
        ("n_backoff", "bigint"), ("n_oov", "bigint"),
        ("lp_sum_q6", "bigint"), ("ppl", "double"),
    ],
    "q208_dsir_resample": [
        ("lang", "string"), ("sampled_docs", "bigint"),
        ("sampled_tokens", "bigint"), ("logw_q6_sum", "bigint"),
        ("min_doc_id", "bigint"), ("max_doc_id", "bigint"),
    ],
    "q209_audio_fingerprint": [("media_id", "bigint"), ("ahash", "string")],
    "q211_winnow_fingerprints": [
        ("doc_id", "bigint"), ("n_shingles", "bigint"),
        ("n_fps", "bigint"), ("fp_hash_sum", "bigint"),
    ],
    "q212_winnow_overlap": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("shared_fps", "bigint"),
    ],
    "q213_domain_caps": [
        ("source", "string"), ("kept_docs", "bigint"),
        ("total_docs", "bigint"), ("kept_tokens", "bigint"),
        ("quality_cut", "double"),
    ],
    "q214_html_extract": [
        ("doc_id", "bigint"), ("n_html_chars", "bigint"),
        ("n_extracted_chars", "bigint"), ("recovered", "int"),
        ("junk_leaks", "int"), ("boilerplate_ratio", "double"),
    ],
    "q210_audio_neardup": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("hamming", "int"),
    ],
    "q206_png16_native": [
        ("media_id", "bigint"), ("width", "int"), ("height", "int"),
        ("channels", "int"), ("px_sum", "bigint"), ("px_sqsum", "bigint"),
    ],
    "q82_image_neardup": [
        ("id_a", "bigint"), ("id_b", "bigint"), ("hamming", "int"),
    ],
    "q20_time_bucket": [
        ("h", "timestamp"), ("event_type", "string"), ("c", "bigint"),
        ("sv", "double"),
    ],
    "q84_hypertable_rollup": [
        ("grain", "string"), ("d", "timestamp"), ("h", "timestamp"),
        ("c", "bigint"), ("sv", "double"),
    ],
    "q97_funnel": [
        ("users", "bigint"), ("viewed", "bigint"), ("clicked", "bigint"),
        ("purchased", "bigint"), ("click_rate", "double"),
        ("purchase_rate", "double"),
    ],
    "q98_retention": [
        ("cohort_week", "int"), ("users", "bigint"), ("w0", "bigint"),
        ("w1", "bigint"), ("w2", "bigint"), ("w3", "bigint"),
    ],
    "q99_gapfill_locf": [
        ("event_type", "string"), ("h", "timestamp"), ("obs", "bigint"),
        ("filled_c", "bigint"), ("filled_sv", "double"),
        ("imputed", "bigint"),
    ],
    "q24_ingest_audit": [
        ("n_rows", "bigint"), ("uniq", "bigint"), ("span", "bigint"),
    ],
    "q86_profile": [
        ("col_name", "string"), ("n", "bigint"), ("n_null", "bigint"),
        ("n_distinct", "bigint"), ("min_v", "double"), ("max_v", "double"),
    ],
    "q39_sensor_generate": [
        ("counter", "int"), ("deviceid", "int"), ("temperature", "double"),
        ("humidity", "double"), ("co2", "double"), ("co", "double"),
        ("lpg", "double"), ("smoke", "double"), ("presence", "int"),
        ("light", "double"), ("sound", "double"),
    ],
    "q40_sensor_csv_roundtrip": [
        ("total", "bigint"), ("matched", "bigint"), ("uniq", "bigint"),
        ("span", "int"),
    ],
    "q155_survival_km": [
        ("day", "bigint"), ("d", "bigint"), ("c", "bigint"),
        ("n_risk", "bigint"), ("hazard", "double"),
        ("cum_hazard_q9", "double"),
    ],
    "q156_multiple_regression": [
        ("l_returnflag", "string"), ("n", "bigint"), ("b0_cents", "double"),
        ("b1_cents_per_unit", "double"), ("b2_cents_per_point", "double"),
    ],
    "q157_gini_concentration": [
        ("c_mktsegment", "string"), ("n_customers", "bigint"),
        ("rev_cents", "double"), ("gini", "double"),
        ("top_decile_share", "double"),
    ],
    "q158_spatial_grid_join": [
        ("c_custkey", "bigint"), ("s_suppkey", "bigint"),
        ("dist2", "bigint"), ("dist", "double"),
    ],
    "q159_phrase_index_search": [
        ("doc_id", "bigint"), ("source", "string"), ("n_chars", "bigint"),
        ("first_pos", "bigint"), ("n_occurrences", "bigint"),
    ],
    "q160_feature_correlation": [
        ("dim_i", "int"), ("dim_j", "int"), ("r2", "double"),
        ("r", "double"),
    ],
    "q161_table_fingerprint": [
        ("table_name", "string"), ("n_rows", "bigint"),
        ("checksum", "string"), ("min_h", "bigint"), ("max_h", "bigint"),
    ],
    "q162_backtest_mape": [
        ("forecaster", "string"), ("n_days", "bigint"),
        ("mae_cents", "double"), ("mape", "double"),
    ],
    "q163_quantile_normalize": [
        ("source", "string"), ("n_chars", "bigint"), ("cnt", "bigint"),
        ("norm_chars", "bigint"),
    ],
    "q164_incremental_join_mv": [
        ("c_mktsegment", "string"), ("n_orders", "bigint"),
        ("rev_cents", "string"), ("avg_order_value", "double"),
    ],
    "q165_item_cf_recommendations": [
        ("o_custkey", "bigint"), ("rank", "int"), ("rec", "bigint"),
        ("score_q9", "bigint"),
    ],
    "q166_entity_resolution": [
        ("component", "bigint"), ("n_members", "bigint"),
        ("n_customers", "bigint"), ("n_suppliers", "bigint"),
        ("golden_bal_cents", "bigint"),
    ],
    "q167_expectation_suite": [
        ("rule_id", "string"), ("table_name", "string"),
        ("column_name", "string"), ("kind", "string"),
        ("n_checked", "bigint"), ("n_failed", "bigint"),
        ("passed", "bigint"),
    ],
    "q69_fuzzy_name_join": [
        ("c_custkey", "bigint"), ("s_suppkey", "bigint"), ("dist", "int"),
    ],
    "q168_cuped_ab_analysis": [
        ("grp", "string"), ("n_users", "bigint"), ("mean_post", "double"),
        ("mean_pre", "double"), ("theta", "double"),
        ("mean_post_cuped", "double"),
    ],
    "q169_order_reconciliation": [
        ("band", "string"), ("n_orders", "bigint"),
        ("total_abs_diff_q4", "string"), ("max_abs_diff_q4", "bigint"),
    ],
    "q170_point_in_time_read": [
        ("as_of", "string"), ("c_mktsegment", "string"),
        ("n_customers", "bigint"), ("avg_bal", "double"),
    ],
    "q171_windowed_funnel": [
        ("n_viewed", "bigint"), ("n_clicked_24h", "bigint"),
        ("n_purchased_24h", "bigint"), ("click_rate", "double"),
        ("purchase_rate", "double"), ("full_funnel_rate", "double"),
    ],
    "q172_salted_hot_key_join": [
        ("c_mktsegment", "string"), ("n_orders", "bigint"),
        ("rev_cents", "string"),
    ],
    "q173_roc_auc": [
        ("n_users", "bigint"), ("n_buyers", "bigint"), ("auc", "double"),
    ],
    "q174_cohort_ltv": [
        ("cohort", "string"), ("age_m", "int"), ("cohort_size", "bigint"),
        ("n_orders", "bigint"), ("rev_cents", "bigint"),
        ("cum_rev_cents", "bigint"), ("ltv_cents_per_cust", "double"),
    ],
    "q175_rfm_segments": [
        ("r_tile", "int"), ("f_tile", "int"), ("m_tile", "int"),
        ("n_customers", "bigint"), ("cents", "bigint"),
        ("avg_recency_days", "double"), ("avg_freq", "double"),
    ],
    "q176_rolling_ols_slope": [
        ("d", "date"), ("rev_cents", "bigint"),
        ("n_days_in_window", "bigint"),
        ("slope_cents_per_day", "double"),
    ],
    "q177_l_diversity": [
        ("c_mktsegment", "string"), ("c_nationkey", "int"),
        ("n_rows", "bigint"), ("l_distinct", "bigint"),
        ("entropy_q6", "bigint"), ("diverse_l3", "boolean"),
    ],
    "q178_annotator_kappa": [
        ("n_docs", "bigint"), ("n11", "bigint"), ("n10", "bigint"),
        ("n01", "bigint"), ("n00", "bigint"), ("kappa", "double"),
    ],
    "q179_journey_patterns": [
        ("pattern", "string"), ("n_matched", "bigint"),
        ("n_users", "bigint"), ("share", "double"),
    ],
    "q180_price_elasticity": [
        ("p_brand", "string"), ("n_lines", "bigint"),
        ("elasticity", "double"), ("band", "string"),
    ],
    "q181_clamped_wallet": [
        ("n_clamps", "bigint"), ("n_users", "bigint"),
        ("final_cents", "bigint"), ("avg_final_cents", "double"),
    ],
    "q182_position_decay_attribution": [
        ("event_type", "string"), ("ushape_q6", "bigint"),
        ("decay_q6", "bigint"), ("ushape_credit", "double"),
        ("decay_credit", "double"), ("total_purchases", "bigint"),
    ],
    "q183_segment_migration": [
        ("from_tile", "int"), ("to_tile", "int"),
        ("n_customers", "bigint"), ("row_share", "double"),
    ],
    "q184_weekday_seasonality": [
        ("weekday", "int"), ("n_days", "bigint"),
        ("rev_cents", "bigint"), ("seasonal_index", "double"),
    ],
    "q185_dedup_savings": [
        ("n_docs", "bigint"), ("n_clustered_docs", "bigint"),
        ("n_clusters", "bigint"), ("n_redundant", "bigint"),
        ("chars_total", "bigint"), ("chars_saved", "bigint"),
        ("savings_frac", "double"),
    ],
    "q186_funnel_window_sensitivity": [
        ("window_hours", "int"), ("n_viewed", "bigint"),
        ("n_converted", "bigint"), ("conversion_rate", "double"),
    ],
    "q187_effective_corpus_size": [
        ("n_docs", "bigint"), ("total_tokens", "bigint"),
        ("effective_tokens_q6", "bigint"), ("effective_frac", "double"),
    ],
    "q188_incremental_sessionize": [
        ("user_id", "bigint"), ("n_sessions", "bigint"),
        ("n_events", "bigint"),
    ],
    "q189_basket_triples": [
        ("pa", "bigint"), ("pb", "bigint"), ("pc", "bigint"),
        ("support", "bigint"),
    ],
    "q190_revenue_bridge": [
        ("p_brand", "string"), ("q0", "bigint"), ("q1", "bigint"),
        ("c0", "bigint"), ("c1", "bigint"), ("delta_cents", "bigint"),
        ("volume_effect", "double"), ("price_effect", "double"),
    ],
    "q191_lsh_quality": [
        ("n_pred", "bigint"), ("n_true", "bigint"), ("tp", "bigint"),
        ("fp", "bigint"), ("fn", "bigint"), ("precision", "double"),
        ("recall", "double"), ("f1", "double"),
    ],
    "q192_sorted_neighborhood": [
        ("c_custkey", "bigint"), ("s_suppkey", "bigint"),
        ("dist", "int"), ("rank_gap", "int"),
    ],
    "q193_gapfill_interpolate": [
        ("event_type", "string"), ("h", "timestamp"),
        ("obs", "bigint"), ("filled", "double"), ("method", "string"),
    ],
    "q199_winsorized_mean": [
        ("o_orderstatus", "string"), ("n_orders", "bigint"),
        ("p05_cents", "bigint"), ("p95_cents", "bigint"),
        ("winsorized_mean_cents", "double"),
    ],
    "q200_tail_index": [
        ("k_used", "bigint"), ("sum_q6", "bigint"),
        ("alpha_hill", "double"),
    ],
    "q197_dup_provenance": [
        ("source_a", "string"), ("source_b", "string"),
        ("same_source", "boolean"), ("n_pairs", "bigint"),
        ("avg_jaccard", "double"),
    ],
    "q220_dedup_retention": [
        ("component", "bigint"), ("cluster_size", "bigint"),
        ("keep_doc", "bigint"), ("best_q", "double"),
        ("kept_tokens", "bigint"), ("dropped_tokens", "bigint"),
    ],
    "q198_childless_parents": [
        ("relationship", "string"), ("n_parents", "bigint"),
        ("childless", "bigint"), ("coverage", "double"),
    ],
    "q196_dp_noisy_counts": [
        ("c_mktsegment", "string"), ("c_nationkey", "int"),
        ("true_n", "bigint"), ("noise_q6", "bigint"),
        ("released_n", "bigint"),
    ],
    "q195_es_weighted_sample": [
        ("source", "string"), ("sampled_docs", "bigint"),
        ("sampled_chars", "bigint"), ("min_doc_id", "bigint"),
        ("max_doc_id", "bigint"),
    ],
    "q194_tpch_pricing_summary": [
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("sum_qty", "string"), ("sum_base_price", "string"),
        ("sum_disc_price", "string"), ("sum_charge", "string"),
        ("avg_qty", "string"), ("avg_price", "string"),
        ("avg_disc", "string"), ("count_order", "bigint"),
    ],
}

# bundle name -> ordered list of fine-query parts
BUNDLES: dict[str, list[str]] = {
    "q04_68_datetime": ["q04_date_math", "q68_datetime_functions"],
    "q12_13_49_grouping": [
        "q12_rollup", "q13_cube", "q49_grouping_sets",
        "q137_hierarchy_rollup", "q194_tpch_pricing_summary",
    ],
    "q15_50_windows": [
        "q15_lag", "q50_first_last_window", "q122_range_frame_rolling",
    ],
    "q17_41_setops": ["q17_set_ops", "q41_set_ops_all"],
    "q42_43_reshape": ["q42_pivot", "q43_unpivot"],
    "q44_45_interval_joins": [
        "q44_asof_join", "q45_range_join", "q158_spatial_grid_join",
    ],
    "q46_60_62_distribution": [
        "q46_percentiles", "q60_ntile_buckets", "q62_rank_dist",
        "q101_mad_outliers", "q133_rolling_anomaly",
        "q135_weighted_median", "q138_trimmed_mean",
        "q140_pareto_frontier", "q146_fulfillment_latency",
        "q150_business_day_sla", "q157_gini_concentration",
        "q175_rfm_segments", "q183_segment_migration",
        "q199_winsorized_mean",
    ],
    "q21_27_52_language": [
        "q21_lang_stats", "q27_lang_id", "q52_observe_audit",
        "q85_hash_embed", "q110_unigram_surprise", "q154_naive_bayes",
        # round 11: NFC normalization audit (CPython unicodedata vs
        # DuckDB utf8proc — two independent Unicode implementations)
        "q224_nfc_audit",
    ],
    "q25_51_61_tokens": [
        "q25_token_stats", "q51_bpe_token_stats", "q61_token_topk",
        "q61b_vocab_sketch_audit", "q77_chunk_windows", "q78_pack_chunks",
        "q94_cms_heavy_hitters", "q104_hll_cardinality",
        # round 8: crawl->extract (HTML main-text recovery round trip)
        "q214_html_extract",
    ],
    "q26_28_quality": [
        "q26_quality_score", "q28_fingerprint", "q79_pii_redaction",
        "q80_bm25_topk", "q91_token_rarity", "q93_gopher_rules",
        "q105_pmi_bigrams", "q108_textrank", "q178_annotator_kappa",
        "q200_tail_index",
        # round 8: count-LM curation rides with the quality family —
        # held-out bigram perplexity (stupid backoff, branch-exercised)
        # + DSIR importance resampling (the driver window caps at 50
        # entries, so these extend the bundle instead of adding one)
        "q207_bigram_lm", "q208_dsir_resample",
        # round 8: per-domain quality caps (the FineWeb domain budget)
        "q213_domain_caps",
    ],
    "q22_29_exact_dedup": [
        "q22_exact_dedup_count", "q29_exact_dedup", "q92_segment_dedup",
        # round 7: training-mix governance rides with the dedup family
        # (q203 consumes the same exact-pair edge cache)
        "q201_mixture_weights", "q202_hash_split", "q203_split_leakage",
    ],
    "q23_embed_audit": ["q23a_label_counts", "q23b_vec_dims"],
    "q33_34_similarity": [
        "q33_cosine_topk", "q34_knn_per_label", "q87_random_projection",
    ],
    "q63_64_67_centroids": [
        "q63_label_centroids", "q64_centroid_outliers", "q67_vector_stats",
        "q83_kmeans", "q90_semantic_dedup", "q160_feature_correlation",
    ],
    "q53_54_cdc": [
        "q53_merge_upsert", "q54_scd2", "q120_incremental_agg",
        "q136_snapshot_diff", "q142_golden_record",
        "q164_incremental_join_mv", "q170_point_in_time_read",
    ],
    "q55_56_udf": ["q55_udaf_geomean", "q56_group_normalize"],
    "q57_58_59_sampling": [
        "q57_hash_split", "q58_stratified_sample", "q59_dataset_mix",
        "q102_dist_drift", "q103_chi2_independence",
        "q111_source_entropy", "q112_weighted_sample",
        "q130_token_budget_fill", "q143_temperature_mix",
        "q149_mutual_information", "q163_quantile_normalize",
        "q168_cuped_ab_analysis", "q195_es_weighted_sample",
    ],
    "q32_70_shingle_exact": [
        "q32_ngram_jaccard", "q70_split_contamination", "q89_substring_dup",
        "q95_bloom_decontaminate", "q113_shingle_novelty",
        # round 8: winnowing fingerprints (SIGMOD'03 / MOSS) — rolling
        # window-min selection + relocation-surviving overlap pairs
        "q211_winnow_fingerprints", "q212_winnow_overlap",
    ],
    # oracle-backed since round 3: the seeded hyperplanes embed as
    # literal sign coefficients, the IVF centroid pick is a portable
    # integer hash, and MinHash/SimHash hash via md5 (byte-identical
    # hex in both engines) — so all four probabilistic parts are fully
    # value-checked in SQL
    "q35_36b_ann": [
        "q35_ann_lsh", "q36b_ivf_topk", "q36c_ivf_batch_topk",
        "q96_pq_topk", "q116_mmr_diversify",
    ],
    "q30_31_lsh_neardup": ["q30_minhash_near_dup", "q31_simhash_clusters",
                           "q191_lsh_quality"],
    # oracle-backed since round 5: the synthetic SGM1 payload bytes are
    # md5-expanded from an ASCII seed, so DuckDB recomputes every byte;
    # the adjudicated parts emit exact integer byte moments (see
    # plans/multimodal.py). No rows-only bundle remains.
    "q37_38_media": [
        "q37_media_decode", "q38_frame_sample",
        "q37b_media_resize", "q38b_audio_features",
        "q81_image_dhash", "q82_image_neardup", "q88_png_color",
        # round 7: real baseline+progressive JPEG under the value gate
        "q204_jpeg_mosaic",
        # round 8: full-native-precision codecs under the value gate
        # (16-bit PNG native uint16; 8/16/24/32-bit WAV native width
        # with the hugeint sum-of-squares split hi/lo), plus the audio
        # member of the perceptual-hash dedup family
        "q205_wav_native", "q206_png16_native",
        "q209_audio_fingerprint", "q210_audio_neardup",
        # round 9: GIF (real LZW, interlace, 89a transparency) + BMP
        # (24-bit/palette, both row orders) under the same value gate
        "q215_gif_bmp",
        # round 10: animated GIF — whole-file compositing aggregate in
        # q215 (n_frames joins the gate) plus per-frame slice checksums
        # through the production sample_frames operator
        "q221_gif_frames",
        # round 12: MJPEG-in-AVI video columns — the RIFF container
        # walk + per-frame JPEG decode (baseline/progressive/
        # arithmetic/RGB) under the whole-clip value gate, plus
        # per-frame sampling checksums through sample_frames
        "q225_avi_mjpeg", "q226_avi_frames",
        # r12 second pass: per-frame perceptual fingerprints + the
        # video-level near-dup pairing (planted noisy twin in the
        # other container layout), hashes + pairing replayed in SQL
        "q227_video_dhash", "q228_video_neardup",
        # r12: AVI 'auds' demux through the shared WAV codec dispatch
        "q229_avi_audio",
        # r12: the completed BMP surface — RLE4/8, packed 1/4-bit
        # palettes, masked 16/32-bit pixels, BITMAPCOREHEADER — every
        # channel byte replayed from the md5 expansion
        "q230_bmp_complete",
        # r12: Adobe 4-component CMYK/YCCK JPEG (APP14 transform,
        # pinned c*k//255 composite replayed per block in SQL; the
        # APP14-less clip adjudicates the metadata-only contract)
        "q231_jpeg_cmyk",
        # r12: QuickTime/MOV MJPEG — the second video container
        # (moov/trak/stbl sample-table walk, every 'jpeg' sample
        # through the pinned JPEG decoder; 'mjpa' metadata-only) —
        # whole-clip gate + per-frame sampling gate
        "q232_mov_mjpeg", "q233_mov_frames",
        # r12: QuickTime 'soun' track demux (sowt/twos/raw PCM; ima4
        # count-only) through the shared container audio operator
        "q234_mov_audio",
        # r12: animated PNG — acTL/fcTL/fdAT compositing (SOURCE +
        # binary-alpha OVER, dispose background/previous, hidden
        # default image; fractional-alpha OVER metadata-only)
        "q235_apng",
        # r12: baseline TIFF — strips in both byte orders, PackBits,
        # gray both polarities / RGB / palette / bilevel; LZW and
        # tiled layouts metadata-only
        "q236_tiff",
    ],
    # round 9: WARC crawl-archive ingestion + URL canonicalization
    # dedup + eTLD+1 extraction + robots.txt filtering join the
    # ingest bundle (the crawl-governance family)
    "q39_40_ingest": [
        "q39_sensor_generate", "q40_sensor_csv_roundtrip",
        "q216_warc_ingest", "q217_url_dedup",
        "q218_registrable_domain", "q219_robots_filter",
        # round 10: IDN/punycode host folding (ASCII fast path +
        # Arrow-gated unicode residue)
        "q222_idn_host",
        # round 11: corpus charset composition (the WHATWG resolution
        # ladder as a monitored signal; decoded-character counts prove
        # the multi-byte codecs really decoded)
        "q223_charset_distribution",
    ],
    # round 5: the q20 single grew into a bundle with the hypertable
    # multi-grain rollup (one-scan grouping sets over time grains)
    "q20_84_timegrain": [
        "q20_time_bucket", "q84_hypertable_rollup", "q97_funnel",
        "q98_retention", "q99_gapfill_locf", "q100_linear_trend",
        "q171_windowed_funnel",
        "q115_theil_sen", "q126_time_weighted_avg", "q134_wow_growth",
        "q155_survival_km", "q156_multiple_regression",
        "q162_backtest_mape",
        "q139_new_vs_returning", "q145_seasonal_anomaly",
        "q152_time_to_convert", "q174_cohort_ltv",
        "q176_rolling_ols_slope", "q184_weekday_seasonality",
        "q186_funnel_window_sensitivity", "q193_gapfill_interpolate",
    ],
    # round 5: q24 grew into a bundle with the one-scan per-column
    # dataset profiler (ingest-acceptance stats)
    "q24_86_audit": [
        "q24_ingest_audit", "q86_profile", "q118_k_anonymity",
        "q121_key_skew_audit", "q123_referential_integrity",
        "q128_benford_audit", "q161_table_fingerprint",
        "q167_expectation_suite", "q169_order_reconciliation",
        "q177_l_diversity", "q196_dp_noisy_counts",
        "q198_childless_parents",
    ],
    # round 6: the q47 single grew into the event-sequence bundle —
    # sessionization, the first-order Markov transition matrix, and
    # lag-1 autocorrelation of the hourly arrival series
    "q47_106_107_sequences": [
        "q47_sessionize", "q106_markov_transitions",
        "q107_hourly_autocorr", "q114_cusum_changepoint",
        "q117_last_touch_attribution", "q119_debounce_dedup",
        "q129_feed_freshness", "q132_activity_islands",
        "q144_journey_trigrams", "q153_multitouch_attribution",
        "q179_journey_patterns", "q181_clamped_wallet",
        "q182_position_decay_attribution", "q188_incremental_sessionize",
    ],
    # round 6: the q75 single grew into the retrieval bundle —
    # TF-IDF salience plus reciprocal-rank fusion of the BM25 and
    # TF-IDF rankings (hybrid retrieval)
    "q75_109_retrieval": [
        "q75_tfidf_doc_scores", "q109_rrf_fusion",
        "q159_phrase_index_search",
    ],
    # round 6 continuation: the q65 single grew into the sketch bundle
    # (exact-vs-approx audit + the mergeable fixed-grid histogram
    # quantiles), and the q14 single into the top-k bundle (per-group
    # ranking + market-basket pair mining with shortlist re-rank)
    "q65_124_sketches": [
        "q65_sketch_audit", "q124_histogram_quantiles",
        "q127_rolling_hll_users",
    ],
    "q14_125_topk": [
        "q14_topk_per_group", "q125_basket_pairs", "q147_decile_lift",
        "q165_item_cf_recommendations", "q173_roc_auc",
        "q180_price_elasticity", "q189_basket_triples",
        "q190_revenue_bridge",
    ],
    # round 6 continuation: the q05 single grew into the joins bundle
    # (plain inner + null-safe <=> dimension conform)
    "q05_131_joins": [
        "q05_inner_join", "q131_nullsafe_join", "q172_salted_hot_key_join",
    ],
    # round 6 continuation: the q66 single grew into the graph bundle
    # (dup-edge connected components + the supplier-co-occurrence
    # triangle census; the degree-ordered Spark algorithm is
    # adjudicated against an independently-formulated id-ordered
    # triple-join oracle)
    # round 6 cont.: the q69 single grew into the record-linkage bundle
    # (blocked fuzzy match + the full entity-resolution pipeline it
    # feeds: transitive clustering + golden record)
    "q69_166_linkage": ["q69_fuzzy_name_join", "q166_entity_resolution",
                        "q192_sorted_neighborhood"],
    "q66_141_graph": [
        "q66_dedup_clusters", "q141_triangle_count",
        "q148_local_clustering", "q151_hub_strength",
        "q185_dedup_savings", "q187_effective_corpus_size",
        "q197_dup_provenance",
        # round 9: the retention policy the clusters set up (shares
        # the exact-pair + components frames)
        "q220_dedup_retention",
    ],
}

# fine queries exported unchanged, in this order (headline queries
# first for bench continuity with BASELINE.md round-1 numbers)
SINGLES: list[str] = [
    "q01_filter_project", "q02_compound_predicates", "q03_string_functions",
    "q06_multiway_join_agg", "q07_left_outer_join",
    "q08_semi_join", "q09_anti_join", "q10_hash_agg", "q11_distinct_agg",
    "q16_running_sum", "q18_dedup", "q19_json_extract",
    "q48_correlated_subquery",
    "q36_media_byte_features",
    "q71_decimal_interval", "q72_bucketed_join", "q73_embed_neardup",
    "q74_repetition_filter", "q76_variant_extract",
]

_SLOT_OF = {
    "string": "s", "date": "s", "timestamp": "s",
    "double": "d", "float": "d",
    "int": "i", "bigint": "i", "smallint": "i", "tinyint": "i",
    "boolean": "i",
}


def _slot(sparktype: str) -> str:
    if sparktype.startswith("decimal"):
        return "d"
    return _SLOT_OF[sparktype]


def _widths(parts: list[str]) -> dict[str, int]:
    w = {"s": 0, "d": 0, "i": 0}
    for p in parts:
        c = {"s": 0, "d": 0, "i": 0}
        for _, t in FINE_SCHEMAS[p]:
            c[_slot(t)] += 1
        for k in w:
            w[k] = max(w[k], c[k])
    return w


def _spark_normalize(df: DataFrame, part: str, widths: dict[str, int]) -> DataFrame:
    used = {"s": 0, "d": 0, "i": 0}
    out: dict[str, F.Column] = {}
    for name, t in FINE_SCHEMAS[part]:
        k = _slot(t)
        used[k] += 1
        col = F.col(name)
        if t == "timestamp":
            col = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        elif k == "s":
            col = col.cast("string")
        elif k == "d":
            col = col.cast("double")
        else:
            col = col.cast("bigint")
        out[f"{k}{used[k]}"] = col
    cols = [F.lit(part).alias("part")]
    for k, sqlt in (("s", "string"), ("d", "double"), ("i", "bigint")):
        for j in range(1, widths[k] + 1):
            cols.append(
                out.get(f"{k}{j}", F.lit(None).cast(sqlt)).alias(f"{k}{j}")
            )
    return df.select(*cols)


def _sql_normalize(part: str, widths: dict[str, int]) -> str:
    used = {"s": 0, "d": 0, "i": 0}
    out: dict[str, str] = {}
    for name, t in FINE_SCHEMAS[part]:
        k = _slot(t)
        used[k] += 1
        q = f'"{name}"'
        if t == "timestamp":
            expr = f"strftime({q}, '%Y-%m-%d %H:%M:%S')"
        elif k == "s":
            expr = f"CAST({q} AS VARCHAR)"
        elif k == "d":
            expr = f"CAST({q} AS DOUBLE)"
        else:
            expr = f"CAST({q} AS BIGINT)"
        out[f"{k}{used[k]}"] = expr
    cols = [f"'{part}' AS part"]
    for k, sqlt in (("s", "VARCHAR"), ("d", "DOUBLE"), ("i", "BIGINT")):
        for j in range(1, widths[k] + 1):
            expr = out.get(f"{k}{j}", f"CAST(NULL AS {sqlt})")
            cols.append(f"{expr} AS {k}{j}")
    sub = _plans.ORACLES[part]
    return f"SELECT {', '.join(cols)} FROM (\n{sub}\n) __{part}"


# Driver threads for bundle-part construction. PySpark's Dataset DSL
# analyzes EAGERLY on every transformation (JVM-side work: each
# withColumn/select/join re-runs analysis over the accumulated tree),
# so building a 20-part bundle costs seconds of single-threaded driver
# time BEFORE the first task runs — measured 10.4 s build vs 7.1 s
# execute for q20_84_timegrain at sf0.1 (guide §5: the driver should
# do almost no data work; §2.6 sanctions driver thread pools). Part
# construction is independent (immutable DataFrames; catalog.
# shared_frame holds one lock per key, so concurrent parts build each
# shared frame once), so a small pool overlaps the analysis: measured
# 8.1 s -> 3.1 s for the same bundle. The union fold stays ordered —
# pool.map preserves part order, so the bundle's rows and the oracle's
# UNION ALL agree.
_BUILD_THREADS = 8


def _bundle_fn(parts: list[str]) -> QueryFn:
    widths = _widths(parts)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from concurrent.futures import ThreadPoolExecutor

        def build(p: str) -> DataFrame:
            return _spark_normalize(_plans.QUERIES[p](spark, sf_dir), p, widths)

        if len(parts) == 1:
            dfs = [build(parts[0])]
        else:
            with ThreadPoolExecutor(
                max_workers=min(_BUILD_THREADS, len(parts))
            ) as pool:
                dfs = list(pool.map(build, parts))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    return fn


def _bundle_oracle(parts: list[str]) -> str | None:
    if any(p not in _plans.ORACLES for p in parts):
        return None
    widths = _widths(parts)
    return "\nUNION ALL\n".join(_sql_normalize(p, widths) for p in parts)


def build_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """(driver_queries, driver_oracles): the consolidated surface."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for name in SINGLES:
        queries[name] = _plans.QUERIES[name]
        if name in _plans.ORACLES:
            oracles[name] = _plans.ORACLES[name]
    for name, parts in BUNDLES.items():
        queries[name] = _bundle_fn(parts)
        sql = _bundle_oracle(parts)
        if sql is not None:
            oracles[name] = sql
    return queries, oracles
