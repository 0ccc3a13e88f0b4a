"""Query/oracle registry backing the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers here a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
DuckDB oracle SQL. The driver compares them at sf=0.01 (row count + schema +
order-insensitive value hash), so:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- double-valued aggregates are rounded the same number of places on both
  sides (cross-engine float summation order differs in the last ulps);
- DuckDB's integer SUM returns INT128 — oracles cast to BIGINT/DOUBLE to
  match Spark's types.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Queries with NO DuckDB oracle BY DESIGN — each must name why and carry
# a pytest that pins its semantics instead (the driver records a weaker
# rows-only check for these; keep this set near-empty).
ROWS_ONLY_BY_DESIGN: frozenset[str] = frozenset(
    {
        # DEFLATE has no SQL form; exact byte counts pinned against
        # direct zlib calls in tests/test_zlib_ratio.py
        "quality_compression_ratio",
    }
)

# Oracles whose SQL references a FILE rather than the registered views
# are bound to the driver's contractual sf=0.01 dir (DuckDB's
# parquet_metadata() takes a constant path). Local harnesses running at
# another SF must evaluate BOTH sides of these at the pinned dir.
ORACLE_SF_PIN: dict[str, str] = {
    "scan_parquet_footer_stats": "/root/testdata/sf0.01",
}


def query(name: str, oracle: Optional[str] = None):
    """Register a named query and (optionally) its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        # a duplicate registration silently shadows the earlier one (and a
        # stray decorator on a helper once registered a wrong-arity callable
        # under a public name) — fail loudly instead. Re-registering the
        # SAME function is fine: module reload / idempotent load_all().
        prior = QUERIES.get(name)
        if prior is not None and prior.__qualname__ != fn.__qualname__:
            raise ValueError(
                f"query {name!r} already registered by {prior.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        aggregates,
        analytic,
        analytic2,
        behavioral,
        clustering,
        curation,
        dedup,
        features,
        frequency,
        graph,
        multimodal,
        pipeline,
        relational,
        reshape,
        scalarfn,
        scale,
        scans,
        scrub,
        search,
        selection,
        similarity,
        textops,
        timeseries,
        training,
        warehouse,
        windows,
    )
    from .streaming import stateful as stream_stateful  # noqa: F401
    from .streaming import windows as stream_windows  # noqa: F401


# Queries with a green row in CORRECTNESS_r01/r02/r03.json (all three
# checks passed). The per-round harness walks `queries()` in dict order
# under a bounded budget (~50 entries/round), so names WITHOUT prior
# evidence are surfaced first and the already-verified set re-runs only
# after everything has a row. Queries rewritten after their latest
# evidence round are deliberately EXCLUDED so the harness re-verifies the
# current implementations (r4: quantize_embeddings output reshaped after
# its r3 harness error, so it stays unverified-first).
_VERIFIED_PRIOR_ROUNDS: frozenset[str] = frozenset(
    {
        "agg_avg_two_key", "agg_max_per_group", "ann_ivf_probe",
        # ann_lsh_buckets was r2-green but EXCLUDED: rewritten in r7 to
        # the occupancy-adaptive plan (VERDICT r6 task 2), so it
        # re-verifies first.
        "ann_topk_bruteforce",
        "approx_count_distinct_bounded", "asof_join", "collect_set_groups",
        "count_per_group", "cube_agg", "dedup_exact",
        "dedup_simhash", "delta_antijoin", "distinct_agg", "empty_relation",
        "exists_subquery", "explode_positional", "filter_null_nan",
        "fn_array", "fn_conditional", "fn_datetime",
        "fn_json", "fn_map", "fn_math", "fn_safe_arithmetic", "fn_string",
        "greatest_per_group", "grouping_sets", "having_clause",
        "in_subquery", "join_anti",
        # incremental_agg_merge / join_bucketed_colocated /
        # join_salted_skew / join_interval_bucketed / q2_min_cost_supplier
        # were r1/r2/r4-green but are EXCLUDED: the r7 sf0.1 exactness
        # sweep caught cross-engine double-sum / round-on-double drift at
        # 10x data, and their money math was rewritten to exact
        # cents/micro integer units — so they re-verify first.
        "join_hint_shuffle_hash",
        "join_inner_dim", "join_left_outer", "join_null_safe",
        "join_semi", "lateral_topn_per_group",
        "ledger_upsert", "mapinarrow_vector_norm", "mm_binary_meta",
        "mm_decode_features", "mm_frame_sample", "not_exists_subquery",
        "nulls_ordering", "percentile_agg", "pipeline_corpus_curation",
        "pivot_status_by_priority", "project_rename_literal",
        "q10_returned_items", "q11_important_stock", "q12_priority_by_band",
        "q13_customer_distribution", "q14_promo_share", "q15_top_supplier",
        "q16_supplier_count", "q17_small_qty_revenue", "q18_large_volume",
        "q19_disjunctive_pred", "q1_pricing_summary",
        "q21_waiting_supplier", "q22_global_sales",
        "q3_shipping_priority", "q4_priority_check", "q5_local_supplier",
        "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "range_join_bands", "rollup_agg",
        "rules_routing", "sample_hash_systematic", "sample_k_per_group",
        "sample_stratified_hash", "sample_train_val_test",
        "scalar_subquery_avg", "scan_json_partitioned_glob", "setop_except",
        "setop_except_all", "setop_intersect", "setop_intersect_all",
        "setop_union_distinct", "sink_partition_pruning", "stats_agg",
        "topk_orders", "udaf_pandas_geomean", "union_missing_columns",
        "unpivot_melt", "weighted_avg",
        # green in CORRECTNESS_r03.json (49 rows, all hash-verified):
        "stats_correlation", "q20_promising_supplier", "kmeans_embeddings",
        "text_repetition_metrics", "decontam_ngram_overlap",
        "text_normalize_clean", "mixture_weighted_sample",
        "epoch_shard_assignment", "dedup_ngram_jaccard",
        "dedup_embedding_cosine", "dedup_connected_components",
        "flagship_frequency", "scan_csv_roundtrip", "scan_orc_roundtrip",
        "scan_dpp_partitioned_join", "scan_merge_schema_evolution",
        "join_cross_product", "text_token_count", "text_quality_score",
        "text_fingerprint", "lang_profile", "text_langid",
        "text_bigram_diversity", "text_tfidf_topterm",
        "text_edit_distance_pairs", "timeseries_gapfill",
        "sessionize_events", "window_time_rolling", "pack_token_chunks",
        "interleave_sources", "pack_chunk_texts", "fim_split",
        "span_corruption_mask", "scd2_merge", "window_rank",
        "window_lag_lead", "window_running_sum", "window_sliding_rows",
        "window_ntile", "window_range_frame", "window_distribution_funcs",
        "stream_dedup_watermark", "stream_stateful_user_stats",
        "stream_stream_interval_join", "stream_static_join",
        "stream_kafka_shaped", "tumbling_window", "sliding_window",
        "session_window",
        # green in CORRECTNESS_r04.json (50 rows, all hash-verified):
        "agg_mode_per_group", "ann_lsh_adaptive", "approx_top_k_bounded",
        "bm25_topk", "bpe_pair_stats", "cohort_retention",
        "dedup_exact_substring", "dedup_incremental_ledger",
        "dedup_minhash_lsh", "doc_chunk_overlap", "feature_mad_outliers",
        "feature_quantile_bucketize", "feature_winsorized_stats",
        "feature_zscore_outliers", "fn_decimal_exact", "fn_variant_json",
        "funnel_conversion", "graph_triangle_count",
        "histogram_fixed_buckets", "hll_sketch_union_bounded",
        "join_bloom_prefilter",
        "layout_zorder_key", "merge_upsert_delete", "pagerank_transitions",
        "percentile_approx_bounded", "pii_redact", "pipeline_user_features",
        "profile_drift", "quantize_embeddings",
        "sample_weighted_without_replacement", "scan_binaryfile_ingest",
        "scan_python_datasource", "simjoin_prefix_jaccard",
        "sink_compacted_write", "skew_diagnose_keys", "snapshot_diff",
        "stream_ewma_stateful", "stream_session_availablenow",
        "stream_sliding_availablenow", "stream_tumbling_availablenow",
        "table_profile", "table_profile_approx", "text_perplexity_proxy",
        "text_regex_tokenize", "timeseries_ewma", "timeseries_resample_ohlc",
        "udtf_sentence_split", "url_domain_blocklist",
        "window_running_distinct",
        # green in CORRECTNESS_r05.json (50 rows, all hash-verified):
        "ann_hard_negatives", "ann_lsh_multiprobe", "ann_rerank_quantized",
        "asof_join_nearest", "assoc_rules_pairs", "attribution_last_touch",
        "attribution_multi_touch", "bootstrap_confidence",
        "chunk_cdc_rolling", "cms_frequency_estimate", "curriculum_order",
        "decontam_source_matrix", "dedup_cluster_representative",
        "dedup_span_removal", "dedup_threshold_sweep",
        "dedup_url_canonicalize", "drift_psi_by_source",
        "dsir_importance_select", "engagement_dau_wau", "eval_auc_binned",
        "eval_calibration_bins", "event_transition_matrix",
        # feature_ols_trend is r5-green but EXCLUDED: its r2 arithmetic was
        # rewritten in r6 (overflow factoring), so it re-verifies first.
        "feature_quantile_normalize", "fn_html_strip",
        "fn_url_parse", "graph_label_propagation",
        "incremental_join_maintenance", "join_cardinality_probe",
        "knn_centroid_label_eval", "minhash_estimate_error",
        "mixture_temperature_reweight", "mm_modality_dispatch",
        "pca_power_component", "pipeline_rag_chunking", "privacy_dp_counts",
        "privacy_k_anonymity", "privacy_l_diversity",
        "record_linkage_score", "sample_class_balance",
        "sample_group_kfold", "sample_temporal_split",
        "scan_jsonl_corrupt_recovery", "semdedup_clusters",
        "simjoin_containment", "split_leakage_audit",
        "stats_chi2_independence", "stats_ks_drift",
        "token_budget_allocation", "user_activity_streaks",
        # green in CORRECTNESS_r06.json (50 rows, all hash-verified):
        "ann_index_persist", "ann_recall_eval", "asof_join_forward",
        "corpus_datacard", "dpo_pair_assembly", "dq_constraint_audit",
        "dq_freshness_audit", "entropy_filter", "eval_f1_confusion",
        "eval_mrr_map", "eval_ndcg_at_k", "feature_ols_trend",
        "feature_quantile_normalize_approx", "forecast_residuals_backtest",
        "golden_record_survivorship", "graph_bfs_distance",
        "length_bucket_batching", "lm_kneser_ney_bigram",
        "negative_sampling_recsys", "pack_bins_ffd",
        "quality_classifier_score", "quality_drift_by_source",
        "scan_avro_roundtrip", "scd2_point_in_time",
        "sessionize_max_duration", "sft_pair_assembly",
        "sink_bucketed_partitioned_write", "source_similarity_matrix",
        "stream_anomaly_zscore", "stream_assoc_rules",
        "stream_attribution_last_touch", "stream_cdc_upsert",
        "stream_cohort_retention", "stream_decontam",
        "stream_dedup_within_watermark", "stream_funnel_stateful",
        "stream_golden_record", "stream_quality_drift",
        "stream_stream_full_outer_join", "stream_stream_left_outer_join",
        "stream_stream_right_outer_join", "stream_topk_windowed",
        "stream_transition_matrix", "survival_kaplan_meier",
        "text_cooccurrence_pmi", "text_keyword_rake",
        "timeseries_anomaly_rolling",
        "tokenizer_bpe_merges",
        # green in CORRECTNESS_r07.json (49 hash-verified + the rows-only
        # quality_compression_ratio, which is ROWS_ONLY_BY_DESIGN and
        # byte-exact-pinned in tests/test_zlib_ratio.py):
        "ann_lsh_buckets", "asof_join_tolerance",
        "attribution_markov_removal", "curation_gopher_quality_gate",
        "dedup_phonetic_key", "dedup_token_sort_fingerprint",
        "drift_js_divergence", "eval_bleu_ngram_precision",
        "eval_brier_decomposition", "eval_cohens_kappa",
        "eval_kendall_tau_b", "eval_rank_fusion_rrf",
        "eval_rouge_n_recall", "feature_hashing_trick",
        "feature_mutual_information", "feature_rfm_segmentation",
        "feature_target_encoding_loo", "feature_winsorize",
        "feature_woe_binning", "funnel_time_to_convert",
        "graph_clustering_coefficient", "graph_degree_assortativity",
        "graph_kcore_decompose", "graph_neighborhood_2hop",
        "incremental_agg_merge", "interval_coalesce",
        "join_bucketed_colocated", "join_interval_bucketed",
        "join_salted_skew", "link_prediction_adamic_adar",
        "lm_good_turing", "privacy_t_closeness", "q2_min_cost_supplier",
        "quality_compression_ratio", "sample_stratified_neyman",
        "scan_parquet_footer_stats", "scan_text_lines_roundtrip",
        "source_gini_concentration", "spatial_join_radius",
        "stats_fdr_bh", "stats_kruskal_wallis", "stats_mann_whitney_u",
        "stats_proportions_ztest", "stats_spearman_corr",
        "stats_tost_equivalence", "stats_welch_ttest",
        "text_ngram_novelty", "text_zipf_fit",
        "timeseries_changepoint_cusum", "timeseries_holt_linear",
        # green in CORRECTNESS_r08.json (50 rows, all hash-verified):
        # the 30 r7/r8 plan-rewrite evictions all re-verified on their
        # current plans (already present above, subtraction dropped),
        # plus these 16 — the 14 never-driver-checked names and the two
        # tokenizer names that had been removed from the literal
        # directly:
        "dq_benford_audit", "feature_pareto_skyline", "rlhf_best_of_n",
        "stream_changepoint_cusum", "stream_interval_coalesce",
        "stream_session_timeout_close", "stream_stream_semi_join",
        "timeseries_acf", "timeseries_cross_correlation",
        "timeseries_ljung_box", "timeseries_seasonal_decompose",
        "timeseries_theil_sen", "tokenizer_bpe_apply",
        "tokenizer_vocab_coverage", "tokenizer_wordpiece_apply",
        "window_moving_median",
        # green in CORRECTNESS_r09.json (50 rows, all hash-verified):
        # the r9 subtraction (28 exactness-lift evictions + ann_ivf_probe
        # + mm_decode_features) all re-verified green on their current
        # plans, so that subtraction folded away; plus these 19 r9
        # registrations:
        "ann_index_append", "ann_index_append_multiprobe",
        "dedup_cc_incremental", "dedup_incremental_minhash",
        "feature_fit_transform_persist", "graph_sssp_weighted",
        "mmr_diversified_topk", "privacy_dp_quantile",
        "sample_reservoir_priority", "sink_sharded_jsonl_manifest",
        "sink_webdataset_shards", "stream_ann_index_append",
        "stream_cc_incremental", "stream_dedup_minhash",
        "tokenizer_unigram_em_step", "tokenizer_unigram_viterbi",
        # green in CORRECTNESS_r10.json (50 rows, all hash-verified):
        # the r10 subtraction (6 plan-change evictions) all re-verified
        # green on their current plans, so that subtraction folded away
        # (kmeans_balanced_assign, eval_pass_at_k, ann_pq_adc,
        # ann_ivf_probe, stream_cc_incremental, dedup_embedding_cosine
        # are back in the literal above); plus these 9 r10
        # registrations:
        "scan_jdbc_roundtrip", "jdbc_merge_upsert", "ann_ivf_pq",
        "ann_index_probe_join", "eval_pass_at_k_ci", "mmr_over_index",
        "kmeans_balanced_assign_r2", "stream_jdbc_cdc_upsert",
        "ann_ivf_pq_trained",
        # and the three r9-green names that had only ever lived in the
        # r10 eviction comment (never in this literal), now r10-green
        # on their post-ADVICE plans:
        "kmeans_balanced_assign", "eval_pass_at_k", "ann_pq_adc",
        # green in CORRECTNESS_r11.json (50 rows, all hash-verified):
        # the r11 subtraction (probe-gate migration x3, compact index
        # layout x2, single-pass CC delta x2, memory-sink fix x29) all
        # re-verified green on their current plans, so that subtraction
        # folded away; plus the one r11 registration:
        "window_ntile_cuts",
        # green in CORRECTNESS_r12.json (50 rows, all hash-verified):
        # the four r12 build-phase registrations
        "ann_index_compact", "ann_index_delete", "dedup_cc_delete",
        "dedup_index_delete",
    }
    # RE-VERIFY CONVENTION, now mechanical (VERDICT r7 task 2): any query
    # whose PHYSICAL PLAN changed after its latest driver evidence is
    # evicted from this set so the driver re-verifies the shipping plan.
    # "Plan changed" means the executed operators/partitioning differ —
    # not comment/docstring edits and not a knob rewritten to the SAME
    # effective value. CORRECTNESS_r12.json verified 46 of the 66-name
    # r12 queue green (all hash-verified) — those folded back into the
    # literal above; the 19 streaming names below never made the 50-row
    # sample and stay queued. Evicted for r13:
    - frozenset(
        {
            # r12 queue carry-over (drain-gate x29 / stream_cc bounded
            # union-find / _write_bucketed build-side consumers): these
            # never got a CORRECTNESS_r12 row — keep them first in the
            # unverified tier until the driver hashes them.
            "session_window", "stream_anomaly_zscore",
            "stream_assoc_rules", "stream_cc_incremental",
            "stream_changepoint_cusum", "stream_decontam",
            "stream_dedup_minhash", "stream_dedup_within_watermark",
            "stream_golden_record", "stream_interval_coalesce",
            "stream_quality_drift", "stream_session_availablenow",
            "stream_session_timeout_close", "stream_sliding_availablenow",
            "stream_stream_full_outer_join", "stream_topk_windowed",
            "stream_transition_matrix", "stream_tumbling_availablenow",
            # r13 struct-state fold rewrites (guide §4-adjacent/§5, see
            # OPTIMIZATION_r13.md): the WordPiece greedy fold and the
            # unigram Viterbi DP now carry named_struct fold states
            # instead of regex-split scalar strings (plan expression
            # changed; emitted strings byte-identical), and the BPE
            # merge trainer let-binds its symbol split and
            # localCheckpoints the vocab-sized symbol table. All four
            # oracle-green at sf0.01 + sf0.001 this round.
            "tokenizer_wordpiece_apply", "tokenizer_unigram_viterbi",
            "tokenizer_unigram_em_step", "tokenizer_bpe_merges",
            # r13 build-side change (the standing convention): the
            # streaming ANN twin's committed index is now a hardlink
            # clone of a build-once content-fingerprinted seed instead of
            # a per-run rebuild (similarity._clone_committed_index);
            # serving plan unchanged, bytes identical, but build-side
            # changed -> re-verify (it is also in the carry-over).
            "stream_ann_index_append",
            # r13 batch-3 structural rewrites (OPTIMIZATION_r13.md):
            # source_similarity_matrix let-binds the token split and
            # derives per-source totals from one checkpointed shingle
            # pass; dedup_threshold_sweep reads the shared memoized band
            # relation with the gate-broadcast verify order;
            # text_perplexity_proxy checkpoints the vocabulary-sized
            # bigram model (probe aggregation byte-identical). All
            # three oracle-green at sf0.01 + sf0.001 this round.
            "source_similarity_matrix", "dedup_threshold_sweep",
            "text_perplexity_proxy",
        }
    )
)


# Unverified names deliberately ranked LAST within the unverified tier:
# the harness budget is ~50 rows per round, so operators added (or
# rewritten) AFTER a round's queue is frozen park here rather than
# displace a never-checked name. Round 12: CORRECTNESS_r11.json drained
# the r11 queue (all 36 evictions + window_ntile_cuts verified green,
# 50/50 — folded into the literal above), so every pre-r12 name has
# driver evidence on its r11-era plan. The r12 queue = the eviction
# subtraction above (mmr_over_index build-side catch-up + this round's
# plan changes) + new r12 registrations — well under the ~50 budget.
_DEFER_TO_NEXT_ROUND: frozenset[str] = frozenset()


def ordered_queries() -> dict[str, QueryFn]:
    """All registered queries, unverified-first (see _VERIFIED_PRIOR_ROUNDS).

    Within each tier, registration order is kept. Streaming queries
    (AvailableNow micro-batch startup cost each) sort after the other
    unverified names so one slow query can't starve the batch set;
    _DEFER_TO_NEXT_ROUND sorts last among unverified.
    """
    load_all()
    names = list(QUERIES)
    order = {n: i for i, n in enumerate(names)}

    def rank(n: str) -> tuple[int, int]:
        verified = n in _VERIFIED_PRIOR_ROUNDS
        streaming = n.startswith("stream_") or n.endswith("_window")
        deferred = n in _DEFER_TO_NEXT_ROUND
        return (verified * 4 + deferred * 2 + streaming, order[n])

    return {n: QUERIES[n] for n in sorted(names, key=rank)}
