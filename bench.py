"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect cost).

Methodology note (ADVICE r8): warm min-of-N timings INCLUDE session
memos where an op ships one — e.g. dedup_minhash_lsh reads the
session-persisted signature/band relation (tables.session_memo) on
runs 2..N, and the scratch-index ops (ann_index_persist,
ann_index_append, dedup_incremental_minhash) pay their build-once index
write only on the first cold run per content fingerprint. That is the
production-shaped number — a pipeline computes those once per corpus —
but cross-round comparisons should know run 1 is the only uncached one."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dig_aggregator_core_spark import registry
from dig_aggregator_core_spark.session import get_spark

HEADLINE = [
    "flagship_frequency",
    "q1_pricing_summary",
    "weighted_avg",
    "delta_antijoin",
    "join_inner_dim",
    "greatest_per_group",
    "asof_join",
    "topk_orders",
    "q3_shipping_priority",
    "q5_local_supplier",
    "exists_subquery",
    "scalar_subquery_avg",
    "fn_json",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "ann_lsh_buckets",
    "ann_ivf_probe",
    "text_quality_score",
    "tumbling_window",
    "q6_forecast_revenue",
    "q8_market_share",
    "q18_large_volume",
    "q21_waiting_supplier",
    "text_tfidf_topterm",
    "sessionize_events",
    "timeseries_gapfill",
    "sample_stratified_hash",
    "pipeline_corpus_curation",
    # r3 additions: stateful-streaming family row plus the training-data
    # assembly/curation ops (per-query rows stay comparable across rounds;
    # the total covers a strictly larger set from r3 on)
    "stream_stateful_user_stats",
    "pack_token_chunks",
    "quantize_embeddings",
    "decontam_ngram_overlap",
    "text_repetition_metrics",
    # late-r3 additions: span-level dedup, corpus-LM quality scoring, and
    # the warehouse CDC/profiling pair
    "dedup_exact_substring",
    "text_perplexity_proxy",
    "snapshot_diff",
    "table_profile",
    "fn_variant_json",
    "join_interval_bucketed",
    "hll_sketch_union_bounded",
    "timeseries_ewma",
    "feature_mad_outliers",
    "pipeline_user_features",
    # r4 additions: bloom runtime pruning, the no-Expand profile, MERGE
    # semantics, and the ordered-window rewrites
    "join_bloom_prefilter",
    "table_profile_approx",
    "merge_upsert_delete",
    "window_running_distinct",
    "timeseries_resample_ohlc",
    "text_regex_tokenize",
    # mid-r4 additions: retrieval, prefix-filter simjoin, behavioral
    # analytics, and the remaining curation primitives
    "bm25_topk",
    "simjoin_prefix_jaccard",
    "funnel_conversion",
    "cohort_retention",
    "bpe_pair_stats",
    "doc_chunk_overlap",
    "profile_drift",
    "ann_lsh_adaptive",
    # late-r4 deferred tier: next round's verification queue, benched now
    "semdedup_clusters",
    "bootstrap_confidence",
    "sample_group_kfold",
    "quality_classifier_score",
    "entropy_filter",
    "length_bucket_batching",
    "tokenizer_bpe_merges",
    "stream_funnel_stateful",
    "pipeline_rag_chunking",
    # r5 additions: the recall-path LSH pair, cluster representative
    # selection, the contamination matrix, FFD packing, CDC chunking,
    # containment join, attribution, centroid eval, streaming cohort
    "ann_lsh_multiprobe",
    "ann_hard_negatives",
    "dedup_cluster_representative",
    "decontam_source_matrix",
    "pack_bins_ffd",
    "chunk_cdc_rolling",
    "simjoin_containment",
    "attribution_last_touch",
    "knn_centroid_label_eval",
    "stream_cohort_retention",
    "user_activity_streaks",
    "timeseries_anomaly_rolling",
    "mixture_temperature_reweight",
    "scan_jsonl_corrupt_recovery",
    "stream_attribution_last_touch",
    "scd2_point_in_time",
    "fn_url_parse",
    "text_cooccurrence_pmi",
    "stats_chi2_independence",
    "stream_anomaly_zscore",
    "asof_join_nearest",
    "privacy_k_anonymity",
    "incremental_join_maintenance",
    # late-r5 additions: two-stage retrieval, the tokenizer apply half,
    # streaming decontam + CDC apply, the audit trio, URL canon dedup
    "ann_rerank_quantized",
    "tokenizer_bpe_apply",
    "stream_decontam",
    "quality_drift_by_source",
    "stats_ks_drift",
    "record_linkage_score",
    "stream_cdc_upsert",
    "dedup_url_canonicalize",
    "eval_calibration_bins",
    "eval_auc_binned",
    "negative_sampling_recsys",
    "attribution_multi_touch",
    "forecast_residuals_backtest",
    "stream_quality_drift",
    # r5 continuation: the data-selection family (DSIR, curriculum,
    # token-budget waterfilling)
    "dsir_importance_select",
    "curriculum_order",
    "token_budget_allocation",
    "ann_index_persist",
    "stream_stream_full_outer_join",
    "stream_dedup_within_watermark",
    "split_leakage_audit",
    "minhash_estimate_error",
    "corpus_datacard",
    "assoc_rules_pairs",
    "ann_recall_eval",
    "fn_html_strip",
    "privacy_l_diversity",
    "eval_ndcg_at_k",
    "dedup_span_removal",
    "pca_power_component",
    "sessionize_max_duration",
    "event_transition_matrix",
    "stream_assoc_rules",
    "graph_label_propagation",
    "mm_modality_dispatch",
    "engagement_dau_wau",
    "stream_transition_matrix",
    "golden_record_survivorship",
    "feature_quantile_normalize",
    "stream_golden_record",
    "join_cardinality_probe",
    "dq_constraint_audit",
    "dq_freshness_audit",
    "source_similarity_matrix",
    "sample_class_balance",
    "dedup_threshold_sweep",
    "sft_pair_assembly",
    "eval_mrr_map",
    "cms_frequency_estimate",
    "feature_ols_trend",
    "privacy_dp_counts",
    "sample_temporal_split",
    "drift_psi_by_source",
    # r6 additions: the tokenizer coverage audit (benched late — flagged
    # as a COVERAGE/bench omission in r5 ADVICE), plus the r6 operators
    "tokenizer_vocab_coverage",
    "sink_bucketed_partitioned_write",
    "stream_stream_right_outer_join",
    "feature_quantile_normalize_approx",
    "asof_join_forward",
    "graph_bfs_distance",
    "eval_f1_confusion",
    "dpo_pair_assembly",
    "text_keyword_rake",
    "lm_kneser_ney_bigram",
    "scan_avro_roundtrip",
    # r6b additions (same-session continuation)
    "stats_welch_ttest",
    "stats_mann_whitney_u",
    "window_moving_median",
    "interval_coalesce",
    "timeseries_changepoint_cusum",
    "privacy_t_closeness",
    "graph_neighborhood_2hop",
    "eval_bleu_ngram_precision",
    "tokenizer_wordpiece_apply",
    "eval_cohens_kappa",
    "feature_target_encoding_loo",
    "graph_kcore_decompose",
    "stream_interval_coalesce",
    "asof_join_tolerance",
    "timeseries_holt_linear",
    "dedup_phonetic_key",
    "stats_spearman_corr",
    "stats_fdr_bh",
    "feature_mutual_information",
    "timeseries_acf",
    "eval_rouge_n_recall",
    "link_prediction_adamic_adar",
    "feature_hashing_trick",
    "rlhf_best_of_n",
    "stream_changepoint_cusum",
    "survival_kaplan_meier",
    "source_gini_concentration",
    "dq_benford_audit",
    "lm_good_turing",
    "eval_rank_fusion_rrf",
    "drift_js_divergence",
    "text_zipf_fit",
    "feature_winsorize",
    "eval_brier_decomposition",
    "feature_rfm_segmentation",
    "text_ngram_novelty",
    "quality_compression_ratio",
    "graph_degree_assortativity",
    "timeseries_theil_sen",
    "stats_kruskal_wallis",
    "sample_stratified_neyman",
    "timeseries_seasonal_decompose",
    "feature_pareto_skyline",
    "eval_kendall_tau_b",
    "stream_stream_semi_join",
    "scan_parquet_footer_stats",
    "graph_clustering_coefficient",
    "stats_proportions_ztest",
    "dedup_token_sort_fingerprint",
    "timeseries_ljung_box",
    "spatial_join_radius",
    "attribution_markov_removal",
    "timeseries_cross_correlation",
    "stats_tost_equivalence",
    "feature_woe_binning",
    "curation_gopher_quality_gate",
    "funnel_time_to_convert",
    "scan_text_lines_roundtrip",
    "stream_session_timeout_close",
    # r9 additions (new capabilities; appended so the prior 213 stay
    # round-over-round comparable)
    "dedup_incremental_minhash",
    "sample_reservoir_priority",
    "stream_dedup_minhash",
    "mm_decode_features",
    "tokenizer_unigram_viterbi",
    "dedup_cc_incremental",
    "sink_sharded_jsonl_manifest",
    "ann_index_append",
    "ann_index_append_multiprobe",
    "ann_pq_adc",
    "mmr_diversified_topk",
    "graph_sssp_weighted",
    "sink_webdataset_shards",
    "stream_ann_index_append",
    "eval_pass_at_k",
    "kmeans_balanced_assign",
    "tokenizer_unigram_em_step",
    "feature_fit_transform_persist",
    "privacy_dp_quantile",
    "stream_cc_incremental",
    # r10 additions (new capabilities; appended so the prior 233 stay
    # round-over-round comparable)
    "scan_jdbc_roundtrip",
    "jdbc_merge_upsert",
    "ann_ivf_pq",
    "ann_index_probe_join",
    "eval_pass_at_k_ci",
    "mmr_over_index",
    "kmeans_balanced_assign_r2",
    "stream_jdbc_cdc_upsert",
    "ann_ivf_pq_trained",
    # r11 addition: the scale-safe exact NTILE twin
    "window_ntile_cuts",
]


def _cpu_stat() -> list[int]:
    """Aggregate /proc/stat cpu jiffies (user..guest_nice), [] if absent."""
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
        return [int(x) for x in first[1:]]
    except (OSError, ValueError):
        return []


def _steal_pct(before: list[int], after: list[int]) -> float | None:
    """CPU steal% over the bench window — the host-contention telltale.

    steal is /proc/stat field 8 (0-indexed 7); a high value means the
    hypervisor withheld CPU and wall-clock numbers are inflated through
    no fault of the measured code (BASELINE.md documents 3x swings)."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(a - b for a, b in zip(after, before))
    if total <= 0:
        return None
    return round(100.0 * (after[7] - before[7]) / total, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    registry.load_all()
    spark = get_spark(app_name="spark-graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/executors so query 1 doesn't pay session startup: codegen,
    # shuffle + broadcast machinery, AQE, and the parquet reader / FS init
    # paths — one tiny representative query touching all of them
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    li1 = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        10_000
    )
    dim = spark.range(10).select(F.col("id").alias("l_linenumber"))
    (
        li1.join(F.broadcast(dim), "l_linenumber")
        .groupBy("l_returnflag")
        .count()
        .collect()
    )

    # min of 3 runs per query: the first run pays per-query codegen and
    # any run is exposed to transient host contention (this VM shows up
    # to ~3x CPU-steal swings under load — see BASELINE.md; r5's close
    # read 1.27x on untouched code). The min over three is the stable,
    # cross-round-comparable number, and the recorded /proc/stat steal%
    # lets the next reader separate noise from regression mechanically.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    stat0 = _cpu_stat()
    times: dict[str, float] = {}
    # first (cold) run per query, BEFORE min-of-N: separates memo-hit
    # latency from the cold derivation for memo-consuming ops (VERDICT
    # r12 "What's wrong #2") — min-of-N stays the headline number, the
    # cold time is the attribution aid
    first_run: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        best = float("inf")
        for i in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            if i == 0:
                first_run[name] = round(dt, 3)
            best = min(best, dt)
        times[name] = round(best, 3)
    stat1 = _cpu_stat()

    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "steal_pct": _steal_pct(stat0, stat1),
        "runs_per_query": runs,
        "cpus": spark.sparkContext.defaultParallelism,
        "first_run_sec": first_run,
    }
    line = json.dumps(payload)
    # the driver keeps only the last ~2000 chars of stdout, and the full
    # per-query map no longer fits (BENCH_r04 recorded "parsed": null).
    # Persist the complete payload to a file, print it for humans, then
    # print a guaranteed-small JSON summary LAST so the driver's parse
    # always succeeds; the full per-query numbers live in BENCH_LAST.json.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
    )
    # movers digest vs the previous basis (VERDICT r12 task 2): the
    # summary line drops the full per-query map to fit the driver's
    # ~2000-char stdout capture, which left per-query comparisons blind
    # (PERF_r12 n_common: 0). Read the basis BEFORE overwriting it and
    # emit the top-15 per-query deltas — name: [prev, now] — plus the
    # basis provenance (cpus/steal) so a cross-core diff self-labels.
    basis_path = os.environ.get("SPARK_GRAFT_BENCH_BASIS", out_path)
    movers: dict[str, list[float]] = {}
    basis_meta = None
    try:
        with open(basis_path) as f:
            basis = json.loads(f.readline())
        prev_q = basis.get("queries") or {}
        import math

        deltas = sorted(
            (
                (abs(math.log(times[k] / prev_q[k])), k)
                for k in times
                if isinstance(prev_q.get(k), (int, float))
                and prev_q[k] > 0 and times[k] > 0
                and max(times[k], prev_q[k]) >= 0.25
            ),
            reverse=True,
        )
        movers = {k: [prev_q[k], times[k]] for _, k in deltas[:15]}
        basis_meta = {
            "total": basis.get("value"),
            "cpus": basis.get("cpus"),
            "steal_pct": basis.get("steal_pct"),
            "n_common": sum(1 for k in times if k in prev_q),
        }
    except (OSError, ValueError):
        pass
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line)
    summary = dict(payload)
    summary.pop("first_run_sec", None)
    if movers:
        summary["movers_vs_basis"] = movers
        summary["basis"] = basis_meta
    if len(json.dumps(summary)) > 1800:
        # keep the summary line comfortably inside the capture window:
        # per-query numbers move to the file; the headline total stays
        summary["queries"] = {"_full_per_query_map_in": "BENCH_LAST.json"}
        summary["n_queries"] = len(times)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
