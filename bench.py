"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query timing includes full plan execution (count-style action that
materializes every row) but not session startup. Queries run twice
warm-up-free is intentional: the driver records cold numbers,
comparable across rounds.

Since round 9 every query is CACHE-ISOLATED: tracked caches,
checkpoint blocks, and the itemset memo are released between queries,
so each number is the query's standalone cost regardless of sweep
order. Pre-r9 per-query lines are cache-context numbers (an earlier
query in the sweep could warm a shared cached subtree) — totals are
comparable across that boundary, individual lines are not.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.measure import Probe, measure_query, reps, start_session

# Headline set: one per operator family, weighted toward shuffle-heavy
# plans where scale behavior matters.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_outer_coalesce_order_status",
    "window_topk_orders_per_cust",
    "window_running_total",
    "events_tumbling_hourly",
    "doc_wordcount_topk",
    "tfidf_top_terms",
    "minhash_lsh_candidates",
    "jaccard_verified_pairs",
    "simhash_fingerprints",
    "knn_bruteforce_cosine",
    "rake_topk",
    "curation_pipeline",
    "lda_corpus_uci",
    "user_tag_tfidf_norm",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "media_meta_stats",
    "doc_pos_bigrams",
    "doc_bpe_token_stats",
    "lang_doc_ids_salted",
    "window_global_rownum",
    # the two heaviest iterative operators — benched so regressions in
    # the fixed-point iteration machinery are caught round-over-round
    "textrank_topk",
    "corpus_pagerank_topk",
    # LLM corpus-prep family (round 2): repetition filters (map-only
    # HOFs), sequence packing (per-shard window), int8 quantization,
    # benchmark decontamination, near-dup cluster resolution
    "doc_repetition_signals",
    "doc_pack_sequences",
    "embedding_int8_quant",
    "doc_benchmark_contamination",
    "dedup_cluster_reps",
    # round-3 regression cover for the green round-2 additions plus the
    # new learned-quantizer and streaming-twin families
    "events_cohort_retention",
    "events_multires_rollup",
    "stratified_sample_by_lang",
    "tfidf_hashed_top_terms",
    "doc_pii_masked",
    "candidate_phrase_mining",
    "stopword_masked_bigrams",
    "train_check_clean",
    "ann_ivf_kmeans_topk",
    "stream_session_windows_batch_twin",
    "stream_user_profile_batch_twin",
    "ann_pq_codes",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "stream_near_dup_batch_twin",
    # chunk-level boilerplate dedup + SemDeDup (round-3 additions)
    "doc_chunk_dedup",
    "embedding_semantic_dedup",
    # multimodal resize + feature-extract (round-3 additions)
    "media_resize_stats",
    "media_feature_extract",
    # round-4: the events family that silently broke when testdata
    # regenerated (catalog ts fix) — benched so a future drift shows up
    # as a bench crash, not a quiet gap — plus the remaining join
    # specials and the Python Data Source connector path
    "events_json_extract",
    "events_type_funnel",
    "window_lag_session_gap",
    "stream_dedup_batch_twin",
    "range_join_type_windows",
    "asof_click_to_view",
    "doc_quality_score",
    "doc_lang_id",
    "doc_fingerprint",
    "pyds_synthetic_events_agg",
    # round-4 family-widening: sliding windows, HLL sketch cardinality,
    # deeper TPC-H shapes, deterministic training shuffle
    "events_sliding_2h_1h",
    "events_distinct_users_hll",
    "q10_returned_item_customers",
    "q18_large_volume_orders",
    "corpus_shard_shuffle",
    "stream_click_attribution_batch_twin",
    "orders_quality_report",
    "salted_join_order_priority",
    "cdc_merge_apply",
    "events_value_histogram",
    "events_hourly_gapfill",
    "window_ntile_price_quartiles",
    "grouped_agg_weighted_median",
    "window_rank_distribution_funcs",
    "article_tagging_pipeline",
    "user_label_pipeline",
    "ngram_jaccard_index_pairs",
    "q6_forecast_revenue",
    "q4_priority_with_big_lines",
    "words_countmin_estimates",
    # round-5: exported-learned-centroid IVF (the fit-once production
    # shape) and the deeper TPC-H join/pushdown shapes
    "ann_ivf_export_centroids_topk",
    "q14_promo_revenue",
    "q19_disjunctive_filter",
    "q8_market_share",
    # round-5: the correlated-subquery half of TPC-H — all 22 shapes now
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_late_shipment_priority",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_parts_supplier_relationship",
    "q17_small_quantity_revenue",
    "q20_excess_stock_suppliers",
    "q21_sole_returned_supplier",
    "q22_global_sales_opportunity",
    "incremental_near_dup_ingest",
    "fuzzy_name_edit1_pairs",
    "weighted_sample_topk",
    "corpus_mixture_sample",
    "events_gapfill_interpolate",
    "dedup_label_prop_communities",
    "window_trailing_2h_range_frame",
    "sql_recursive_ancestor_chain",
    "variant_props_stats",
    "sql_udf_net_revenue",
    "bpe_merge_induction",
    "bpe_encode_stats",
    # round-5 late additions: substring-span dedup, graph density
    # (triangles / k-core), itemset mining, URL keys, snapshot diff
    "doc_dup_span_stats",
    "dedup_triangle_counts",
    "dedup_kcore_members",
    "token_cooccurrence_pairs",
    "token_assoc_rules",
    "url_canonicalize_collapse",
    "orders_snapshot_diff",
    "ann_hard_negatives",
    "doc_sliding_chunks",
    "user_day_overlap_error_storms",
    "events_value_winsorized",
    "corpus_train_val_test_split",
    "events_kmv_distinct_users",
    "events_exact_global_quantiles",
    "stream_unattributed_views_batch_twin",
    "pretrain_corpus_pipeline",
    "doc_corruption_mask_stats",
    "cross_source_dup_matrix",
    "near_dup_threshold_histogram",
    "token_pair_lift",
    # round-6: layout/runtime-filter primitives, sparse retrieval,
    # drift + corpus-engineering diagnostics, golden-record merge
    "zorder_pruning_stats",
    "bloom_prefilter_join_stats",
    "sparse_tfidf_topk_pairs",
    "corpus_token_drift",
    "vocab_coverage_curve",
    "orders_key_skew_report",
    "seqlen_bucket_waste",
    "dedup_golden_records",
    "stream_anomaly_batch_twin",
    "events_error_burst_recovery",
    "join_blowup_estimate",
    "excerpt_containment_pairs",
    "quality_dup_calibration",
    "events_kmv_merged_global",
    "lateral_top2_orders_per_cust",
    "events_strict_funnel_matches",
    "events_skip_funnel_matches",
    # round-7: pivot reshaping, KMV intersection algebra, time-weighted
    # average over irregular samples
    "events_pivot_daily_type_counts",
    "events_kmv_type_intersection",
    "events_time_weighted_value",
    "events_daily_drift_tv",
    "customer_rfm_segments",
    # round-7b: co-purchase CF + HITS (recommendation prep), unigram-LM
    # perplexity scoring, behavioral sequence stats
    "copurchase_cosine_topk",
    "orders_hits_authorities",
    "doc_unigram_surprise_topk",
    "events_markov_transitions",
    "user_event_entropy",
    "events_benford_digits",
    "stream_markov_batch_twin",
    "corpus_zipf_slope",
    # round-7c: skyline, exact trend slope, recency decay,
    # gaps-and-islands, order-2 sequences, RA link prediction
    "part_pareto_frontier",
    "events_trend_slope_per_type",
    "user_recency_weighted_value",
    "events_state_islands",
    "events_trigram_sequences",
    "supplier_ra_link_prediction",
    "bm25_search_topk",
    "lineitem_constraint_suite",
    "events_percentile_cont",
    "grid_closest_pairs_2d",
    "dedup_bfs_levels",
    "orders_partition_merkle",
    "orders_argmax_by_priority",
    "events_equidepth_bins",
    "events_rolling_7d_active_users",
    "events_changepoint_cusum",
    "events_signup_to_purchase_survival",
    "events_ab_split_rates",
    "doc_kwic_snippets",
    "orders_cohort_ltv_matrix",
    "customer_spend_gini",
    "user_first_last_flows",
    "events_autocorr_lags",
    "graph_message_passing_2hop",
    "events_nearest_view_per_error",
    "stream_kmv_batch_twin",
    "events_dow_profile",
    "events_error_pchart_days",
    "part_abc_classes",
    "customer_band_migration",
    "doc_token_positions_udtf",
    "ann_rank_metrics",
    "ann_rrf_fusion",
    "langid_eval_prf",
    "langid_cohens_kappa",
    "knn_label_noise",
    "events_position_attribution",
    "customer_item_recs_topk",
    "events_dow_adjusted_outliers",
    "user_activity_bitmask",
    "user_churn_features",
    "corpus_datacard",
    "events_interarrival_quantiles",
    "source_quality_profile",
    "supplier_scorecard",
    # round-8: curation/selection operators + the quantile sketch
    "label_centroid_outliers",
    "hard_negative_mining_grouped",
    "dsir_importance_weights",
    "stream_dsir_weights_batch_twin",
    "events_hdr_value_quantiles",
    # round-8b: sequential-recurrence and resampling-inference families
    "events_ewma_control_chart",
    "events_bootstrap_ci_mean",
    "stream_ewma_batch_twin",
    # round-9: model-based quality filter (frozen fastText-style head),
    # its streaming band-histogram twin, the curation funnel report,
    # and soft near-dup weights
    "doc_quality_model_score",
    "quality_model_lang_report",
    "stream_quality_bands_batch_twin",
    "curation_funnel_report",
    "dedup_soft_weights",
    "simhash_hamming_pairs",
    # round-9b: model-evaluation & calibration suite over the learned
    # quality head (rank-sum AUC, PR points, conformal thresholds,
    # Gini feature ranking, minimax-PAVA isotonic fit)
    "quality_model_auc",
    "quality_model_pr_points",
    "quality_conformal_thresholds",
    "token_label_gini_topk",
    "quality_isotonic_calibration",
    # round-9b: survival family (2nd sequential-recurrence member)
    "events_kaplan_meier",
    "events_logrank_test",
    "stream_hdr_batch_twin",
    "record_linkage_fs_scores",
    "quality_conformal_coverage",
    "dedup_community_modularity",
    "contrastive_pair_mining",
    "corpus_curriculum_assignment",
    "neardup_flavor_agreement",
    "source_score_quantile_norm",
    "events_bandit_replay_eval",
    "events_holt_forecast",
    "ann_matryoshka_recall",
    "events_ab_ztest",
    "privacy_k_anonymity_report",
    "events_session_metrics",
    "stream_holt_batch_twin",
    "embedding_split_centroid_drift",
    "privacy_l_diversity_report",
    "token_burstiness_topk",
    "quality_model_pr_auc",
    # round-10: broadcast-weight-table quality head (fastText-scale D)
    # + the SimHash streaming twin (15th stateful twin)
    "quality_model_score_bcast",
    "stream_simhash_dedup_batch_twin",
    "ann_binary_hamming_topk",
    "ann_binary_recall",
    "source_mixing_weights",
    "split_leakage_audit",
    "vocab_richness_estimates",
    "source_score_ks_matrix",
    "quality_keep_wilson_ci",
    # round-11: trained quality head (closed-form fit + held-out
    # scoring + AUC comparison + disagreement triage), exact-integer
    # PCA over embeddings, tolerance-stopped PageRank
    "quality_trained_head_score",
    "quality_trained_vs_frozen_auc",
    "quality_head_disagreement",
    "embedding_pca_top_direction",
    "embedding_pca_outliers",
    "corpus_pagerank_tol_topk",
    # round-12: streaming PCA moment sketch twin (16th stateful twin)
    # + top-2 deflated PCA directions and the 2-D spectral screen
    "stream_pca_moments_batch_twin",
    "embedding_pca_top2_directions",
    "embedding_pca_outliers2d",
    "doc_pos_unigrams",
)


#: byte budget for the driver-parsed stdout line. The driver's tail
#: window is 2000 chars (BENCH_r05/r06 tails are exactly 2000 with the
#: line head-truncated); ~500 chars of JVM/log preamble precede the
#: line, so 1400 keeps the whole line inside the parseable window.
STDOUT_LINE_BUDGET = 1400

#: SENTINEL comparison set (VERDICT r12 #2): the compact stdout line
#: used to carry only the slowest-N window, which is structurally
#: biased — improvements EXIT the window while regressions and
#: contention spikes ENTER it, so round-over-round PERF was computed
#: on a one-way-selected sample. These ~22 queries — one per operator
#: family, spanning scan/join/window/graph/ANN/text/streaming — are
#: ALWAYS included in the printed `queries` dict regardless of their
#: time, giving the driver a stable cross-round comparison surface.
#: NEVER rotate, rename, or remove entries; additions go at the end.
SENTINELS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_topk_orders_per_cust",
    "events_tumbling_hourly",
    "events_hdr_value_quantiles",
    "events_bootstrap_ci_mean",
    "tfidf_top_terms",
    "doc_quality_model_score",
    "minhash_lsh_candidates",
    "jaccard_verified_pairs",
    "simhash_hamming_pairs",
    "dedup_cluster_reps",
    "dedup_golden_records",
    "dedup_triangle_counts",
    "dedup_label_prop_communities",
    "corpus_pagerank_topk",
    "ann_ivf_kmeans_topk",
    "ann_ivfpq_topk",
    "knn_label_noise",
    "hard_negative_mining_grouped",
    "quality_trained_vs_frozen_auc",
    "customer_item_recs_topk",
    "customer_rfm_segments",
    "stream_near_dup_batch_twin",
    "bpe_merge_induction",
)


def prev_common_geomean(timings: dict, repo_dir: str, sf) -> float | None:
    """Geometric-mean speedup of this run vs the NEWEST committed
    round-close record at the same scale factor (BENCH_LOCAL_r{N}.json
    — full per-query dicts, test-gated complete), over ALL common
    queries. Gives the driver an unbiased round-over-round number in
    the stdout line itself instead of one re-derived from a biased
    slowest-window sample. None when no comparable record exists.
    Override the baseline with $SPARK_GRAFT_BENCH_PREV=path."""
    import glob
    import math
    import re

    path = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if not path:
        best = -1
        for cand in glob.glob(os.path.join(repo_dir, "BENCH_LOCAL_r*.json")):
            m = re.match(r"^BENCH_LOCAL_r(\d+)\.json$", os.path.basename(cand))
            if m and int(m.group(1)) > best:
                best, path = int(m.group(1)), cand
    if not path or not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return None
    if prev.get("sf") != sf:
        return None
    common = [
        k
        for k, v in prev.get("queries", {}).items()
        if k in timings and v > 0 and timings[k] > 0
    ]
    if len(common) < 20:
        return None
    logsum = sum(math.log(prev["queries"][k] / timings[k]) for k in common)
    return round(math.exp(logsum / len(common)), 3)


def compact_stdout_line(payload: dict, timings: dict, record_name: str) -> str:
    """The driver-facing stdout line: the full payload if it fits the
    tail window, else the contract shape with `queries` trimmed to the
    SENTINEL set (always, stable cross-round) plus the slowest
    remaining entries that fit, `n_queries` (full count) and
    `full_record` (the committed file carrying every number)."""
    line = json.dumps(payload)
    if len(line) <= STDOUT_LINE_BUDGET:
        return line
    compact = dict(
        payload,
        queries={},
        n_queries=len(timings),
        full_record=record_name,
    )
    compact.pop("spread", None)  # full spread lives in the OUT file
    ordered = [n for n in SENTINELS if n in timings] + sorted(
        (n for n in timings if n not in SENTINELS),
        key=lambda n: -timings[n],
    )
    for name in ordered:
        trial = dict(compact, queries={**compact["queries"], name: timings[name]})
        if len(json.dumps(trial)) > STDOUT_LINE_BUDGET:
            break
        compact = trial
    # final guard (ADVICE r11): if even the minimal object exceeds the
    # budget (pathologically long record name), drop optional fields
    # rather than emit a line the driver's tail window would truncate
    # mid-JSON — the contract fields (metric/value/unit/sf) always fit.
    if len(json.dumps(compact)) > STDOUT_LINE_BUDGET:
        for field in ("full_record", "queries", "n_queries"):
            compact.pop(field, None)
            if len(json.dumps(compact)) <= STDOUT_LINE_BUDGET:
                break
    return json.dumps(compact)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session(sf_dir)
    probe = Probe(spark)

    # VERDICT r9 #6: per-query numbers at 1 rep ride a ±25% VM band —
    # too noisy to verify directive targets one-read. SPARK_GRAFT_BENCH_REPS
    # > 1 runs each query N times (cache-isolated between reps, identical
    # discipline) and records the MEDIAN, with [min, max] in `spread`.
    # Default stays 1 so the driver's per-round recording keeps its
    # historical cost and stays comparable to earlier rounds; round-close
    # committed records (BENCH_LOCAL_r{N} / BENCH_SF1_r{N}) use REPS=3.
    n_reps = reps()
    # SPARK_GRAFT_BENCH_STAT=min (r13, VERDICT r12 #8): this host's
    # contention windows inflate individual reps 2-6x; best-of-N floors
    # are the noise-robust statistic for COMMITTED records. The driver
    # default stays median so its own runs keep historical semantics.
    stat = os.environ.get("SPARK_GRAFT_BENCH_STAT", "median")
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        # Each rep is cache-isolated (VERDICT r8 #1) and timed as fn()
        # plus the noop write, by the loop in tools/measure.py.
        samples = measure_query(spark, probe, sf_dir, name, n_reps)["samples"]
        timings[name] = (
            samples[0] if stat == "min" else samples[len(samples) // 2]
        )
        if n_reps > 1:
            spread[name] = [samples[0], samples[-1]]
    probe.close()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if spread:
        payload["reps"] = n_reps
        payload["spread"] = spread
    if stat != "median":
        payload["stat"] = stat  # committed min-records are self-describing
    # unbiased round-over-round signal in the line itself (r13): only
    # at the main 32-core config — a scaling run's numbers are not
    # comparable to the committed 32-core records
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if cpus == "32":
        g = prev_common_geomean(timings, repo_dir, sf_val)
        if g is not None:
            payload["prev_common_geomean"] = g
    line = json.dumps(payload)
    # Persist the COMPLETE per-query record to a file (commit it as
    # BENCH_LOCAL_r{N}.json at round close). Default name is keyed by
    # (sf, cpus) — VERDICT r12 #2: the driver's 8-core scaling run used
    # to OVERWRITE the 32-core full record (r12's BENCH_LOCAL.json
    # mtime matched the c8 run).
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(repo_dir, f"BENCH_LOCAL_sf{sf}_c{cpus}.json"),
    )
    with open(out, "w", encoding="utf-8") as fh:
        fh.write(line + "\n")
    # ... but print a COMPACT line to stdout. VERDICT r10 #8 asked for
    # the FULL dict in the driver-parsed stdout line; that is
    # structurally impossible: the driver keeps a 2000-char stdout tail
    # (measured — BENCH_r05/r06.json both record len(tail) == 2000 with
    # the full dict head-truncated and "parsed": null, r07+ record
    # <2000 with the compact line parsed), and a 250-query dict is
    # ~7 KB. The printed line therefore keeps the contract shape
    # (metric/value/unit/queries/sf) but trims `queries` to the slowest
    # entries that fit the capture window; `n_queries` records the full
    # count and `full_record` names the committed file that carries
    # every number (gated complete by tests/test_bench_artifacts.py).
    line = compact_stdout_line(payload, timings, os.path.basename(out))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
