#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Stdout layout (truncation-proof — the driver captures only the LAST
2000 chars of stdout, which ate round 5's single long JSON line):

  line 1: the FULL detail JSON (all per-query best + median timings) —
          also written to BENCH_SELF.json next to this script;
  final line: a COMPACT summary JSON (< 1900 chars) with the totals, the
          fixed round-4 40-query subset totals for round-over-round
          comparison, and only the 10 slowest per-query timings.

A tail-capturing driver always gets the complete final line; a human
running ``python bench.py`` sees the full map on line 1; the committed
``BENCH_SELF.json`` carries everything either way.

Every headline capture follows one protocol:

1. Warm-up: one uncounted lineitem scan and one uncounted run of the
   first key, so JVM/JIT, codegen and footer reads aren't billed to it.
2. Bounded spin: a fixed-work CPU probe repeats (at most 8 times) until
   it reads within 1.4x of ``CAL_REF_SEC``; the spin count is recorded.
3. CPU brackets: one probe reading before and one after the sweep,
   recorded as context. Nothing is divided by them.
4. Sweep: each key runs N times (``SPARK_GRAFT_BENCH_RUNS``, default 5),
   timed through plan + execution to a ``count()`` action; the raw
   best-of-N and the median are recorded per key.

The side modes (``--scaling``, ``--scaling-100x``, ``--streaming``,
``--duck-anchor``) each write their own section of BENCH_SELF.json and
keep every other section.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_SELF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json")

# The sections the side modes own in BENCH_SELF.json; every other
# top-level key belongs to the headline capture.
SIDE_SECTIONS = ("scaling", "scaling_100x", "streaming", "duck_anchor")


def _read_capture() -> dict:
    """BENCH_SELF.json as a dict; a missing or corrupt file reads as ``{}``."""
    try:
        with open(BENCH_SELF) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}


def _merge_capture(name: str, section: dict | None) -> None:
    """Write one section of BENCH_SELF.json and keep every other one.

    ``"headline"`` replaces the top-level headline fields. A side section
    is replaced whole, or dropped when ``section`` is None — except
    ``scaling_100x``, which a long sweep writes after every key: its
    per-key rows accumulate across writes and ``n_super_linear`` is
    recounted over all of them."""
    doc = _read_capture()
    if name == "headline":
        doc = {**section, **{k: doc[k] for k in SIDE_SECTIONS if k in doc}}
    elif section is None:
        doc.pop(name, None)
    elif name == "scaling_100x":
        merged = doc.setdefault(name, {})
        queries = {**merged.get("queries", {}), **section.get("queries", {})}
        merged.update(section, queries=queries)
        merged["n_super_linear"] = sum(1 for r in queries.values() if r.get("super_linear"))
    else:
        doc[name] = section
    with open(BENCH_SELF, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")


# Headline set: the flagship + the most scale-relevant operator families.
# Falls back gracefully if a name isn't registered yet.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_profit_by_nation",
    "q18_large_orders",
    "project_filter_glob",
    "sort_limit_topk",
    "distinct_sorted",
    "set_operations",
    "join_revenue_by_region",
    "join_asof",
    "window_topk_per_group",
    "agg_rollup_daily",
    "agg_percentiles",
    "events_tumbling_window",
    "events_session_window",
    "json_extract_props",
    "variant_props_stats",
    "pivot_status",
    "pandas_udf_scalar",
    "embedding_norms_arrow",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "embedding_neardup",
    "similarity_topk",
    "similarity_topk_lsh",
    "similarity_topk_vectorized",
    "text_stats",
    "text_lang_id",
    "text_token_count",
    "events_funnel",
    "events_dau_bitmap",
    "events_wau_exact",
    "corpus_span_overlap",
    "stratified_sample_by_lang",
    "sample_hash_split",
    "latest_snapshot",
    # round-5 rewrites (ex-single-task windows) + the skew spill metric:
    "window_ntile_distribution",
    "customer_rfm_segments",
    "customer_pareto",
    "dedup_band_spill_report",
    # round-5 additions: semantic (k-means / SemDeDup) family + corpus export
    "semantic_cluster_refine",
    "semantic_dedup",
    "token_budget_sample",
    "source_overlap_matrix",
    "export_training_shards",
    "quality_quantile_filter_by_lang",
    "corpus_incremental_dedup",
    # round-5 late additions: span-level dedup, graph analytics, sketches, PQ
    "paragraph_dedup",
    "graph_triangle_count",
    "events_heavy_hitters_sketch",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "decontaminate_bloom",
    "events_freq_cms",
    "basket_rules",
    "sql_udf_text_metrics",
    "scd2_as_of",
    "agg_histogram_equidepth",
    # round-6 additions: retrieval, collocation stats, attribution, LM-proxy
    "text_bm25_search",
    "text_collocations_pmi",
    "events_attribution_last_touch",
    "text_unigram_logppl",
    "events_markov_transitions",
    "orders_price_trend_ols",
    # round-6 continuation: k-core, vocab coverage curve, exact EWMA
    "graph_kcore",
    "text_vocab_coverage",
    "events_user_ewma",
    "text_bigram_logppl",
    "events_cumulative_distinct_users",
    "embedding_covariance",
    "events_drift_psi",
    "embedding_pca_project",
    "table_checksum_audit",
    "orders_forecast_holt",
    "events_ab_test",
    # round 7: tokenizer-training primitive, link prediction, arrow kernel
    "text_bpe_merge_candidates",
    "graph_jaccard_linkpred",
    "apply_in_arrow_grouped",
    "text_bpe_train",
    "events_changepoint_cusum",
    "source_mix_temperature",
    "quality_percentile_by_source",
    "embedding_outlier_centroid",
    "corpus_token_zipf",
    "orders_seasonality_weekday",
    "text_js_divergence_sources",
    "events_interarrival_by_type",
    "text_lexical_diversity",
    "label_quality_profile",
    "similarity_topk_hamming",
    "graph_assortativity",
    "events_activity_streaks",
    "orders_abc_analysis",
    "sql_pipe_syntax",
    "dedup_minhash_accuracy",
    "events_dau_mau_stickiness",
    "events_ks_test",
    "events_rolling_zscore",
    "text_char_entropy",
    "shard_balance_audit",
    "agg_weighted_median",
    "events_benford_audit",
    "orders_repeat_cohort",
    # round 8: control-plane dogfood, hypothesis tests, modularity, Gopher
    "jobs_run_history_stats",
    "stats_mannwhitney_events",
    "stats_spearman_quality_length",
    "stats_chi2_type_by_split",
    "graph_modularity",
    "text_gopher_quality",
    "embedding_matryoshka_audit",
    "text_dsir_importance",
    "join_duplicate_payments",
    "text_tfidf_source_keywords",
    "orders_demand_variability_xyz",
    "events_markov_entropy_rate",
    "orders_gini_customers",
    "text_bigram_kn_logppl",
    "text_langid_confusion",
    "supplier_lead_time_percentiles",
    "customer_segment_migration",
    "stats_anova_oneway",
    "stats_kruskal_wallis",
    "events_powerlaw_mle",
    "text_dup_ngram_fraction",
    "quality_classifier_linear",
    "similarity_range_radius",
    "events_did_uplift",
    "events_attribution_position",
    "text_ppl_buckets",
    "stats_kendall_tau_binned",
    "events_survival_km",
    "stats_cohens_kappa",
    "join_asof_nearest",
    "orders_bootstrap_ci_poisson",
    "graph_hits_bipartite",
    "quality_signal_agreement",
    "events_sequence_match",
    "text_rake_keyphrases",
    "stats_brown_forsythe",
    "text_heaps_law_fit",
    "events_periodogram_dft",
    "stats_welch_ttest",
    "stats_jarque_bera",
    "stats_cramers_v",
    "stats_ljung_box",
    "stats_theil_sen",
    "orders_herfindahl",
    "graph_clustering_coefficient",
    "text_ngram_novelty_decay",
    "events_bounce_rate_sessions",
    "text_bpe_apply",
    "similarity_silhouette",
    "stats_multiple_testing_bh",
    "stats_hurst_exponent",
    "stats_runs_test",
    "events_time_to_convert",
    "quality_classifier_auc",
    "text_burstiness",
    "similarity_topk_filtered",
    "events_peak_concurrency",
    "part_skyline_pareto",
    "corpus_mix_budget",
    "orders_croston_intermittent",
    "text_simhash_bit_balance",
    "json_schema_drift",
    "events_session_type_pmi",
    "orders_seasonality_anova",
    "dedup_cluster_histogram",
    "events_ab_test_cuped",
    "text_mattr_diversity",
    "multimodal_payload_dedup",
    "orders_round_number_bias",
    "events_power_analysis",
    "quality_variance_icc",
    # round-9 wave 1
    "text_good_turing_vocab",
    "text_token_fertility",
    "dedup_fuzzy_name_pairs",
    "stats_mutual_information",
    "stats_grubbs_daily",
    "stats_wilcoxon_signed_rank",
    "stats_mann_kendall",
    "agg_trimmed_winsorized",
    "events_conformal_interval",
    "similarity_mmr_rerank",
    "quality_ece_calibration",
    "similarity_knn_label_accuracy",
    "graph_bounded_sssp",
    "orders_newsvendor_quantile",
    "events_qini_uplift",
    "stats_permutation_test",
    "events_weekly_decompose",
    "orders_price_elasticity",
    "quality_brier_score",
    "events_path_topk",
    "events_retention_decay_fit",
    "text_compression_ratio",
    "text_unicode_script_profile",
    "stats_anderson_darling",
    "dedup_fuzzy_clusters",
    "quality_pr_curve",
    "text_sentence_stats",
    "similarity_item_cf",
    "events_markov_accuracy",
    "dedup_threshold_sensitivity",
    "corpus_dedup_quality_audit",
    # round-10 additions
    "similarity_knn_label_accuracy_ivf",
    "stats_dunn_posthoc",
    "stats_friedman_test",
    "stats_partial_correlation",
    "text_token_coverage_curve",
    "text_token_length_entropy",
    "text_lang_trigram_similarity",
    "corpus_epoch_schedule",
    "similarity_ann_recall_curve",
    "embedding_pq_distortion",
    "dedup_weighted_jaccard",
    "orders_backlog_aging",
    "similarity_cluster_purity",
    "events_churn_risk_buckets",
    "graph_degree_distribution",
    "stats_median_ci_order",
    "quality_drift_psi",
    "orders_basket_size_histogram",
    "embedding_dimension_variance",
    "dedup_band_sweep",
    "dedup_storage_savings",
    "text_doc_length_gini",
    "events_dow_hour_profile",
    "text_source_lang_coverage",
    # -- round 11 --
    "events_hazard_rate",
    "stats_autocorrelation",
    "orders_lorenz_curve",
    "stats_levene_bf",
    "text_readability_ari",
    "graph_adamic_adar",
    "orders_interpurchase_gaps",
    "stats_grubbs_test",
    "text_pii_pattern_scan",
    "text_html_tag_residue",
    # -- round 12 (added during the optimization round: additions only,
    #    per the bench contract — existing entries never renamed/removed) --
    "dedup_substring_runs",
    "dedup_substring_profile",
    "dedup_substring_source_matrix",
    "dedup_levenshtein_rescore",
    "stats_ks_test",
    "stats_wasserstein_1d",
    "text_readability_flesch",
    "graph_harmonic_2hop",
    "events_funnel_latency",
    "stats_mcnemar_filters",
    "text_token_diversity",
    "similarity_ndcg_eval",
    "stats_cochran_q",
]

# The round-4 bench set (BENCH_r04.json's 40 keys == the first 40
# HEADLINE entries, through latest_snapshot). Its subtotal is reported as
# its own field every round so round-over-round comparison is a fixed
# like-for-like subset, independent of how many queries HEADLINE grows.
R4_SUBSET = HEADLINE[:40]
assert R4_SUBSET[-1] == "latest_snapshot"

# The heavy family timed by `python bench.py --scaling`: sf0.1 vs a
# deterministic 10x scale-up (tools/make_scale.py), per-query ratios.
# These are the operators whose scale story rests on caps/plan shape —
# the ratio column is the evidence the curves bend the right way.
SCALING_SUBSET = [
    "q1_pricing_summary",
    "q9_profit_by_nation",
    "join_revenue_by_region",
    "customer_rfm_segments",
    "table_checksum_audit",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "paragraph_dedup",
    "dedup_containment_pairs",
    "embedding_neardup",
    "semantic_dedup",
    "semantic_cluster_refine",
    "similarity_topk_vectorized",
    "similarity_topk_lsh",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "similarity_topk_ivfpq_refine",
    "graph_triangle_count",
    "graph_kcore",
    "graph_pagerank",
    "graph_communities_lpa",
    "embedding_covariance",
    "embedding_pca_project",
    "text_bm25_search",
    "text_bigram_logppl",
    "text_bpe_merge_candidates",
    "text_bpe_train",
    "graph_jaccard_linkpred",
    "events_cumulative_distinct_users",
    "graph_assortativity",
    "text_js_divergence_sources",
    "embedding_outlier_centroid",
    "quality_percentile_by_source",
    "similarity_topk_hamming",
    "events_changepoint_cusum",
    "stats_mannwhitney_events",
    "stats_spearman_quality_length",
    "graph_modularity",
    "text_gopher_quality",
    "text_dsir_importance",
    "text_bigram_kn_logppl",
    "text_dup_ngram_fraction",
    "quality_classifier_linear",
    "stats_kruskal_wallis",
    "similarity_range_radius",
    "multimodal_phash_neardup",
    "text_bpe_apply",
    "text_ngram_novelty_decay",
    "text_burstiness",
    "quality_classifier_auc",
    "graph_clustering_coefficient",
    "similarity_topk_filtered",
    "events_peak_concurrency",
    # round-9 additions: the heaviest round-8 operators that predated the
    # r8 scaling capture (VERDICT r8 task 5)
    "graph_hits_bipartite",
    "similarity_silhouette",
    "quality_signal_agreement",
    "events_sequence_match",
    "dedup_cluster_histogram",
    "corpus_mix_budget",
    "stats_theil_sen",
    "events_survival_km",
    "text_tfidf_source_keywords",
    "text_mattr_diversity",
    "text_heaps_law_fit",
    "multimodal_payload_dedup",
    "stats_hurst_exponent",
    "orders_croston_intermittent",
    # round-9 wave 1: dictionary-shaped newcomers whose curves must stay
    # sub-linear (value/name/residual dictionaries, calendar-bounded pairs)
    "text_good_turing_vocab",
    "dedup_fuzzy_name_pairs",
    "stats_wilcoxon_signed_rank",
    "stats_mann_kendall",
    "agg_trimmed_winsorized",
    "events_conformal_interval",
    # round-10: the round-9 heavy hitters (VERDICT r9 task 7) plus the
    # new IVF kNN rung — its curve should stay flatter than the
    # brute-force rung it shadows (nprobe/nlist scan fraction).
    "corpus_dedup_quality_audit",
    "dedup_fuzzy_clusters",
    "similarity_item_cf",
    "similarity_knn_label_accuracy",
    "similarity_knn_label_accuracy_ivf",
    # round-10 late waves: the shingle/signature-heavy newcomers and the
    # dictionary-shaped margins (curves must stay sub-linear)
    "dedup_band_sweep",
    "dedup_weighted_jaccard",
    "dedup_storage_savings",
    "quality_drift_psi",
    "graph_degree_distribution",
    "text_doc_length_gini",
    "text_lang_trigram_similarity",
    "embedding_pq_distortion",
]


def run_scaling() -> None:
    """Time SCALING_SUBSET at sf0.1 and the 10x scale-up side by side.

    Writes a ``scaling`` section into BENCH_SELF.json (merged, so the
    driver's plain-bench fields survive) and prints one compact JSON
    line. ``ratio`` is t(sf1.0)/t(sf0.1); with a 10x data factor, a
    ratio materially above 10 means super-linear work — flagged.
    """
    from gluettalax_spark import registry
    from gluettalax_spark.session import get_spark

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from make_scale import ensure_scaled

    big_dir = ensure_scaled()
    spark = get_spark("gluettalax-bench-scaling")
    specs = registry.all_queries()
    names = [n for n in SCALING_SUBSET if n in specs]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    factor = 10.0

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    results: dict[str, dict] = {}
    for name in names:
        builder = specs[name].builder
        row: dict[str, float | bool] = {}
        for label, d in (("sf0.1", SF_DIR), ("sf1.0", big_dir)):
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                builder(spark, d).count()
                samples.append(time.perf_counter() - t0)
            row[label] = round(min(samples), 4)
        row["ratio"] = round(row["sf1.0"] / row["sf0.1"], 2)
        # 1.3 slack over the data factor absorbs timer noise on sub-second
        # baselines; anything past it is growing faster than the data.
        row["super_linear"] = row["ratio"] > factor * 1.3
        results[name] = row
        print(
            f"  {name}: {row['sf0.1']}s -> {row['sf1.0']}s (x{row['ratio']})"
            + ("  ** SUPER-LINEAR" if row["super_linear"] else ""),
            file=sys.stderr,
            flush=True,
        )

    section = {
        "data_factor": factor,
        "runs_per_query": runs,
        "timing": "warm best-of-N, count() action",
        "queries": results,
        "n_super_linear": sum(1 for r in results.values() if r["super_linear"]),
        "total_sf0.1": round(sum(r["sf0.1"] for r in results.values()), 4),
        "total_sf1.0": round(sum(r["sf1.0"] for r in results.values()), 4),
    }
    _merge_capture("scaling", section)
    compact = {
        "metric": "scaling_10x",
        "n_queries": len(results),
        "n_super_linear": section["n_super_linear"],
        "total_sf0.1": section["total_sf0.1"],
        "total_sf1.0": section["total_sf1.0"],
        "worst": dict(sorted(((n, r["ratio"]) for n, r in results.items()),
                             key=lambda kv: -kv[1])[:8]),
    }
    print(json.dumps(compact), flush=True)
    spark.stop()


# The 100× rehearsal family (`python bench.py --scaling-100x`): the
# heaviest operators from the 10× capture (BENCH_SELF "scaling", sf1.0
# column) plus the cap-observability rung. Wall-clock at sf10 makes a
# full SCALING_SUBSET sweep impractical; these are the curves whose
# bend actually decides the 100 TB story (VERDICT r10 task #4).
SCALING_100X_SUBSET = [
    "similarity_knn_label_accuracy_ivf",  # IVF rung — must stay flatter...
    "similarity_knn_label_accuracy",      # ...than this brute-force rung
    "embedding_covariance",
    "embedding_neardup",
    "text_bigram_logppl",
    "graph_hits_bipartite",
    "similarity_topk_hamming",
    "graph_modularity",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "corpus_dedup_quality_audit",
    "similarity_item_cf",
    "stats_spearman_quality_length",
    "quality_signal_agreement",
    "graph_clustering_coefficient",
    "dedup_band_spill_report",  # the cap witness: over-cap buckets MUST engage
]


def _release_sweep_memory(spark) -> None:
    """Between-operator hygiene for the long sf10 sweeps (VERDICT r11
    task #4): localCheckpoint blocks from completed operators pile up in
    the single local-mode heap (Spark's ContextCleaner only unpersists
    once the py4j refs are GC'd, which lags a sequential sweep badly
    enough that the r11 run needed SPARK_GRAFT_DRIVER_MEM=48g — the sf10
    HITS edge-distinct was just the op that hit the ceiling, not the op
    that filled the room). Drop every registered session-scoped
    DataFrame memo (each rebuilds on next use), then unpersist every
    remaining storage block — nothing else holds a checkpointed frame
    across operators, so this is safe by construction."""
    import gc

    from gluettalax_spark.memory import clear_session_df_caches

    # Every registered session-scoped DataFrame memo (classifier logits,
    # BPE dictionaries, IVF assignments) must drop WITH its blocks — the
    # unpersist-all below otherwise leaves them pointing at dead checkpoint
    # blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next consumer, r12 sweep).
    clear_session_df_caches()
    gc.collect()  # release py4j refs so unpersist below frees the blocks
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def run_scaling_100x() -> None:
    """Time SCALING_100X_SUBSET at sf0.1 and a deterministic 100× scale-up
    (sf10, ~1.7 GB) side by side — the dress rehearsal for the 100 TB
    claim two orders of magnitude above the bench SF. Writes a
    ``scaling_100x`` section into BENCH_SELF.json; a ratio materially
    above 100 (> 130, same 1.3 slack as the 10× sweep) flags super-linear
    work. Also records the over-cap band count from
    ``dedup_band_spill_report`` at sf10 — the caps must ENGAGE at this
    scale (a zero there would mean the duplicate-group quadratics were
    never actually exercised)."""
    from gluettalax_spark import registry
    from gluettalax_spark.session import get_spark

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from make_scale import REPO, ensure_scaled

    big_dir = ensure_scaled(dst=os.path.join(REPO, ".scaledata", "sf10"), factor=100)
    spark = get_spark("gluettalax-bench-scaling-100x")
    specs = registry.all_queries()
    # Round-12 broadening (VERDICT r11 task #5): the 16 hand-picked heavy
    # keys PLUS the whole like-for-like r4 subset — the full headline mix
    # must survive the 100× rehearsal, not just the curves we worried
    # about. fixture_scale_only instrumentation twins are skipped and
    # logged (silent caps read as coverage).
    extra = [n for n in R4_SUBSET if n in specs and n not in SCALING_100X_SUBSET]
    skipped = [n for n in extra if specs[n].fixture_scale_only]
    if skipped:
        print(f"  skipping fixture-scale-only at sf10: {skipped}", file=sys.stderr, flush=True)
    names = [n for n in SCALING_100X_SUBSET if n in specs] + [
        n for n in extra if not specs[n].fixture_scale_only
    ]
    # Resume knob (the validate_contract.py convention): a 100× sweep is
    # tens of minutes, and an OOM partway through shouldn't re-pay the
    # measured prefix — completed rows merge into the existing section.
    start_after = os.environ.get("SPARK_GRAFT_100X_START_AFTER")
    if start_after in names:
        names = names[names.index(start_after) + 1 :]
    else:
        # Fresh capture: drop the previous round's section so the
        # incremental merge below can't mix stale per-key rows into
        # this sweep's totals. (A resume keeps them by design.)
        _merge_capture("scaling_100x", None)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    factor = 100.0

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    results: dict[str, dict] = {}
    for name in names:
        builder = specs[name].builder
        row: dict[str, float | bool] = {}
        for label, d in (("sf0.1", SF_DIR), ("sf10", big_dir)):
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                builder(spark, d).count()
                samples.append(time.perf_counter() - t0)
                # Release AFTER EVERY RUN: each builder call checkpoints
                # fresh blocks, so the previous run's are pure garbage —
                # at sf10 two runs of deserialized edge blocks plus the
                # join's execution memory is exactly the 8 GiB OOM the
                # r11 sweep hit (the release sits outside the timer).
                _release_sweep_memory(spark)
            row[label] = round(min(samples), 4)
        row["ratio"] = round(row["sf10"] / row["sf0.1"], 2)
        row["super_linear"] = row["ratio"] > factor * 1.3
        results[name] = row
        # Write incrementally: a crash partway must not lose the
        # measured prefix (the resume knob then skips what's recorded).
        _merge_capture(
            "scaling_100x",
            {"data_factor": factor, "runs_per_query": runs, "queries": dict(results)},
        )
        print(
            f"  {name}: {row['sf0.1']}s -> {row['sf10']}s (x{row['ratio']})"
            + ("  ** SUPER-LINEAR" if row["super_linear"] else ""),
            file=sys.stderr,
            flush=True,
        )

    # Cap witness: how many (band, bucket) groups exceeded the LSH band
    # cap at sf10 (size-100 duplicate groups by construction).
    # The report returns ONE ROW PER over-cap bucket (0 rows on a healthy
    # corpus) — at sf10 every doc has 100 byte-identical copies, so the
    # count must be positive or the caps never actually fired.
    overcap = None
    if "dedup_band_spill_report" in specs:
        overcap = specs["dedup_band_spill_report"].builder(spark, big_dir).count()

    # Streaming twins at sf10 (task #5): drain each stateful twin over
    # BOTH fixtures through a noop sink — the memory sink would hoard
    # every output row in the one local-mode heap, which is exactly the
    # accumulation this sweep exists to catch, so throughput is measured
    # without it. availableNow + explicit temp checkpoint per run.
    if os.environ.get("SPARK_GRAFT_100X_SKIP_STREAMING", "").lower() != "true":
        import tempfile

        import gluettalax_spark.streaming.stateful as st
        import gluettalax_spark.streaming.windows as sw

        # Crash-safe resume, same contract as the batch loop: twins
        # already recorded in the file's streaming section are carried,
        # not re-drained (a fresh capture deleted the whole section
        # above, so this only engages on a resume).
        stream_results: dict[str, dict] = dict(
            _read_capture().get("scaling_100x", {}).get("streaming", {}).get("queries", {})
        )
        for name, mode in STREAMING_SUBSET:
            if name in stream_results:
                print(f"  [stream] {name}: carried from resume", file=sys.stderr, flush=True)
                continue
            builder = getattr(st, name, None) or getattr(sw, name)
            srow: dict[str, float | bool] = {}
            for label, d in (("sf0.1", SF_DIR), ("sf10", big_dir)):
                df = builder(spark, d)
                with tempfile.TemporaryDirectory(prefix="sweep100x_ckpt_") as ckpt:
                    t0 = time.perf_counter()
                    q = (
                        df.writeStream.outputMode(mode)
                        .format("noop")
                        .option("checkpointLocation", ckpt)
                        .trigger(availableNow=True)
                        .start()
                    )
                    try:
                        q.processAllAvailable()
                    finally:
                        q.stop()
                    srow[label] = round(time.perf_counter() - t0, 4)
                _release_sweep_memory(spark)
            srow["ratio"] = round(srow["sf10"] / srow["sf0.1"], 2)
            srow["super_linear"] = srow["ratio"] > factor * 1.3
            stream_results[name] = srow
            # Incremental persistence (the batch loop's discipline): a
            # hang mid-twin must not lose the drained prefix.
            _merge_capture(
                "scaling_100x",
                {
                    "streaming": {
                        "queries": dict(stream_results),
                        "n_super_linear": sum(
                            1 for r in stream_results.values() if r["super_linear"]
                        ),
                    }
                },
            )
            _release_sweep_memory(spark)
            print(
                f"  [stream] {name}: {srow['sf0.1']}s -> {srow['sf10']}s (x{srow['ratio']})"
                + ("  ** SUPER-LINEAR" if srow["super_linear"] else ""),
                file=sys.stderr,
                flush=True,
            )

    # Totals over every row of the section: this sweep's plus, on a
    # resume, the prefix an earlier run recorded.
    prior = _read_capture().get("scaling_100x", {})
    results = {**prior.get("queries", {}), **results}

    ivf, brute = results.get("similarity_knn_label_accuracy_ivf"), results.get(
        "similarity_knn_label_accuracy"
    )
    section = {
        "data_factor": factor,
        "runs_per_query": runs,
        "timing": "warm best-of-N, count() action",
        "queries": results,
        "n_super_linear": sum(1 for r in results.values() if r["super_linear"]),
        "total_sf0.1": round(sum(r["sf0.1"] for r in results.values()), 4),
        "total_sf10": round(sum(r["sf10"] for r in results.values()), 4),
        "band_cap_groups_engaged_sf10": overcap,
        "ivf_flatter_than_brute": (
            bool(ivf and brute and ivf["ratio"] < brute["ratio"]) if ivf and brute else None
        ),
    }
    # The streaming subsection was written twin by twin above (or kept
    # from an earlier run when the streaming pass is skipped).
    if "streaming" in prior:
        section["streaming"] = prior["streaming"]
    _merge_capture("scaling_100x", section)
    compact = {
        "metric": "scaling_100x",
        "n_queries": len(results),
        "n_super_linear": section["n_super_linear"],
        "n_streaming": len(section.get("streaming", {}).get("queries", {})),
        "n_streaming_super_linear": section.get("streaming", {}).get("n_super_linear"),
        "total_sf0.1": section["total_sf0.1"],
        "total_sf10": section["total_sf10"],
        "ivf_flatter_than_brute": section["ivf_flatter_than_brute"],
        "worst": dict(sorted(((n, r["ratio"]) for n, r in results.items()),
                             key=lambda kv: -kv[1])[:8]),
    }
    print(json.dumps(compact), flush=True)
    spark.stop()


# Reference reading of the CPU probe below, pinned on an idle machine
# (warm in-session best-of-3: 0.250 s). The bounded spin before the sweep
# waits for the probe to read within 1.4x of it, so every capture starts
# from the machine state the pin was taken in; the before/after brackets
# are recorded next to it as context, and the timings stay raw.
CAL_REF_SEC = 0.25


def _calibration_probe(spark) -> float:
    """Fixed-size machine-speed probe: 20M-row range → modular arithmetic
    → 997-key hash aggregate. No I/O, no SF dependence — the same work
    every capture, so its timing isolates VM speed from code changes.
    Best-of-3 (the noise being measured is slow outliers, not fast ones).
    """
    from pyspark.sql import functions as F

    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000, numPartitions=10)
            .select(
                (F.col("id") % 997).alias("k"),
                ((F.col("id") * 2654435761) % 2147483647).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .count()
        )
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 4)


def main() -> None:
    from gluettalax_spark import registry
    from gluettalax_spark.session import get_spark, tune_for_fixture

    spark = get_spark("gluettalax-bench")
    # Scheduler-floor attack (r12): initial shuffle partitions sized to
    # the fixture, so a 17 MB bench run stops paying 32 reduce tasks of
    # dispatch per shuffle. Recorded in the JSON for like-for-like reads.
    shuffle_parts = tune_for_fixture(spark, SF_DIR)
    specs = registry.all_queries()
    names = [n for n in HEADLINE if n in specs] or sorted(specs)

    sf = None
    try:
        base = os.path.basename(SF_DIR.rstrip("/"))
        if base.startswith("sf"):
            sf = float(base[2:])
    except ValueError:
        pass

    # Warm up the session: JVM/JIT, codegen paths, parquet footer reads.
    # One uncounted run of the flagship exercises scan+agg+sort codegen so
    # the first measured query isn't billed for interpreter warm-up.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    if names:
        specs[names[0]].builder(spark, SF_DIR).count()

    # Machine-state stabilization (r13, VERDICT r12 #4): the r12
    # early-sweep inflation (q3/q5 +30-80% in every post-change capture)
    # traces to capture-START machine state, not code — three consecutive
    # session-start CPU probes read 1.35/0.75/0.35 s vs the 0.25 s pin
    # (each itself a best-of-3) while the end-of-sweep brackets read
    # ~0.18-0.21, in A/B runs minutes apart (OPTIMIZATION_r13.md §bench
    # A/B). Spin the probe (bounded) until it reads within 1.4x of the
    # pin, so the sweep's first keys and the CPU brackets measure the
    # same machine state the pin was set on. Uncounted work before the
    # recorded brackets; per-query methodology unchanged; spin count
    # recorded for auditability.
    stabilize_probes = 0
    for _ in range(8):
        if _calibration_probe(spark) <= CAL_REF_SEC * 1.4:
            break
        stabilize_probes += 1
    cal_before = _calibration_probe(spark)
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        builder = specs[name].builder
        # This VM's run-to-run noise is ±50% (GC pauses, compile stalls,
        # co-tenant interference). Best-of-N is the steady-state latency;
        # the median is the noise-robust round-over-round comparator —
        # recorded side by side so a "regression" that is just one noisy
        # run is visible as best≈flat / median moved (or vice versa).
        samples: list[float] = []
        for _ in range(runs_per_query):
            t0 = time.perf_counter()
            df = builder(spark, SF_DIR)
            # count() executes the full plan without shipping rows to the driver.
            df.count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 4)
        medians[name] = round(statistics.median(samples), 4)
        # Between-query hygiene (optimization r12, guide §5): completed
        # queries' localCheckpoint blocks pile up in the one local-mode
        # heap faster than ContextCleaner can GC the py4j refs — measured
        # 2× inflation on keys run late in a long session
        # (graph_adamic_adar 2.79 s fresh vs 5.60 s after six graph keys).
        # Outside the timed region; each query's 5 runs still share their
        # in-query warm state, so best-of-5 stays a warm number.
        _release_sweep_memory(spark)

    cal_after = _calibration_probe(spark)

    total = round(sum(timings.values()), 4)
    r4_names = [n for n in R4_SUBSET if n in timings]
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 4),
        "r4_subset_value": round(sum(timings[n] for n in r4_names), 4),
        "r4_subset_value_median": round(sum(medians[n] for n in r4_names), 4),
        "calibration_sec_before": cal_before,
        "calibration_sec_after": cal_after,
        "calibration_ref_sec": CAL_REF_SEC,
        "n_queries": len(timings),
        "sf": sf,
        # Methodology, recorded so rounds compare like-for-like:
        # one uncounted warm-up action, then per-query best-of-N
        # on a warm JVM ("warm" = codegen/JIT/footers cached).
        # "queries"/"value" stay best-of-N for continuity with
        # rounds 1-4; the *_median fields are the stable series.
        "timing": "warm",
        "runs_per_query": runs_per_query,
        "report": "best+median",
        "shuffle_partitions": shuffle_parts,
        "stabilize_probes": stabilize_probes,
    }
    print(json.dumps(full), flush=True)
    try:
        # A plain headline re-run (e.g. at a different SF) keeps the
        # side-mode sections.
        _merge_capture("headline", full)
    except OSError:
        pass  # read-only checkout: stdout line 1 still has everything

    # Compact summary LAST: totals + the 10 slowest queries only, so it
    # fits whole inside a 2000-char stdout tail capture.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "value_median": full["value_median"],
        "r4_subset_value": full["r4_subset_value"],
        "r4_subset_value_median": full["r4_subset_value_median"],
        "calibration_sec": min(cal_before, cal_after),
        "n_queries": len(timings),
        "sf": sf,
        "runs_per_query": runs_per_query,
        "queries": slowest,
        "queries_note": "10 slowest of n_queries; full map on stdout line 1 and in BENCH_SELF.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact summary too long for tail capture: {len(line)}"
    print(line, flush=True)
    spark.stop()


# Stateful twins timed by `python bench.py --streaming`: wall-clock to
# drain the whole events fixture (availableNow trigger, memory sink),
# rows/s, and state-store size from the engine's own progress metrics.
STREAMING_SUBSET = [
    ("streaming_user_ewma", "update"),
    ("streaming_drift_psi", "update"),
    ("streaming_changepoint_cusum", "update"),
    ("streaming_heavy_hitters", "update"),
    ("streaming_sessionize_event_time", "update"),
    ("streaming_user_running_totals", "update"),
    ("streaming_rolling_zscore", "update"),
    ("streaming_anova_moments", "update"),
    ("streaming_markov_transitions", "update"),
    ("streaming_sequence_match", "update"),
    ("streaming_user_paths", "update"),
    ("streaming_tumbling_counts", "append"),
]


def run_streaming() -> None:
    """Latency/throughput smoke for the stateful streaming twins.

    Correctness is pinned in tests/test_stateful_streaming.py; this adds
    the numbers: micro-batch drain time over the full events fixture,
    input rows/s, and state rows (from StreamingQueryProgress — the same
    metric a production monitor reads off the listener bus). Written as
    a ``streaming`` section into BENCH_SELF.json (merged)."""
    import gluettalax_spark.streaming.stateful as st
    import gluettalax_spark.streaming.windows as sw
    from gluettalax_spark.session import get_spark

    spark = get_spark("gluettalax-bench-streaming")
    n_input = spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    results: dict[str, dict] = {}
    for i, (name, mode) in enumerate(STREAMING_SUBSET):
        builder = getattr(st, name, None) or getattr(sw, name)
        df = builder(spark, SF_DIR)
        t0 = time.perf_counter()
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(f"bench_stream_{i}")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.lastProgress or {}
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        out_rows = spark.sql(f"SELECT count(*) FROM bench_stream_{i}").collect()[0][0]
        state_rows = None
        ops = (progress or {}).get("stateOperators") or []
        if ops:
            state_rows = sum(op.get("numRowsTotal", 0) for op in ops)
        results[name] = {
            "wall_sec": round(wall, 3),
            "input_rows": n_input,
            "rows_per_sec": round(n_input / wall, 1),
            "output_rows": out_rows,
            "state_rows": state_rows,
        }
        print(f"  {name}: {wall:.2f}s, {results[name]['rows_per_sec']} rows/s, "
              f"state_rows={state_rows}", file=sys.stderr, flush=True)

    section = {"sf_dir": SF_DIR, "trigger": "availableNow, memory sink", "queries": results}
    _merge_capture("streaming", section)
    print(json.dumps({
        "metric": "streaming_twins",
        "n": len(results),
        "rows_per_sec": {k: v["rows_per_sec"] for k, v in results.items()},
    }), flush=True)
    spark.stop()


def run_duck_anchor() -> None:
    """Absolute external anchor for the bench gate (VERDICT r10 task #2):
    the reference publishes no numbers (BASELINE.md), so until now the 2×
    gate self-anchored to the round-4 capture of this same repo. This mode
    times each round-4-subset query BOTH ways at SF_DIR — the Spark builder
    (warm best-of-3, count() action, the headline methodology) and its own
    registered oracle SQL through DuckDB (warm best-of-3, fetchall) — and
    writes a ``duck_anchor`` section into BENCH_SELF.json. DuckDB is a
    state-of-the-art single-node OLAP engine on identical parquet inputs:
    spark_sec/duck_sec is an absolute competitiveness ratio that no amount
    of self-capture drift can contaminate.

    Caveat recorded with the numbers: DuckDB runs in-process with zero
    JVM/scheduler overhead, so at sf0.1 (sub-second queries) the ratio is
    dominated by Spark's fixed per-query floor (~0.1-0.2 s task scheduling);
    the comparison is still the honest external yardstick asked for."""
    import duckdb

    from gluettalax_spark import registry
    from gluettalax_spark.session import get_spark, tune_for_fixture
    from gluettalax_spark.tables import TABLES

    spark = get_spark("gluettalax-bench-anchor")
    tune_for_fixture(spark, SF_DIR)
    specs = registry.all_queries()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Warm both engines the way the headline run does.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    con.execute("SELECT count(*) FROM lineitem").fetchall()

    results: dict[str, dict] = {}
    for name in R4_SUBSET:
        spec = specs.get(name)
        if spec is None:
            continue
        spark_samples, duck_samples = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.builder(spark, SF_DIR).count()
            spark_samples.append(time.perf_counter() - t0)
        oracle = spec.resolve_oracle(SF_DIR)
        if oracle:
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(oracle).fetchall()
                duck_samples.append(time.perf_counter() - t0)
        spark_sec = round(min(spark_samples), 4)
        duck_sec = round(min(duck_samples), 4) if duck_samples else None
        results[name] = {
            "spark_sec": spark_sec,
            "duck_sec": duck_sec,
            "ratio": round(spark_sec / duck_sec, 2) if duck_sec else None,
        }
        print(f"  {name}: spark {spark_sec}s duck {duck_sec}s", file=sys.stderr, flush=True)
    con.close()

    with_oracle = {n: r for n, r in results.items() if r["duck_sec"] is not None}
    total_spark = round(sum(r["spark_sec"] for r in with_oracle.values()), 4)
    total_duck = round(sum(r["duck_sec"] for r in with_oracle.values()), 4)
    section = {
        "sf_dir": SF_DIR,
        "timing": "warm best-of-3 both engines; Spark count() action, DuckDB fetchall",
        "n_queries": len(with_oracle),
        "total_spark_sec": total_spark,
        "total_duck_sec": total_duck,
        "total_ratio": round(total_spark / total_duck, 3) if total_duck else None,
        "note": (
            "DuckDB is in-process C++ with no scheduler floor; at sf0.1 the "
            "per-query Spark overhead (~0.1-0.2s) dominates sub-second keys. "
            "Absolute external anchor for BASELINE.md, not a like-for-like "
            "cluster-engine comparison."
        ),
        "queries": results,
    }
    _merge_capture("duck_anchor", section)
    print(json.dumps({
        "metric": "duck_anchor",
        "n_queries": len(with_oracle),
        "total_spark_sec": total_spark,
        "total_duck_sec": total_duck,
        "total_ratio": section["total_ratio"],
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    if "--scaling-100x" in sys.argv:
        run_scaling_100x()
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--streaming" in sys.argv:
        run_streaming()
    elif "--duck-anchor" in sys.argv:
        run_duck_anchor()
    else:
        main()
