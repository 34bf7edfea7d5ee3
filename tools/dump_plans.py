#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the flagship queries.

Usage: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = {
    "q1_pricing_summary": "partial+final agg straight off the pruned scan",
    "q5_local_supplier_volume": "one fact shuffle; every dimension broadcast",
    "q18_large_orders": "post-HAVING aggregate broadcast into orders",
    "q4_order_priority": "EXISTS as a left-semi hash join",
    "dedup_exact": "single hash exchange of 16-byte fingerprints",
    "dedup_minhash_lsh": "shingle window + signature agg share ONE doc_id exchange",
    "similarity_topk_lsh": "bucket equi-join; checkpointed bucket table",
    "join_interval_banded": "pure range join as band-bucket equi-join (no nested loop)",
    "sort_limit_topk": "TakeOrderedAndProject, no global sort",
    "corpus_prep_pipeline": "filter before the dedup shuffle; map-side WindowGroupLimit",
    "decontaminate_eval_overlap": "eval shingle set broadcast; corpus never shuffles to probe",
    "embedding_int8_quantize": "64-row stats agg broadcast back; coding is a narrow map",
    "dedup_simhash_pairs": "64-bit simhash, one equi-join on 4x16-bit bands",
    "embedding_neardup": "sign-LSH bucket equi-join; norms checkpointed per vector",
    "events_cohort_retention": "first-seen via window min(ts); no join, no broadcast",
    "dedup_filter_corpus": "losers anti-joined by id; text never ships",
    "events_wau_exact": "pair-explode rolling distinct; no range join, events scanned once",
    "corpus_span_overlap": "docs-per-shingle via window over hashed key; no self-join",
    "events_dau_bitmap": "exact distinct as two-level bitmap agg; bounded shuffle width",
    "join_lateral_topk": "LATERAL decorrelated to broadcast join + ranking",
    "stratified_sample_by_lang": "counts+cap broadcast; corpus touched by one projection",
    # Round-5 rewrites of the three single-task global windows:
    "window_ntile_distribution": "distribution stats from range-partitioned exact rank; no unpartitioned window over data",
    "customer_rfm_segments": "three exact-rank passes over the per-customer aggregate; nothing funnels to one task",
    "customer_pareto": "TakeOrderedAndProject top-50 + scalar decimal grand total; window spans only the 50-row limit output",
    "dedup_band_spill_report": "skew observability: one agg over the shared signature pipeline",
    # Round-5 late additions:
    "paragraph_dedup": "span-level exact dedup; only (hash, position, length) shuffles, window keyed on the hash",
    "graph_triangle_count": "degree-oriented wedge join; basket self-join bounded by order size",
    "dedup_containment_pairs": "df-capped inverted index; window over shingle key, bounded pair explode",
    "events_heavy_hitters_sketch": "approx_top_k sketch agg + deterministic re-rank",
    # Continuation-session additions:
    "decontaminate_bloom": "bloom probe (ArrowEvalPython) below the exact broadcast verify; corpus never shuffles",
    "events_freq_cms": "count-min build caps the shuffle at 1024 counters; probe joins the broadcast sketch",
    "graph_pagerank": "per-iteration checkpoint keeps the plan one join deep; adjacency frozen once",
    "basket_rules": "one basket shuffle feeds pairs, item counts and the scalar total; TakeOrderedAndProject top-20",
    "graph_communities_lpa": "per-round argmax folded into min(struct); labels checkpointed per round",
    "similarity_topk_ivfpq_refine": "PQ demoted to shortlister; exact re-rank fetches raw vectors by broadcast id join",
    "sql_recursive_reach": "Catalyst UnionLoop over a materialized edge view; depth cap bounds the frontier",
    "sql_udf_text_metrics": "SQL UDF bodies inlined into the aggregate; no Python eval node",
    "table_profile_orders": "five-column profile in one scan; multi-distinct via a single Expand",
    "dedup_keep_best": "cluster argmax as min(struct) on the component key; no window",
    "events_sessionize_batch": "lag + running sum share one user exchange; top-25 via TakeOrderedAndProject",
    # Round-6 additions:
    "text_bm25_search": "inverted-index shape: query-term filter prunes postings map-side; top-k via TakeOrderedAndProject",
    "text_collocations_pmi": "map-side bigram explode; one agg per count table; AQE decides the vocab join",
    "events_attribution_last_touch": "fill-forward window on user_id; no per-purchase range join",
    "text_unigram_logppl": "integer micro-nat fold (cross-engine exact); worst-k via TakeOrderedAndProject",
    "semantic_dedup": "adaptive band cap: non-skew path is join-free FlatMapGroupsInPandas per cluster",
    # Round-6 continuation-session additions:
    "graph_kcore": "bounded peel rounds, one degree agg + two semi-joins each; converged flag rides the broadcast totals",
    "text_vocab_coverage": "one term-count shuffle; curve from the TakeOrderedAndProject vocab slice + broadcast total",
    "events_user_ewma": "user-partitioned rank window prunes to trailing N before the sizing window; exact integer fold",
    "text_bigram_logppl": "bigram tf shuffled once; context/target counts re-aggregate it; micro-nat fold is exact int64",
    "events_cumulative_distinct_users": "cumulative bitmap_or_agg per bucket over the dense metadata grid; exact distinct-to-date",
    "embedding_covariance": "d^2/2 pair products explode map-side, partial-agg collapses to 2080 groups before the shuffle",
    "events_drift_psi": "one scan; half-split vs broadcast min/max; PSI terms floor-quantized so the total is an int sum",
    "embedding_pca_project": "driver-side eigen of the 2080-entry covariance; JVM-only zip_with projection folds",
    "table_checksum_audit": "map-side md5 words, one 1-row modular sum per table; order/partition independent by construction",
    "orders_forecast_holt": "linear-recurrence closed form: two integer dot products per group replace the sequential fit",
    "events_ab_test": "md5-parity unit split; conversion via fill-forward click window; 2-row pivot to one stats row",
    # Round-7 additions:
    "text_bpe_merge_candidates": "one corpus shuffle to the word-freq dict; pair explode is vocab-sized; top-k is TakeOrderedAndProject",
    "graph_jaccard_linkpred": "wedges explode map-side from sorted adjacency arrays (hub centers capped); anti-join keeps non-edges",
    "apply_in_arrow_grouped": "FlatMapGroupsInArrow: the group streams through the kernel as RecordBatches, never materialized whole",
    # Round-7 continuation-session additions:
    "text_bpe_train": "iterative merge learning on the checkpointed vocab dictionary; every round is vocab-sized, plan stays one round deep",
    "events_changepoint_cusum": "one partial-agg to the dense (type x day) grid; calendar-bounded windows; scaled-integer CUSUM",
    "source_mix_temperature": "one groupBy(source) + 1-row total broadcast; sqrt quantized at 2^20 so weights are integer division",
    "quality_percentile_by_source": "exact_global_rank range shuffle; integer ppm percentiles fold into a source-sized agg",
    "embedding_outlier_centroid": "labels x 64 sum table broadcasts back; decimal(38,0) zip_with fold per vector; label-keyed top-k",
    "corpus_token_zipf": "vocab-sized freq table; exact_global_rank for log-log rank; decimal moment sums to one row",
    "orders_seasonality_weekday": "seven-row aggregate + 1-row broadcast; index is one exact decimal rational",
    "text_js_divergence_sources": "one corpus shuffle to (source x term); dense vocab grid join; floor-quantized integer JSD terms",
    "events_interarrival_by_type": "lag window bounded per (user, type); types-sized percentile aggregate",
    "text_lexical_diversity": "one vocab-sized count table; per-source integer ppm fold",
    "label_quality_profile": "one id-key equi-join of docs and embeddings (bucketing target at scale); labels-sized agg",
    "similarity_topk_hamming": "zero-shuffle 8-byte sign sketch; broadcast query join; xor+popcount scoring",
    "graph_assortativity": "shared basket-explode edges; degree equi-joins; five decimal moments to one row",
    "events_activity_streaks": "(day - row_number) island key per user; no self-join; monotone shrinking aggregates",
    "orders_abc_analysis": "global running sum via grouped_running_sums (one global group); integer-cents class cuts; 3-row agg",
    "sql_pipe_syntax": "|> stages desugar to the classic plan: pushed filter, partial agg, TakeOrderedAndProject",
    "dedup_minhash_accuracy": "one shuffle builds sigs + shingle sets; capped band join; audit folds to one row",
    "events_dau_mau_stickiness": "(day,user) pairs forward-contribute to <=28 windows; one distinct-agg carries DAU and MAU",
    "events_ks_test": "distinct-value axis; both ECDFs via one grouped_running_sums pass; argmax is TakeOrderedAndProject(1)",
    "events_rolling_zscore": "one rows-frame window per (user, type); integer cross-multiplied |z|>k decision; types-sized agg",
    "text_char_entropy": "char explode partial-aggs map-side to alphabet-bounded groups; integer entropy terms",
    "shard_balance_audit": "md5 shard key; map-side partial agg to 64 rows; 1-row fold",
    "agg_weighted_median": "values collapse map-side; running weight via grouped_running_sums; integer crossing fold",
    "events_benford_audit": "first digit from the integer-cents string; nine-row aggregate + 1-row total",
    "orders_repeat_cohort": "one groupBy(customer) folds first-month/count/LTV; months-sized cohort agg; window-free",
    "stats_anova_oneway": "one data-scale groupBy to the k-row moment table; F from five exact integers",
    "stats_kruskal_wallis": "cents dictionary + grouped_running_sums rank; milli-quantized H sum per group",
    "text_dup_ngram_fraction": "shingle explode -> (doc,h) agg checkpointed once; dup set hash-joined back (never broadcast-assumed)",
    "quality_classifier_linear": "features explode map-side in the scan stage; only the doc-keyed agg shuffles",
    "similarity_range_radius": "20-probe broadcast; zip_with/aggregate integer distance inside the scan stage",
    "events_attribution_position": "per-user path ids via running sum; (user,path) windows; equi-join credits (no range join)",
    "text_ppl_buckets": "per-lang rank from the (lang,key) dictionary; ANSI ntile arithmetic; tie-block windows only",
    "stats_kendall_tau_binned": "two range-partition rank passes; 100-cell grid x grid broadcast crossJoin",
    "events_survival_km": "user-keyed entry/conversion joins; day-dictionary running sums; absorbing step explicit",
    "join_asof_nearest": "two mirrored fill windows on one tag-union sort; no BroadcastNestedLoopJoin",
    "orders_bootstrap_ci_poisson": "map-side x32 explode; 32-key two-long aggregate; order-statistic CI from one sorted array",
    "multimodal_phash_neardup": "mapInPandas kernel checkpointed; band equi-join with skew cap; xor+popcount verify",
    "graph_hits_bipartite": "each HITS round = one equi-join of the static edges with a (node,long) score table; TakeOrderedAndProject top-k",
    "quality_signal_agreement": "two doc-keyed score passes; one doc join; two range-partition ranks; 9-cell grid",
    "events_sequence_match": "one groupBy(user) builds the bounded string; regex probes map-side; patterns-sized agg",
    "text_rake_keyphrases": "map-side phrase explode; word-/phrase-keyed aggs; TakeOrderedAndProject top-k",
    "stats_welch_ttest": "one conditional 6-moment aggregate; no joins, single exchange",
    "stats_jarque_bera": "one 5-moment aggregate to fourth order; decimal power sums",
    "stats_cramers_v": "types x 4 md5 grid; chi2 e9-quantized terms; broadcast marginals",
    "stats_ljung_box": "calendar grid; 7 lag joins grid x 7 broadcast; fixed-order Q expression",
    "stats_theil_sen": "month grid self-join (~3.2k pairs); float-floor micro-slopes; bounded sorted array median",
    "orders_herfindahl": "orders-customer key join; (segment x customer) grain; one 4-number segment rollup",
    "graph_clustering_coefficient": "oriented wedge join sqrt(2m)-bounded; per-node credit explode; 1e-9-quantized local ratios",
    "text_ngram_novelty_decay": "distinct (doc,shingle) shuffle; ONE window over shingle key; id-range decile buckets",
    "events_bounce_rate_sessions": "sessionize window pair on one user exchange; landing = the new_session row",
    "text_bpe_apply": "vocab-sized merge replay; per-source word counts equi-join the symbol dictionary",
    "similarity_silhouette": "k-row centroid broadcast; bounded sorted collect per vector; 1e-6-quantized scores",
    "stats_multiple_testing_bh": "types x 2 moment grid; shared erfc polynomial; k x k rank self-join (no window)",
    "stats_hurst_exponent": "calendar grid x 4 window sizes; (w,win)-partitioned walk; fixed log2-x OLS combination",
    "stats_runs_test": "grid median off bounded sorted array; adjacent-day self-join run count",
    "events_time_to_convert": "one fill-forward view window per user; single-group exact percentiles",
    "quality_classifier_auc": "classifier explode to doc grain; AUC = U/(n1*n0) off the logit value dictionary",
    "text_burstiness": "(term x doc) counts checkpointed once; top-50 TakeOrderedAndProject; 50-term broadcast moment join",
    "similarity_topk_filtered": "label-keyed probe broadcast into the scan; 20 bounded rank partitions",
    "events_peak_concurrency": "+1/-1 session deltas; range-partitioned global running sum; no interval self-join",
    "part_skyline_pareto": "size-dictionary sweep (per-size min + strict-prefix min); oracle proves vs NOT EXISTS",
    "corpus_mix_budget": "source-grain aggregate; rank-and-fill on the source dictionary via grouped_running_sums",
    "orders_croston_intermittent": "(part, ship-day) grain; calendar-bounded per-part arrays; power-of-two EWMA folds",
    "text_simhash_bit_balance": "shared one-shuffle fingerprint pass; map-side 64x bit fan-out to 64 groups",
    "json_schema_drift": "broadcast midpoint; key explode to (key x 2) grid; ppm floor divisions",
    "events_session_type_pmi": "session type-sets map-side; pairs from bounded arrays; k^2 PMI grid",
    "orders_seasonality_anova": "calendar grid; wd = t mod 7; 17-number single-row pivot; fixed-order SSB expression",
    "dedup_cluster_histogram": "one fingerprint groupBy; histogram over cluster sizes; no pair explode",
    "events_ab_test_cuped": "user-grain pre/post conditional aggregate; one 12-number moment row",
    "text_mattr_diversity": "per-doc sliding-window type counts map-side in the scan; 2-long source rollup",
    "multimodal_payload_dedup": "(hash, length) in scan stage; groupBy(hash); 16-shard rollup; payload never shuffles",
    "orders_round_number_bias": "one conditional aggregate to the priority grid; integer modulus tests",
    "events_power_analysis": "types-sized aggregate; fixed z-constant formula; share denominators broadcast",
    "quality_variance_icc": "one groupBy(source); ANOVA moments + sum n_g^2; single-row closed forms",
    # round-9 additions
    "text_good_turing_vocab": "one corpus explode to the (source x token) dictionary; f1/f2 as conditional counts",
    "text_token_fertility": "per-row regexp counts in codegen; languages-sized aggregate",
    "dedup_fuzzy_name_pairs": "distinct-name dictionary FIRST; Levenshtein inside the brand equi-join",
    "stats_mutual_information": "sources x langs grid; nano-nat integer cell terms; three 1-row folds broadcast",
    "stats_grubbs_daily": "integer argmax key |c*n - sum|; moment fold broadcast into the day sort",
    "stats_wilcoxon_signed_rank": "user groupBy -> |d| dictionary -> range-partitioned 2x ranks",
    "stats_mann_kendall": "calendar-bounded day-pair join (broadcast); exact S and var*18",
    "agg_trimmed_winsorized": "cents dictionary + running counts; rank-interval overlap = trimmed sum",
    "events_conformal_interval": "per-type residual dictionaries; integer conformal rank; coverage on held-out parity",
    "similarity_mmr_rerank": "5 unrolled greedy rounds over a 20-row checkpointed candidate set",
    "quality_ece_calibration": "memoized logits pass; 10-row reliability grid, all-integer columns",
    "similarity_knn_label_accuracy": "50 probes broadcast; one corpus scan; vote tail sees Q*k rows",
    "graph_bounded_sssp": "4 Bellman-Ford rounds, each one frontier join + min-agg, lineage cut each",
    "orders_newsvendor_quantile": "daily-demand dictionary; exact ceil(9n/10) order statistic; integer costs",
    "events_qini_uplift": "exact_global_rank deciles; cumulative window on the 10-row grid only",
    "stats_permutation_test": "x32 map-side explode -> 64 (b,arm) partial aggregates; 1-row obs broadcast",
    "events_weekly_decompose": "day grid window (calendar-bounded); 7c-sum7 exact; 7-row output",
    "orders_price_elasticity": "per-part demand groupBy; micro-nat logs; types-sized moment fold",
    "quality_brier_score": "sum p^2 / sum p*y exact integers; REL/RES nano-quantized over 10 bins",
    "events_path_topk": "one user exchange; rows cut to 3; path dictionary bounded by |types|^3",
    "events_retention_decay_fit": "distinct (user,week) pass; cohort+k<=maxw guard; 3-point integer OLS",
    "text_compression_ratio": "zlib kernel via mapInPandas in the scan stage; bytes never shuffle",
    "text_unicode_script_profile": "explicit codepoint-range regexp counts in codegen; languages-sized output",
    "stats_anderson_darling": "day dictionary + closed-form tie weights; shared erfc Phi; micro-quantized terms",
    "dedup_fuzzy_clusters": "CC on the NAME graph (dictionary-first); multiplicity join at the end",
    "quality_pr_curve": "exact_global_rank over doc grain; cumulative window on the 10-row grid",
    "text_sentence_stats": "terminator-run regexp counts in codegen; sources-sized output",
    "similarity_item_cf": "map-side basket pair explode; 20-row focal TopK broadcast; k rows per item",
    "events_markov_accuracy": "one user exchange for the lead window; k^2 grid after",
    "dedup_threshold_sensitivity": "7-row threshold frame vs the ONE scored-pair pass; conditional counts",
    "corpus_dedup_quality_audit": "pairs -> CC -> losers anti-joined by id; one conditional moment aggregate",
    # round-10 additions
    "similarity_knn_label_accuracy_ivf": "IVF cell equi-join replaces the corpus scan; same Q*k vote tail",
    "stats_dunn_posthoc": "shared KW 2x-rank frames; pairwise z + BH step-up on the k^2 grid",
    "stats_friedman_test": "days x types grid; per-day bounded rank frames; integer s2/d2 witnesses",
    "stats_partial_correlation": "ONE map-side 10-moment fold; rounded marginals compose the partial",
    "text_token_coverage_curve": "vocab dictionary + exact_global_rank; only the head joins the 3-row grid",
    "text_lang_trigram_similarity": "(lang x trigram) dictionary; pairwise dot as trigram-key equi-join",
    "corpus_epoch_schedule": "source token counts + 2^20 sqrt quanta; integer repeat schedule",
    "similarity_ann_recall_curve": "ONE fit + ONE scan serve 4 nprobe rungs via the probe grid",
    "embedding_pq_distortion": "mapInPandas nano-quantized SSE partials; embeddings never shuffle",
    "dedup_weighted_jaccard": "IDF weights on the shingle dictionary; bounded pair list broadcast",
    "stats_median_ci_order": "two order-statistic rank probes into the value dictionary; no resampling",
    "quality_drift_psi": "pooled decile edges from dictionary ranks; 1e-8 floor-quantized PSI fold",
    "embedding_dimension_variance": "micro-quantized components partial-agg onto the 64-dim grid",
    "graph_degree_distribution": "capped co-occurrence edges; histogram on the degree dictionary",
    "orders_basket_size_histogram": "one distinct-count per order; histogram on the size dictionary",
    "similarity_cluster_purity": "one (cell x label) grid agg; majority pick and purity on the grid",
    "events_churn_risk_buckets": "one groupBy(user); 4-row recency grid; as-of broadcast",
    "dedup_band_sweep": "ONE signature pass serves 3 band explodes; md5-key equi-joins per config",
    "dedup_storage_savings": "16-byte fingerprint shuffle; keeper join co-partitioned; text never moves",
    "text_doc_length_gini": "rank moment folded over the (source x length) dictionary; no row ranking",
    "events_dow_hour_profile": "epoch-arithmetic dow; map-side partial agg onto the <=168-cell grid",
    "text_source_lang_coverage": "one (source x lang) grid agg; marginals re-aggregate the grid and broadcast",
    # round-11 additions
    "events_hazard_rate": "KM day-dictionary running sums; integer ppm hazard + Nelson-Aalen cumulative",
    "stats_autocorrelation": "dense calendar grid; 7 broadcast lag joins; integer-algebra mean clearing",
    "orders_lorenz_curve": "exact_global_rank range exchange + ntile arithmetic; window only over 10 decile rows",
    "stats_levene_bf": "(type x cent) dictionary medians; ANOVA moments reweight existing cells",
    "text_readability_ari": "three regex folds per row inside the scan stage; source-dictionary agg",
    "graph_adamic_adar": "wedge explode with pre-quantized 1/ln(d) center weights; anti-join keeps non-edges",
    "orders_interpurchase_gaps": "bounded per-customer lag window; gap-dictionary percentile rank probes",
    "stats_grubbs_test": "integer argmax |n*x - S| on the dense grid; 1-row moment frame broadcast",
    "text_pii_pattern_scan": "four Java∩RE2-safe regex folds pipelined in the scan; source grid agg",
    "text_html_tag_residue": "position() literal markers, zero regex surface; one scan, one grid agg",
    # Round-12 additions:
    "dedup_substring_runs": "K-gram md5s shuffle (text stays behind); dup set semi-joins back co-partitioned; islands merge per doc",
    "dedup_substring_profile": "runs stream is doc-granular; token totals from a column-pruned second scan; doc_id join bounded",
    "dedup_substring_source_matrix": "per-gram source self-join fans out at most C(|sources|,2) per gram; two key-hash aggregates",
    "dedup_levenshtein_rescore": "O(len^2) DP only on the bounded banded pair list; text fetched by two doc_id equi-joins",
    "stats_ks_test": "value dictionary; both cumulative counts via grouped_running_sums; squared decision rule in DECIMAL(38)",
    "stats_wasserstein_1d": "CDF-area terms on the value dictionary; neighbor steps via exact_global_rank self-join",
    "text_readability_flesch": "three regex folds per row inside the scan stage; source-dictionary agg (ARI sibling)",
    "graph_harmonic_2hop": "hub-capped wedge explode; anti-join excludes direct edges; two key-hash aggregates, top-20",
    "events_funnel_latency": "user-key equi-join with the time bound as a join filter; min per view; 24-row bucket dictionary",
    "stats_mcnemar_filters": "two row-local filter predicates in ONE documents scan; whole table folds to a 4-counter aggregate",
    "text_token_diversity": "token explode; dictionary-sized (source,token) partial agg; broadcast per-source totals; integer-quantized entropy terms",
    "similarity_ndcg_eval": "IVF cell equi-join reused; exact top-k broadcast to the left join; constant log2 literals, integer DCG fold",
    "stats_cochran_q": "six row-local rule predicates in ONE documents scan; single moment row with DECIMAL(38) squared sums",
    "similarity_topk_ivf": "probe ranking in-plan (queries x 16 centroids crossJoin); cell equi-join prunes the scan; recall twin broadcast",
    "similarity_cluster_purity": "broadcast centroid argmin; (cell x label) grid agg; purity on the 16-row table",
}


def _trim(plan: str) -> str:
    """Keep the reviewable core of a formatted explain: the operator tree
    plus each scan's pushdown evidence (PushedFilters / ReadSchema /
    PartitionFilters). The full per-node dumps made PLANS.md 114 KB of
    attribute ids that churned every regeneration; the tree + scan lines
    carry all the information test_plans.py pins."""
    blocks = plan.split("\n\n")
    tree = blocks[0].rstrip()
    evidence = [
        line.strip()
        for line in plan.splitlines()
        if line.strip().startswith(("PushedFilters:", "ReadSchema:", "PartitionFilters:"))
    ]
    return tree + ("\n\n" + "\n".join(evidence) if evidence else "")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from gluettalax_spark.registry import queries
    from gluettalax_spark.session import get_spark

    spark = get_spark("plan-dump", cpus="8")
    qs = queries()
    out = [
        "# PLANS — physical plan trees for the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{sf_dir}`: the operator",
        "tree plus each scan's pushdown evidence (full node dumps omitted — the",
        "shape properties shown here are what `tests/test_plans.py` pins).",
        "Regenerate after operator changes and diff.",
        "",
    ]
    for name, note in SHOWCASE.items():
        df = qs[name](spark, sf_dir)
        jqe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = jqe.explainString(mode)
        out += [f"## {name}", "", f"*{note}*", "", "```", _trim(plan), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    n_lines = sum(s.count("\n") + 1 for s in out)
    print(f"wrote {path} ({n_lines} lines)")


if __name__ == "__main__":
    main()
