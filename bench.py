#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  It writes no file.

Each query is timed over a FULL materialization via the ``noop`` sink —
``count()`` is not full materialization: Catalyst's column pruning strips
aggregate expressions and whole Window nodes whose outputs a count never
reads (measured 2.6x under-report on the running-total query), so a
count-based bench times a different, cheaper plan than users run.  The
noop write evaluates every output column JVM-side with zero driver
transfer.  Warm-up pass first (JVM + codegen warm).

Each query runs ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and reports
the MEDIAN, because single-shot numbers on a shared VM drift 1.3-3x with
host load.  The host load average is recorded in the JSON for the same
reason.  ``SPARK_GRAFT_BENCH_EXTENDED=1`` adds the ``EXTENDED`` queries;
``SPARK_GRAFT_BENCH_QUERIES=a,b`` times only the named ones.

The decode benchmark and the layer-by-layer split live in ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from byte_convert_avro_spark.session import get_spark
from byte_convert_avro_spark.queries import queries

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_orders",
    "customer_running_total",
    "events_hourly_tumbling",
    "events_sessionization",
    "events_asof_purchase_view",
    "minhash_signatures",
    "knn_cosine_top5",
    "dedup_exact_groups",
    "avro_roundtrip_customers",
    # round-3 families
    "decontamination_ngram_overlap",
    "events_asof_tolerance_30m",
    # round-5: the heavy dedup family — the most expensive multi-join
    # plans in the registry; benched so regressions stay visible
    "jaccard_verified_candidates",
    "dedup_cluster_assignment",
    "corpus_after_dedup",
    "lsh_banded_near_dup",
    # round-6: the new capability families — substring-level dedup,
    # trained-IVF ANN, winnowing pair matching.  The tracked winnowing
    # form is the CAPPED one (round-6 verdict lead #4): the hub-bounded
    # cap²-per-fingerprint join is the 100 TB path, so that's the number
    # to watch; the uncapped winnowing_shared_fingerprints stays in the
    # registry as the correctness baseline (its cost tracks true
    # duplication — output-bound, not a plan property worth benching)
    "corpus_strip_repeated_chunks",
    "ivf_search_top3",
    "winnowing_pairs_capped",
    # round-7: applying-form strip, sampled k-means trainer, OCF file
    # format, degree-oriented triangles
    "corpus_stripped_text",
    "kmeans_minibatch_k8",
    "avro_ocf_roundtrip_customers",
    "copurchase_triangle_count",
]

#: Heavier iterative/graph entries benched on demand
#: (SPARK_GRAFT_BENCH_EXTENDED=1) — kept out of HEADLINE so the
#: round-over-round comparison stays on a stable query set (the r07->r08
#: CC-variance lesson: stable sets + medians + loadavg are what make the
#: artifact adjudicable).
EXTENDED = [
    "pagerank_trade_graph",
    "customer_hierarchy_walk",
    "pca_power_top_component",
    "minhash_estimate_vs_exact_jaccard",
    "ship_latency_percentiles_scale_path",
    # round-9 iterative/sketch additions — first history round
    "copurchase_k_core_peel",
    "trade_reachability_3hop",
    "kmv_parts_by_segment_nation",
    "minhash_r2_capped_candidates",
    # round-10: the batch merging-session-window operator — first history
    "events_session_window_dynamic_gap",
    # round-11: the joinless rolling median (watch the respell), the
    # mergeable rank sketch with its exact referee, the closed-form
    # CUSUM, and the trailing-30d RANGE frame — first history
    "user_rolling_7d_median_value",
    "order_value_rank_sketch_vs_exact",
    "events_cusum_value_drift",
    "customer_trailing_30d_spend",
    # round-12: the r11 heavies promoted per the verdict (their cost is
    # gate-side exact referees / real micro-batch replay — tracked so a
    # regression in them is adjudicable), plus the new LPA and
    # row-pattern families — first history
    "trade_neighborhood_function_kmv",
    "streaming_count_min_user_heavy_hitters",
    "copurchase_communities_lpa",
    "events_pattern_views_to_purchase",
    "part_price_w_pattern",
    "order_value_percentile_cont",
    # round-13: the banded-inequality join family — the bucket rewrite
    # whose whole point is the plan shape, so its wall time is the
    # regression signal for the equi-join staying equi
    "part_price_band_pairs",
    "customer_supplier_balance_band",
    # round-13b: HLL register sketch (one partial-agg shuffle — its wall
    # time pins the no-DISTINCT property), the sort-pruned skyline (wall
    # time pins windows-not-joins), and the prefix-filter exact Jaccard
    # join (wall time is dominated by candidate fan-out — the regression
    # signal for the prefix staying rare-token-only)
    "hll_distinct_users_by_type",
    "hll_weekly_merge_identity",
    "hll_intersection_viewers_purchasers",
    "streaming_hll_distinct_users",
    "hll_rolling_7d_distinct_users",
    "rank_join_top10_pairs_by_balance",
    "hll_weekly_overlap_matrix",
    "events_pattern_view_alt_action_purchase",
    "rank_join_top3_pairs_per_nation",
    "part_skyline_price_size",
    "part_skyline_per_brand",
    "docs_jaccard_prefix_filter_pairs",
    # round-14: the capped rung — its wall time pins the cap window
    # staying pair-set-sized (the 100 TB operating point of the exact
    # similarity join); the overlap join + FastSS pin their candidate
    # joins staying prefix/variant-keyed; the weighted samples pin the
    # expansion collapsing map-side; the bounded pattern rides the
    # one-shuffle pattern chain
    "docs_jaccard_prefix_filter_capped",
    "docs_overlap_containment_pairs",
    "customer_name_edit1_fastss",
    "lineitem_weighted_sample_by_flag",
    "events_weighted_user_sample",
    "streaming_weighted_user_sample",
    "events_pattern_bounded_views_within_7d",
    # round-14b: the SNN family's wall time pins the pair scan staying
    # sample/cell-bounded (broadcast NLJ over ~5% rows, equi mutuality
    # join); the two-stage rerank pins stage 2 touching only the
    # 20-row shortlist; the changepoint pins the joinless two-exchange
    # window chain; the bit-score pins its corpus joins staying
    # hash-keyed; the KMV difference rides the k-row sketch scaffold
    "mutual_knn_pairs",
    "snn_shared_neighbor_edges",
    "jarvis_patrick_clusters",
    "pq_rerank_top3_recall",
    "kmv_difference_estimate",
    "events_value_changepoint",
    "doc_bigram_lm_bitscore",
    # round-14b batch 2: the trend family pins the pair stage staying
    # DAYS-bounded (aggregation-first); the Allen histogram rides the
    # custkey-equi interval pair join
    "events_theil_sen_daily_trend",
    "events_mann_kendall_trend",
    "events_isotonic_daily_value",
    "order_interval_allen_histogram",
    # round-14c: the association-statistics family — KS pins the
    # cumulative stage staying distinct-cents-domain-bounded, Kendall
    # pins the pair stage staying DAYS-bounded, Spearman pins the
    # two rank windows (per-flag sort, no pair object), the chi2 cells
    # / HHI / entropy ride single natural-key exchanges, and the Zipf
    # fit pins the rank stage staying vocab-bounded
    "events_ks_view_purchase",
    "lineitem_spearman_qty_price",
    "events_kendall_daily_taub",
    "orders_priority_status_chi2_cells",
    "nation_customer_order_hhi",
    "events_user_type_entropy_bits",
    "corpus_zipf_loglog_slope",
    # round-14c batch 2: PSI pins the events pass staying one pruned
    # projection + domain-bounded folds; JSD pins the mixture staying
    # vocab x sources (broadcast-built); HITS pins the six round joins
    # staying equi with map-side-combining integer sums
    "events_value_psi_halves",
    "source_token_jsd_vs_corpus",
    "trade_hits_hub_authority",
    # round-14d: Fellegi-Sunter scoring — its wall time pins the
    # candidate stage staying the variant equi-join (the FastSS
    # property) with row-local integer scoring on top; the streaming
    # PSI twin rides the micro-batch replay harness like the other
    # streaming sketch members
    "customer_linkage_fs_weights",
    "streaming_psi_value_halves",
    # round-14c batch 3: both pin the domain-bounded (never row-sorted)
    # two-sample spelling
    "events_mannwhitney_view_purchase",
    "events_value_qq_deciles_halves",
    # round-14d: per-node triangle attribution — wall time pins the
    # corner explode staying output-bounded on the oriented enumeration
    "copurchase_clustering_coefficient",
    # round-14e: KW and the crosscorr pin their single-partition stages
    # staying DOMAIN-bounded (distinct values / days); assortativity
    # rides the HITS edge-list backbone with zero iteration; both MG
    # forms pin the summary staying k-bounded at every level (batch:
    # chunked windows; streaming: the 4-batch stateful fold); the
    # feature encodings pin aggregation-first (vocab / customer
    # domains); the bucketed join's wall time INCLUDES the two
    # bucketed-table writes — the layout amortization trade is the
    # number to watch
    "events_kruskal_wallis_cells",
    "events_daily_crosscorr_view_purchase",
    "trade_degree_assortativity",
    "token_misra_gries_vs_exact",
    "streaming_misra_gries_tokens",
    "doc_feature_hashing_load",
    "customer_target_encoding_smoothed",
    "bucketed_colocated_segment_revenue",
    # round-14e batch 2: k-anonymity pins the QI-class rollup staying
    # domain-bounded; NDCG rides the broadcast all-pairs baseline with
    # literal-constant discounts
    "orders_k_anonymity_profile",
    "truncated_dim_ndcg_at5",
    # round-14e batch 3: kappa rides the langid CTE + |labels|-domain
    # folds; IG pins the domain-median pick + enumerable-level groupBys
    "langid_cohens_kappa",
    "orders_feature_information_gain",
    # round-14e batch 4: rich-club pins the threshold fold staying ONE
    # conditional-sum pass over decorated edges; PMI pins the candidate
    # set staying bigram-vocab-sized
    "copurchase_rich_club",
    "bigram_pmi_collocations",
    # round-14e batch 5: WoE rides the IG median machinery; the class
    # weights are a 1-fold table; negative sampling pins the candidate
    # stage staying broadcast-user-batch x parts (no shuffle before the
    # k-bounded window)
    "orders_woe_iv_cells",
    "events_class_weights",
    "customer_part_negative_samples",
    # round-14e batch 6: log-rank pins the risk sets staying
    # lifespan-domain suffix sums (never per-user-per-day scans)
    "users_logrank_view_vs_other_cells",
    "langid_precision_recall_f1",
    # modularity re-derives the LPA trajectory then adds two equi
    # decorations — its wall time tracks the LPA family's
    "copurchase_lpa_modularity",
    # round-14f: AUC/ROC/lift all pin the score pass staying
    # distinct-cents-DOMAIN-bounded (one groupBy + one domain window /
    # 20 broadcast cutoffs / two <=10-row windows); MRR rides the
    # broadcast all-pairs baseline; McNemar is one row-local string
    # pass + a single-row fold; silhouette pins the scoring staying a
    # zero-shuffle literal-argmin pass (training cost tracks the
    # kmeans family); DB cells add one (cell)-keyed bounded fold + a
    # k-row broadcast pair join; flesch is one row-local regex pass;
    # the gini cells ride the IG median machinery
    "events_purchase_auc_rank_cells",
    "events_purchase_roc_literal_thresholds",
    "events_purchase_decile_lift",
    "truncated_dim_mrr_at5",
    "langid_mcnemar_stopword_vs_conjunction",
    "kmeans_silhouette_simplified",
    "kmeans_davies_bouldin_cells",
    "doc_readability_flesch",
    "orders_feature_gini_impurity_cells",
    # round-14f batch 2: CA trend is a 5-band fold (cheapest shape);
    # the edge-support wall time pins the triangle explode staying
    # output-bounded on the oriented enumeration (the clustering-
    # coefficient property, at edge granularity); blocking quality pins
    # the truth side staying the FastSS variant join with the candidate
    # count never materializing a pair
    "events_purchase_ca_trend_cells",
    "copurchase_edge_support_hist",
    "customer_blocking_quality_profile",
    # the streaming AUC twin rides the micro-batch replay harness like
    # the other streaming sketch members (state = score-domain counts)
    "streaming_purchase_auc_rank_cells",
    # calibration bins ride the IG/encoding median + customer-domain
    # machinery (<=21-row rollup)
    "orders_target_calibration_bins",
    # round-14g: ANOVA/Brown-Forsythe pin the moment pass staying one
    # ~5-key map-side-combined groupBy (BF adds the per-type domain
    # cumulative); t-closeness pins the grid staying |classes| x |sens
    # buckets|; ECE rides the calibration-bins machinery + the chunked
    # conf_b fold; MCC rides the langid CTE; the count-sketch trio pins
    # the signed matrix staying one (i,pos) shuffle (streaming: the
    # 4-batch stateful SUM replay); SemDeDup pins assignment staying
    # row-local with the pair stage cell-bounded; Bradley-Terry pins
    # the duel explode staying <=C(7,2)/order with broadcast-only MM
    # rounds; ORC rides the format-roundtrip harness; Hilbert pins the
    # whole index chain staying row-local integer selects
    "events_value_anova_cells",
    "events_value_brown_forsythe_cells",
    "orders_t_closeness_profile",
    "orders_calibration_ece",
    "langid_mcc_cells",
    "token_count_sketch_vs_exact",
    "token_ams_f2_sketch_vs_exact",
    "streaming_count_sketch_tokens",
    "semdedup_prune_flags",
    "semdedup_cell_summary",
    "brand_bradley_terry_strength",
    "orc_roundtrip_supplier",
    "hilbert_layout_effectiveness",
    # effect sizes ride the MW domain machinery; conformal rides the
    # OLS moment pass + one residual-domain window
    "events_effect_sizes_view_purchase",
    "lineitem_ols_conformal_coverage",
    # TextRank rides the PageRank bounded-rounds discipline on the
    # bigram-vocabulary graph
    "corpus_textrank_keywords",
    # the streaming ANOVA twin rides the micro-batch replay harness
    # (state = |event types| x 3 int64 moment cells)
    "streaming_anova_moment_cells",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    names = list(HEADLINE)
    if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED"):
        names += EXTENDED
    # comma-separated subset of the selected queries, for a focused re-bench
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if subset:
        picked = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = [p for p in picked if p not in names]
        if unknown:
            raise SystemExit(f"unknown bench queries {unknown}; known = {names}")
        names = picked
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, names, sf_dir, n_runs)))
    spark.stop()


def run(spark, names: list[str], sf_dir: str, runs: int) -> dict:
    """Time ``names`` at ``sf_dir``: one warm-up pass, then ``runs``
    interleaved noop writes per query.  Returns the JSON-line dict."""
    reg = queries()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: run every query once at the smallest SF (the sibling
    # ``sf0.001`` directory) so the timed pass measures steady-state
    # throughput (codegen compiled, JVM JIT'd, parquet footers cached) —
    # the regime a long-running cluster job actually operates in —
    # instead of first-call JIT noise.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            materialize(reg[name](spark, warm_dir))
        except Exception as e:  # noqa: BLE001 — warm-up must never fail the bench
            print(f"# warm-up {name} failed: {e!r}", file=sys.stderr)

    samples: dict[str, list[float]] = {name: [] for name in names}
    # interleave rounds (run 0 of every query, then run 1, ...) so a
    # transient host-load spike degrades one ROUND of many queries
    # instead of every sample of one query
    for i in range(runs):
        for name in names:
            t0 = time.perf_counter()
            materialize(reg[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            print(f"# run {i}: {name}: {dt:.3f}s", file=sys.stderr)
    timings = {name: round(statistics.median(s), 3) for name, s in samples.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "runs_per_query": runs,
        "aggregation": "median",
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "materialize": "noop-write (full column evaluation)",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


if __name__ == "__main__":
    main()
