#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round 7 — the driver captures only the LAST ~2000 chars of
stdout, which decapitated round 6's single 3400-char JSON line):
- Earlier stdout lines carry per-query detail, prefixed "BENCH_DETAIL "
  so they can't be mistaken for the summary.
- The FINAL stdout line is ONE compact JSON summary (< 1800 chars,
  pinned by tests/test_bench_contract.py): {"metric", "value", "unit",
  "sf", "value_r2set", "value_ext", "value_cold", "value_cold_r2set",
  "value_cold_ext", "n_queries"}. Per ADVICE r6, "value" means the
  FROZEN r2-era 29-query warm subtotal (directly comparable with the
  r2-r5 lineage); the extended-set totals live under *_ext keys.
- Full per-query detail (warm + cold dicts) is also appended as one
  line to BENCH_HISTORY.jsonl at the repo root, which
  tools/bench_regression.py reads for per-query cold-band checks.
- r14 (VERDICT r13 #1): the warm/cold per-query dicts are additionally
  published whole to BENCH_PERQUERY.json (atomic overwrite per run;
  override path with $SPARK_GRAFT_BENCH_PERQUERY) so the driver's PERF
  builder can read per-query numbers that the 2000-char stdout tail
  would truncate; the final line carries its name as per_query_file.

Two lanes (see SCALE.md "Bench methodology"):
- value/queries — steady-state: hot-table cache, warm codegen;
  min(first, second) per query for the FROZEN r2 set (the r2-r5
  methodology), single warm run for EXT entries (they already
  executed in the cold lane, so the warm run is the JVM's 2nd+
  execution; the redundant min-of-2 pushed the 144-query bench past
  10-minute timeout budgets). The declared headline.
- value_cold/queries_cold — cold: no table cache, first run in the
  session, pays parquet scan + codegen compile. Single-sample by
  construction (a query is only cold once per JVM), so it carries a
  ±20% run-to-run variance band — see SCALE.md. Exists so a plan
  regression can't hide behind the warm cache. Skip with
  SPARK_GRAFT_BENCH_SKIP_COLD=1 during iteration.

The r2-era 29-query set is frozen as BENCH_QUERIES_R2. "value" /
"value_cold" ARE its subtotals (the round-over-round lineage numbers,
duplicated as value_r2set / value_cold_r2set for back-compat); the
extended set's totals are value_ext / value_cold_ext only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from series_tiempo_ar_scraping_spark.registry import load_queries  # noqa: E402
from series_tiempo_ar_scraping_spark.session import get_spark  # noqa: E402

# Heavier, representative subset — full catalog correctness is the gate's
# job; bench tracks throughput of the scan/shuffle/window/join heavy paths.
# BENCH_QUERIES_R2 is the original 29-query set, FROZEN for round-over-round
# lineage (r2-r5 totals were computed over exactly this list; the JSON line
# reports its subtotal as value_r2set / value_cold_r2set).
BENCH_QUERIES_R2 = [
    "q01_pricing_summary",
    "q03_revenue_topk",
    "q05_region_revenue",
    "semi_orders_with_big_lineitem",
    "align_daily_activity",
    "series_gap_check",
    "rolling_value_avg",
    "tumbling_hourly_counts",
    "resample_gapfill_daily",
    "asof_last_click_before_purchase",
    "pivot_monthly_region_revenue",
    "sessionize_events",
    "text_stats",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "window_rank_suite",
    "range_join_purchase_context",
    "cube_status_priority",
    "dedup_embedding_cosine",
    "ivf_ann_topk",
    "multimodal_frame_sample",
    "sliding_window_rates",
    "dedup_connected_components",
    "tfidf_top_terms",
    "percentile_order_values",
    "grouping_sets_order_stats",
    "weighted_avg_discount_udaf",
    "skyline_orders_pareto",
    "json_props_bucket_stats",
]

# Heaviest post-r2 catalog entries — ANN variants, time-series batch 8,
# SCD2, layout stats, graph, and the curation funnel. Appended so the
# whole perf-relevant surface has a per-round signal; the frozen r2 set
# above keeps its own subtotal for lineage.
BENCH_QUERIES_EXT = [
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "series_seasonal_decompose",
    "series_holt_forecast",
    "scd2_user_state_history",
    "scd2_point_in_time_join",
    "zorder_bucket_stats",
    "incremental_dedup",
    "curation_filter_funnel",
    "decontamination_ngram_overlap",
    "pagerank_part_graph",
    "graph_triangle_stats",
    "rolling_median_value",
    "salted_user_event_stats",
    "interval_overlap_coactivity",
    "token_length_histogram",
    # round 7
    "corpus_curation_pipeline",
    "multimodal_png_stats",
    "dedup_containment",
    "unigram_logprob_score",
    "equidepth_partition_boundaries",
    "pii_redaction",
    "multimodal_jpeg_stats",
    "multimodal_g711_stats",
    "series_backtest_mape",
    "series_robust_mad_outliers",
    "series_changepoint_meanshift",
    "embedding_dedup_clusters",
    "minhash_jaccard_calibration",
    "multimodal_gif_stats",
    "attribution_linear_credit",
    "cms_frequent_terms",
    "multimodal_gif_anim_stats",
    "series_nightly_rollup",
    "kmeans_lloyd_clusters",
    "ivf_trained_ann_topk",
    "vocab_oov_rate",
    "semantic_cluster_dedup",
    "bpe_train_merges",
    "bpe_compression_stats",
    "ann_recall_eval",
    "hll_distinct_calibration",
    "cms_cells_hourly",
    "skew_key_profile",
    "join_size_cms_estimate",
    "corpus_datasheet",
    "bigram_logprob_score",
    "source_token_drift",
    "hll_registers_hourly",
    "value_drift_psi",
    "bloom_filter_join_prune",
    "hard_negative_mining",
    "quality_weighted_sampling",
    "hll_set_union_intersect",
    "token_pmi_collocations",
    "event_transition_matrix",
    "series_time_weighted_avg",
    "rank_fusion_rrf",
    "trimmed_winsorized_order_stats",
    "ab_test_mean_diff",
    "fk_integrity_audit",
    "association_rules_lift",
    "abc_classification_parts",
    "user_activity_entropy",
    "text_readability_scores",
    "gini_revenue_concentration",
    "snapshot_diff_report",
    "quantile_normalize_sources",
    "basket_recommender_hitrate",
    "label_noise_knn_disagreement",
    "vocab_size_oov_curve",
    "survival_kaplan_meier",
    "embedding_power_iteration",
    "benford_digit_test",
    "cdc_apply_roundtrip",
    "forecast_interval_coverage",
    "chi_square_independence",
    "nightly_quality_report",
    "bitmap_segment_overlap",
    "spatial_cell_knn_join",
    "graph_bounded_shortest_paths",
    "hierarchy_subtree_rollup",
    "bitmap_words_hourly",
    # batch 13
    "mix_shift_decomposition",
    "substring_span_dedup",
    "bm25_search_topk",
    "weighted_sample_ares",
    "spatial_dbscan_clusters",
    "ols_normal_equations",
    "rfm_customer_segments",
    "ndcg_ranking_eval",
    "naive_bayes_classify",
    "decision_stump_split",
    "graph_kcore_extraction",
    "largest_remainder_apportionment",
    # batch 14
    "inventory_clamped_balance",
    "series_theilsen_trend",
    "weighted_median_discount",
    "asof_nearest_click_to_purchase",
    "activity_streak_islands",
    "corpus_mixture_reweighting",
    "jl_projection_distortion",
    "textrank_keywords",
    "golden_record_survivorship",
    "markov_removal_attribution",
    "k_anonymity_audit",
    "multimodal_zip_extract",
    "zipf_token_powerlaw",
    "mutual_information_priority_segment",
    "split_leakage_audit",
    "window_funnel_depth",
    "functional_dependency_audit",
    "graph_degree_assortativity",
    "embedding_index_pipeline",
    "fifo_cogs_matching",
    "bitemporal_asof_state",
    "classification_f1_report",
    "series_rolling_ols_slope",
    "expectation_suite_report",
    "price_index_laspeyres_fisher",
    "did_order_value_estimator",
    "weiszfeld_geometric_median",
    "morans_i_spatial_autocorrelation",
    "ks_two_sample_doclen",
    "mannwhitney_u_doclen",
    "spearman_rank_correlation",
    "cusum_drift_detection",
    # round 8 (batch 15: governance/retrieval)
    "pii_detection_report",
    "pii_redaction_audit",
    "gopher_repetition_report",
    "table_profile_report",
    "inverted_index_build",
    "histogram_quantile_sketch",
    # round 8 (batch 16: curation/engine-internals/governance pipeline)
    "url_canonicalize_dedup",
    "join_cardinality_estimate",
    "sequential_pattern_support",
    "incremental_agg_maintenance",
    "woe_information_value",
    "max_concurrent_user_spans",
    "governance_nightly_report",
    # round 8 (batch 17: containers/layout/source census)
    "multimodal_tar_shards",
    "zone_map_pruning_report",
    "cross_source_duplication_matrix",
    # round 8 (batch 18: retention/erasure/lateness)
    "retention_purge_audit",
    "gdpr_erasure_audit",
    "out_of_order_lateness_profile",
    # round 8 (batch 19: classifier/storage advice)
    "perceptron_training",
    "encoding_advisor",
    # round 8 (batch 20: media probes, flow)
    "multimodal_mp3_framewalk",
    "multimodal_h264_nalwalk",
    "session_entry_paths",
    # round 8 (batch 21: latency/reputation/sharding)
    "conversion_latency_histogram",
    "source_reputation_score",
    "stratified_minibatch_assignment",
    # round 8 (batch 22: watermark sizing, DP mechanism)
    "watermark_delay_sweep",
    "dp_noisy_histogram",
    # round 8 (batch 23: 11th iterative family)
    "hits_hub_authority",
    # round 9 (batch 24: graph census, split governance, writer
    # planning, OLAP cube, agreement stats, dedup economics)
    "triangle_count_clustering",
    "leakage_safe_split_assignment",
    "output_shard_planner",
    "cube_revenue_stats",
    "cohens_kappa_agreement",
    "dedup_savings_report",
    # round 9 (batch 25: ranking eval, seasonality, robust stats,
    # streaming upsert view)
    "average_precision_report",
    "seasonal_dow_decomposition",
    "mad_outlier_detector",
    "streaming_lww_upsert_view",
    # round 9 (batch 26: 12th iterative family, optimizer decisions,
    # reproducibility manifests)
    "label_propagation_communities",
    "join_order_advisor",
    "pipeline_lineage_manifest",
    "order_invariance_audit",
    # round 9 (batch 27: sort-free order statistics, skew proof,
    # interval-union coverage)
    "iterative_quantile_refinement",
    "salted_aggregation_equivalence",
    "interval_union_coverage",
    # round 9 (batch 28: capacity/scheduling/warehouse maintenance)
    "overflow_risk_audit",
    "backfill_partition_planner",
    "scd1_upsert_merge",
    # round 9 (batch 29: dedup eval, rate intervals, Heaps growth)
    "dedup_eval_precision_recall",
    "wilson_rate_intervals",
    "heaps_law_vocab_growth",
    # round 9 (batch 30: exact heavy hitters, source attribution).
    # winnowing_fingerprint_pairs (~25 s cold at sf0.1) is mirrored
    # for correctness but kept OUT of the bench set: with
    # bootstrap_mean_ci it would add >1 min to a run already near the
    # wall-clock budget; the family's bench signal comes from the
    # cheaper fingerprint/pair entries below and from
    # prefix_filter_jaccard_join.
    "heavy_hitters_two_pass",
    "loo_source_contribution",
    # round 9 (batch 31: tokenizer/calibration/reconciliation)
    "tokenizer_fertility_by_lang",
    "order_amount_reconciliation",
    # round 9 (batch 32: sharding, cluster eval; bootstrap_mean_ci
    # excluded for budget — see the batch-30 note)
    "rendezvous_shard_assignment",
    "bcubed_cluster_eval",
    # round 9 (batch 33: sequence eval, causal, model selection)
    "markov_next_event_accuracy",
    "kfold_cv_rate_model",
    # round 9 (batch 34: ranking eval, calibration map, privacy)
    "roc_auc_report",
    "isotonic_calibration_pava",
    "t_closeness_audit",
    # round 9 (batch 35: 13th iterative family, uplift, vocab budget)
    "als_rank1_factors",
    "qini_uplift_curve",
    "topp_vocab_coverage",
    # round 9 (batch 36: word2vec prep, metrics review, mixtures)
    "skipgram_training_pairs",
    "simpson_paradox_detector",
    "mixture_temperature_sweep",
    # round 9 (batch 37: image dedup, anti-entropy)
    "multimodal_dhash_dedup",
    "merkle_range_fingerprints",
    # round 9 (batch 38: linkage tuning, local-DP, LSH planning)
    "fellegi_sunter_weights",
    "randomized_response_estimate",
    "lsh_scurve_planner",
    # round 9 (batch 39: 14th iterative family; the streaming funnel
    # tracker is excluded — its two-file staging writes ~11 s of
    # non-engine I/O per run, and the streaming lane is already
    # represented by streaming_lww_upsert_view)
    "sinkhorn_matrix_scaling",
    # round 9 (batch 40: SQL-surface contracts)
    "range_value_frame_stats",
    "set_ops_bag_semantics",
    "null_semantics_audit",
    # round 9 (batch 41: eval/ops lanes)
    "langid_confusion_matrix",
    "class_separation_report",
    "minhash_band_load_report",
    # round 9 (batch 42: temporal CV, sizing, access requests)
    "timeseries_forward_cv",
    "broadcast_threshold_advisor",
    "dsar_export_bundle",
    # round 9 (batch 43: hashed vectors, tails, sequential tests)
    "hashing_trick_doc_vectors",
    "hill_tail_index",
    "sprt_sequential_test",
    # round 9 (batch 44: offline policy eval, private collection)
    "bandit_replay_eval",
    "secure_agg_masking_proof",
    # round 9 (batch 45: quotas, SLO alerting, parameter sweeps)
    "maxmin_fair_allocation",
    "slo_burn_rate_alerts",
    "session_gap_sweep",
    # round 9 (batch 46: packing budgets, dedup explainability)
    "context_window_fit_report",
    "dup_pair_diff_stats",
    # round 9 (batch 47: calibration, robust intervals, robust effects)
    "aa_test_calibration",
    "median_ci_order_stats",
    "quantile_treatment_effect",
    # round 9 (batch 48: vocab normalization, unit economics)
    "symspell_typo_candidates",
    "cohort_ltv_curve",
    # round 9 (batch 49): workbook_cells_stream is excluded like the
    # funnel tracker — its per-run landing-zone staging writes ~10 s
    # of non-engine I/O; the source's engine cost is covered by the
    # batch workbook_cells tests and the offset-contract unit tests
    # round 9 (batch 50: engine contracts, basket stats, diagnostics)
    "json_path_semantics_audit",
    "cooccurrence_null_lift",
    "overdispersion_index",
    # round 12 (batch 51): the two-level codebook's registered path —
    # appended at the lane TAIL so every earlier query keeps its JVM
    # context and cross-round per-query comparability
    "two_level_codebook",
    # round 13 (batch 52): the escalated blocking paths (two-level at
    # coarse_k=8; the kNN form at the measured (2,1) probe shape) —
    # the dataflows the auto default rides past the 125k crossover;
    # benched so their warm-lane lineage exists from the round they
    # became reachable by default (VERDICT r12 #7). Lane tail, same
    # comparability rule.
    "semantic_cluster_dedup_two_level",
    "label_noise_knn_two_level",
]

BENCH_QUERIES = BENCH_QUERIES_R2 + BENCH_QUERIES_EXT
# SPARK_GRAFT_BENCH_SET=r2set restricts the run to the frozen lineage
# set alone — an ISOLATION tool (fresh JVM, no extended-set load), used
# to separate catalog-size JVM pressure from real plan regressions in
# the cold lane. History records from such runs are tagged bench_set
# and excluded from tools/bench_regression.py's full-run lineage.
if os.environ.get("SPARK_GRAFT_BENCH_SET") == "r2set":
    BENCH_QUERIES = list(BENCH_QUERIES_R2)
# SPARK_GRAFT_BENCH_ONLY="a,b,c" runs ONLY the named queries in a fresh
# JVM — the isolation probe tools/bench_regression.py --rerun uses to
# separate lane-position/JVM-pressure noise from real plan regressions
# (VERDICT r9 #2). Tagged bench_set=only so the record never enters the
# full-run lineage.
_ONLY = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
# Only-mode fresh-JVM comparability (VERDICT r10 #1): a bare JVM charges
# ~15 s of one-time costs (codegen framework init, parquet/Arrow reader
# init, JIT of shared generated classes) to whatever runs first, and the
# table cache materializes inside the first warm run — so a sub-second
# suspect timed at lane 0 reads as a 15 s cold / 4 s warm "regression"
# no matter what its plan does (the langid_confusion_matrix
# false-confirm). Only-mode therefore executes a fixed UNTIMED warmup —
# the standard lane-head (first 5 frozen-set queries not under test) —
# before the cold lane, and materializes the table cache untimed before
# the warm lane, so fresh-JVM times approximate the in-lane JVM context
# the old record's numbers rode.
BENCH_WARMUP: list[str] = []
if _ONLY:
    only = [n.strip() for n in _ONLY.split(",") if n.strip()]
    BENCH_QUERIES = [n for n in BENCH_QUERIES if n in set(only)] + [
        n for n in only if n not in set(BENCH_QUERIES)
    ]
    os.environ["SPARK_GRAFT_BENCH_SET"] = "only"
    BENCH_WARMUP = [n for n in BENCH_QUERIES_R2 if n not in set(only)][:5]


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _run_once(fn, spark, sf_dir: str) -> float:
    """Build and fully materialize one query; return elapsed seconds.
    The noop sink materializes every column (count() would let Catalyst
    prune the projections and under-report the work)."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


_LOAD_BEFORE: float | None = None
_STAT_BEFORE: tuple[int, int] | None = None

# one source of truth with tools/bench_regression.STEAL_MAX_PCT (kept
# literal here so bench.py stays import-light; a contract test pins
# the two equal)
STEAL_CONTAMINATION_PCT = 1.0


def _cpu_stat() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat. On a guest VM,
    STEAL is host-level CPU contention — invisible to guest loadavg,
    and the measured cause of multi-x bench inflation episodes (r11
    diagnosis: a cold lane read 3.4x slow at loadavg 0.5)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        # total = user..steal (first 8 fields) ONLY: guest/guest_nice
        # are already accounted inside user/nice, so summing them
        # double-counts guest time and understates steal_pct
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    global _LOAD_BEFORE, _STAT_BEFORE
    try:
        _LOAD_BEFORE = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    _STAT_BEFORE = _cpu_stat()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # one JVM compiles and times 250+ query plans: give the driver GC
    # headroom so late-lane timings don't pay for early-lane garbage
    # (the box has 128 GiB; the 8g default is sized for tests)
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # One trivial action so neither lane charges session startup (~10 s of
    # JVM boot that has nothing to do with any query).
    spark.range(1000).count()

    QUERIES = load_queries()
    missing = [n for n in BENCH_QUERIES if n not in QUERIES]
    if missing:
        # a renamed/removed headline query must fail loudly — silently
        # summing fewer queries would read as a throughput win
        raise SystemExit(f"bench queries missing from catalog: {missing}")

    # --- Cold lane: the r1-r3 methodology, kept for round-over-round
    # regression tracking. Table cache OFF, each query timed on its FIRST
    # run in this session — so it pays the parquet scan, whole-stage-codegen
    # compile, and AQE init, exactly like a fresh driver would. It runs
    # BEFORE the steady lane so nothing is pre-warmed. Skippable during
    # tight iteration with SPARK_GRAFT_BENCH_SKIP_COLD=1.
    cold: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SKIP_COLD") != "1":
        os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
        for name in BENCH_WARMUP:
            # untimed lane-head warmup (only-mode): absorb the per-JVM
            # fixed costs WITHOUT executing the suspects, so their cold
            # times are comparable to in-lane records (VERDICT r10 #1)
            _run_once(QUERIES[name], spark, sf_dir)
        for name in BENCH_QUERIES:
            cold[name] = _run_once(QUERIES[name], spark, sf_dir)

    # --- Steady lane: the declared headline number. Hot-table cache ON
    # (load_table persists each table in memory, repartitioned to the core
    # count — the fixture parquet is one row group per file, so without
    # this every scan is a single task regardless of cores), cache
    # pre-materialized untimed, and each query runs twice: the first run
    # absorbs one-time costs (codegen compilation, JVM JIT of the generated
    # classes — measured at 1.5-1.9 s on a 0.6-0.9 s steady query at sf0.1,
    # drifting upward as the JVM accretes classes across rounds), the
    # reported number is min(first, second) to guard against cache-eviction
    # pathologies. At 100 TB the compile cost is amortized over minutes of
    # scan; charging it to a sub-second local query only adds noise — the
    # cold lane above is where that cost stays visible.
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    from series_tiempo_ar_scraping_spark.session import load_table

    for t in TABLES:
        load_table(spark, sf_dir, t)
    if BENCH_WARMUP:
        # only-mode: in a full run the lane head pays the (lazy) cache
        # materialization; here nothing runs before the suspects, so
        # materialize the cache untimed — otherwise the suspect's first
        # warm run reads parquet + builds the cache and reports that
        for t in TABLES:
            load_table(spark, sf_dir, t).count()

    timings: dict[str, float] = {}
    r2 = set(BENCH_QUERIES_R2)
    for name in BENCH_QUERIES:
        first = _run_once(QUERIES[name], spark, sf_dir)
        if name in r2 or not cold or BENCH_WARMUP:
            # frozen lineage set keeps the r2-r5 min-of-2 methodology
            # (guards against cache-eviction pathologies). EXT queries
            # also get min-of-2 when the cold lane was SKIPPED — their
            # single-run shortcut below is only valid because the cold
            # lane already paid their codegen compile (ADVICE r7) —
            # and in only-mode, where min-of-2 lets the first warm run
            # absorb the fresh JVM's re-JIT so the reported number is
            # the steady state an in-lane record saw (VERDICT r10 #1)
            second = _run_once(QUERIES[name], spark, sf_dir)
            timings[name] = min(first, second)
        else:
            # EXT queries already executed once in the cold lane, so
            # this "first warm" run is the JVM's 2nd+ execution
            # (codegen compiled) — a min-of-2 here bought ~nothing and
            # its 2nd runs alone cost ~2 min of wall at 115 EXT
            # queries, pushing the whole bench past 10-minute timeout
            # budgets (observed: the 144-query run was killed at 590s)
            timings[name] = first
    perquery_path = os.environ.get(
        "SPARK_GRAFT_BENCH_PERQUERY"
    ) or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_PERQUERY.json"
    )
    print(json.dumps(build_output(timings, cold, sf, perquery_path)))


def build_output(
    timings: dict[str, float],
    cold: dict[str, float],
    sf: str,
    perquery_path: str | None = None,
) -> dict:
    """Emit detail lines + history record, return the compact final summary.

    Split out of main() so tests/test_bench_contract.py can pin the
    final-line length without booting Spark. The per-query sidecar is
    written only when ``perquery_path`` is given (``main`` passes it),
    so a caller that only wants the summary never rewrites a file.
    """
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    r2set = round(
        sum(timings[n] for n in BENCH_QUERIES_R2 if n in timings), 3
    )
    ext_total = round(sum(timings.values()), 3)
    detail = {"sf": sf_val, "queries": timings}
    # lane index: each query's position in the run order. Cross-round
    # per-query times are only comparable when the JVM context matches
    # (same total set, same position); recording the lane makes the
    # "did this query's context move?" question mechanical instead of
    # forensic (VERDICT r9 #2) — bench_regression annotates flags with
    # it and --rerun re-times suspects in a fresh JVM.
    detail["lane"] = {
        n: i for i, n in enumerate(BENCH_QUERIES) if n in timings
    }
    bench_set = os.environ.get("SPARK_GRAFT_BENCH_SET")
    if bench_set:
        detail["bench_set"] = bench_set
    # ambient-contention telltale (r11 warm-inflation diagnosis): the
    # r10 same-tree records diverged 28% from machine load DURING the
    # runs, not from any JVM property — record the 1-min loadavg from
    # BEFORE the session booted (the bench itself saturates the box, so
    # end-of-run load is meaningless) so a contaminated record is
    # identifiable from the record itself instead of forensically.
    if _LOAD_BEFORE is not None:
        detail["loadavg_before"] = _LOAD_BEFORE
    stat_after = _cpu_stat()
    steal_pct = None
    if _STAT_BEFORE and stat_after and stat_after[1] > _STAT_BEFORE[1]:
        # % of this run's CPU time stolen by the host — the r10/r11
        # inflation episodes are steal, not guest load; >~1% means the
        # record's timings are contaminated and should not be compared
        steal_pct = round(
            100.0
            * (stat_after[0] - _STAT_BEFORE[0])
            / (stat_after[1] - _STAT_BEFORE[1]),
            2,
        )
        detail["steal_pct"] = steal_pct
        # Metric version stamp (ADVICE r12): v2 = denominator
        # sum(vals[:8]) (excludes the guest/guest_nice double-count);
        # pre-r12 BENCH_HISTORY records are v1 (sum of all fields) and
        # read slightly LOWER for the same contention — cross-era
        # comparisons against STEAL_MAX_PCT are knowingly approximate.
        detail["steal_metric"] = 2
    if BENCH_WARMUP:
        # self-documenting record: which lane-head queries warmed this
        # only-mode JVM (so a later reader knows the times are
        # in-lane-comparable, not bare-JVM)
        detail["warmup"] = list(BENCH_WARMUP)
    out = {
        "metric": "headline_queries_total",
        # FROZEN r2-era 29-query warm subtotal — the r2-r5 lineage number
        # (ADVICE r6: consumers compare "value" across rounds; the
        # extended total is value_ext)
        "value": r2set,
        "unit": "sec",
        "sf": sf_val,
        # schema_version marks metric-definition boundaries so
        # round-over-round tooling can refuse cross-version compares
        # (ADVICE r7): v1 = r1-r5 ("value" covered the whole then-set),
        # absent in the r6 artifact where "value" briefly meant the
        # 45-query extended total, v2 = r7+ ("value" is the frozen
        # 29-query r2 subtotal; extended lives in value_ext).
        "schema_version": 2,
        # written-at timestamp INSIDE the artifact: git checkouts reset
        # file mtimes, so tools/bench_regression.py sorts on this field
        # (mtime is only the legacy fallback for pre-r9 artifacts)
        "ts": round(time.time(), 3),
        "value_r2set": r2set,
        "value_ext": ext_total,
        "n_queries": len(timings),
    }
    if cold:
        cold_r2 = round(
            sum(cold[n] for n in BENCH_QUERIES_R2 if n in cold), 3
        )
        out["value_cold"] = cold_r2
        out["value_cold_r2set"] = cold_r2
        out["value_cold_ext"] = round(sum(cold.values()), 3)
        detail["queries_cold"] = cold
    # Ship-gate on steal (VERDICT r11 #4): the r11 round record shipped
    # with steal_pct 1.23 and a 2.2x-inflated cold lane that three clean
    # same-tree records had to vouch against. Contamination must be
    # LOUD and must mark the SUMMARY line (the artifact of record), not
    # only the detail: downstream tooling already excludes such records
    # (bench_regression STEAL_MAX_PCT); the flag lets a human reading
    # BENCH_r{N}.json alone see it too. The round checklist rule: a
    # shipped record must read steal_pct <= 1 — re-run until clean.
    if steal_pct is not None and steal_pct > STEAL_CONTAMINATION_PCT:
        out["steal_pct"] = steal_pct
        out["steal_contaminated"] = True
        detail["steal_contaminated"] = True
        print(
            f"WARNING: steal_pct={steal_pct} > "
            f"{STEAL_CONTAMINATION_PCT} — host-level CPU steal "
            "contaminated this run's timings; re-run bench.py until a "
            "clean record lands (bench_regression will exclude this "
            "one from lineage)",
            file=sys.stderr,
        )
    # Per-query detail: earlier stdout lines (outside the driver's
    # 2000-char tail window) + an append-only history file for
    # tools/bench_regression.py. Never in the final line.
    print("BENCH_DETAIL " + json.dumps(detail))
    # Sidecar artifact (VERDICT r13 #1): the driver's PERF builder got
    # an EMPTY per_query dict in r13 because the only full per-query
    # dict lived on the (truncated) detail line. Publish it as its own
    # overwrite-on-each-run file the driver/judge can read whole; the
    # final summary line carries only the (short) file name.
    if perquery_path is not None:
        try:
            from series_tiempo_ar_scraping_spark.sinks.atomic import (
                atomic_output_path,
            )

            sidecar = {
                "ts": round(time.time(), 3),
                "sf": sf_val,
                "per_query": timings,
            }
            if cold:
                sidecar["per_query_cold"] = cold
            if steal_pct is not None:
                sidecar["steal_pct"] = steal_pct
            with atomic_output_path(perquery_path) as tmp:
                with open(tmp, "w") as f:
                    json.dump(sidecar, f)
            out["per_query_file"] = os.path.basename(perquery_path)
        except OSError as exc:  # sidecar is best-effort, like history
            print(
                f"BENCH_DETAIL perquery-write-failed: {exc}", file=sys.stderr
            )
    try:
        hist = os.environ.get("SPARK_GRAFT_BENCH_HISTORY") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
        )
        with open(hist, "a") as f:
            f.write(json.dumps({"ts": time.time(), **detail, **out}) + "\n")
    except OSError as exc:  # history is best-effort; never fail the bench
        print(f"BENCH_DETAIL history-write-failed: {exc}", file=sys.stderr)
    return out


if __name__ == "__main__":
    main()
