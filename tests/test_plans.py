"""Physical-plan audits: the scale posture, asserted.

Correctness says the queries return the right rows; these tests pin the
*plans* — predicate pushdown reaching the parquet scan, column pruning,
broadcast joins for dims, semi/anti join strategies, and no Python in
JVM-only pipelines. A regression here is a 100 TB performance bug even
when every value still matches.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from series_tiempo_ar_scraping_spark.registry import load_queries

QUERIES = load_queries()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name: str, mode: str = "formatted") -> str:
        return plan_of(QUERIES[name](spark, sf_dir), mode)

    return get


def test_q01_pushdown_and_pruning(plans):
    p = plans("q01_pricing_summary")
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1].splitlines()[0]
    # column pruning: unused wide columns never leave the scan
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_extendedprice" in read_schema
    # partial (map-side) aggregation before the exchange — one shuffle of
    # pre-combined rows, not raw lineitems
    simple = plans("q01_pricing_summary", "simple")
    assert "partial_sum" in simple
    assert simple.index("partial_sum") > simple.index("Exchange")


def test_q05_broadcasts_dims(plans):
    p = plans("q05_region_revenue")
    assert p.count("BroadcastHashJoin") >= 2  # nation/region (+customer)
    assert "PushedFilters" in p


def test_semi_join_strategy(plans):
    p = plans("semi_orders_with_big_lineitem")
    assert "LeftSemi" in p


def test_anti_join_strategy(plans):
    p = plans("anti_customers_without_orders")
    assert "LeftAnti" in p


def test_topk_uses_take_ordered(plans):
    p = plans("q03_revenue_topk", "simple")
    assert "TakeOrderedAndProject" in p


def test_jvm_only_pipelines_have_no_python(plans):
    """Text analysis + minhash dedup are pure Catalyst expressions — any
    BatchEvalPython/ArrowEvalPython in the plan means someone slipped a
    Python UDF into the hot path."""
    for q in ("text_stats", "dedup_minhash_lsh", "text_lang_quality",
              "embedding_cosine_topk"):
        p = plans(q, "simple")
        assert "EvalPython" not in p, f"{q} plan contains a Python UDF"


def test_pandas_kernels_are_arrow_batched(plans):
    """Multimodal kernels are the sanctioned Python islands — they must be
    Arrow-batched (MapInPandas), never row-pickling PythonUDF."""
    p = plans("multimodal_features", "simple")
    assert "MapInPandas" in p


def test_observations_sink_partition_pruning(spark, tmp_path):
    """The scale sink's layout actually prunes: a catalog_id predicate
    becomes a PartitionFilter (directory skip), not a data filter."""
    import os

    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        write_observations_parquet,
    )

    obs = spark.createDataFrame(
        [("c1", "s1", "2024-01-01", 1.0, "M"), ("c2", "s2", "2024-01-01", 2.0, "D")],
        "catalog_id string, series_id string, ts string, value double, freq_code string",
    )
    path = str(tmp_path / "obs")
    write_observations_parquet(obs, path)
    assert os.path.isdir(os.path.join(path, "catalog_id=c1", "freq_code=M"))
    back = spark.read.parquet(path).filter("catalog_id = 'c1'")
    p = plan_of(back)
    assert "PartitionFilters" in p
    pf_line = p.split("PartitionFilters")[1].splitlines()[0]
    assert "catalog_id" in pf_line
    assert back.count() == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides of a fact-fact join on the key removes the
    shuffle entirely (zero Exchange): the 100 TB plan for repeated
    lineitem⋈orders joins. Broadcast is disabled so the test shows the
    co-located sort-merge the big-data case would use."""
    from series_tiempo_ar_scraping_spark.session import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("o_bucketed"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("li_bucketed"))
        lb, ob = spark.table("li_bucketed"), spark.table("o_bucketed")
        j = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        p = plan_of(j, "simple")
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: no shuffle either side
        # and it still computes the right thing
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS o_bucketed")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")


def test_streaming_filter_pushdown(spark, sf_dir):
    """Filters on the events scan push to parquet even through the
    ts-conversion projection."""
    from series_tiempo_ar_scraping_spark.session import load_table

    df = load_table(spark, sf_dir, "events").filter("event_type = 'click'")
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "event_type" in p.split("PushedFilters")[1].splitlines()[0]


def test_grouping_sets_single_expand_single_shuffle(plans):
    # GROUPING SETS must compile to one Expand + one aggregate exchange,
    # not one scan/shuffle per grouping set.
    p = plans("grouping_sets_order_stats", "simple")
    assert p.count("Expand") == 1
    assert p.count("Scan parquet") == 1


def test_sliding_window_is_generator_not_join(plans):
    # The 2h/1h sliding window expands windows per-row (Expand/generator);
    # a plan with a join here would be quadratic at scale.
    p = plans("sliding_window_rates", "simple")
    assert "Join" not in p
    assert "partial_count" in p  # map-side combine before the shuffle


def test_stream_static_join_broadcasts_dims(spark, sf_dir):
    # Build the same enrichment topology in batch mode to audit the join
    # strategy (streaming plans only materialize at runtime): both
    # dimension joins must be broadcast — a shuffled stream side would be
    # a per-microbatch repartition at scale.
    from pyspark.sql import functions as F
    from series_tiempo_ar_scraping_spark.session import load_table

    e = load_table(spark, sf_dir, "events")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    df = (
        e.join(c, e["user_id"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .count()
    )
    p = plan_of(df, "simple")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_minhash_no_inferred_generate_filter(plans):
    """Regression guard for the InferFiltersFromGenerate pitfall: if the
    shingle explode takes a projected *attribute*, the optimizer infers a
    `size(...) > 0` filter and predicate pushdown re-expands it into the
    full tokenize+shingle expression evaluated per-row at the scan —
    measured 20x slower at sf0.1. The optimized plan must not contain the
    shingle derivation inside a Filter."""
    p = plans("dedup_minhash_lsh", "extended")
    optimized = p.split("== Optimized Logical Plan ==")[1]
    for line in optimized.splitlines():
        if line.strip().startswith(("Filter", "+- Filter", ":- Filter")):
            assert "array_distinct(transform(sequence" not in line, (
                "shingle expression cloned into a Filter "
                "(InferFiltersFromGenerate + pushdown regression)"
            )


def test_skyline_is_single_window_no_join(plans):
    """The 2D skyline must stay the per-day-aggregate + broadcast-lookup
    formulation: the global running-max window runs over the per-day
    frame (#distinct days rows), the fact side is never globally sorted,
    and the only join is the broadcast of the tiny day→best_newer lookup
    — NOT an O(n^2) dominance self-join."""
    p = plans("skyline_orders_pareto", "simple")
    assert "SortMergeJoin" not in p and "Cartesian" not in p
    assert "BroadcastHashJoin" in p
    assert "Window" in p
    # The single-partition exchange feeding the window must sit on top of
    # the per-day aggregate (its subtree contains the partial_max agg),
    # i.e. fact rows are pre-aggregated before any global ordering.
    tail = p[p.index("Exchange SinglePartition"):]
    assert "partial_max" in tail


def test_concurrent_sessions_sweep_is_two_phase(plans):
    """The sweep-line prefix sum must be two-phase: endpoints are range-
    partitioned and locally summed (SPARK_PARTITION_ID in the plan), and
    the only global window input is the per-partition carry aggregate —
    a single-partition Sort over raw endpoints means the two-phase
    rewrite regressed."""
    p = plans("concurrent_sessions_by_day", "simple")
    # endpoint running sums are computed per part_id partition, never in
    # one global window (the checkpointed range-partitioned frame scans
    # as ExistingRDD, so part_id is the visible partitioning evidence)
    assert "windowspecdefinition(part_id" in p
    tail = p[p.index("Exchange SinglePartition"):]
    assert "partial_sum" in tail


def test_json_extraction_is_jvm_side(plans):
    """from_json must stay a Catalyst expression: no Python eval in the
    plan, and the aggregation keeps map-side partial combine."""
    p = plans("json_props_bucket_stats", "simple")
    assert "EvalPython" not in p
    assert "from_json" in p
    assert "partial_count" in p


def test_udaf_is_arrow_grouped_agg(plans):
    """The weighted-average UDAF must run as an Arrow-batched grouped
    aggregate (AggregateInPandas), never as row-pickled Python."""
    p = plans("weighted_avg_discount_udaf", "simple")
    # Spark 4.x names the node ArrowAggregatePython; 3.x AggregateInPandas.
    assert "ArrowAggregatePython" in p or "AggregateInPandas" in p
    assert "BatchEvalPython" not in p


def test_decontamination_broadcasts_eval_side(plans):
    """The eval corpus is the small side by construction — it must
    broadcast (training side never shuffles for the join), and the
    shingle pipeline must stay JVM-side."""
    p = plans("decontamination_ngram_overlap", "simple")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_quantization_is_map_only(plans):
    """int8 quantization QA is per-vector arithmetic: no Exchange at all
    before the scan results emerge, no Python."""
    p = plans("embedding_int8_quantization", "simple")
    assert "EvalPython" not in p
    assert "Exchange" not in p  # map-only: scan -> project -> filter


def test_zorder_is_jvm_only_bounded_shuffle(plans):
    """Morton interleave must stay whole-stage-codegen'd column math: no
    Python anywhere, and the only wide operations are the 1-row bounds
    aggregate plus the final bounded (<=1024 group) hash aggregate."""
    p = plans("zorder_bucket_stats", "simple")
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p  # bounds join is broadcast
    assert p.count("Exchange") <= 3, p


def test_incremental_dedup_no_index_self_join(plans):
    """The incremental matcher joins NEW bands against INDEX bands once;
    an index self-join (the thing this operator exists to avoid) would
    show as an extra join over the same banded subtree."""
    p = plans("incremental_dedup", "simple")
    assert "EvalPython" not in p
    # exact stage + band join + two shingle-verify joins + final assembly:
    # bounded join count guards against an accidental index x index blowup
    assert p.count("SortMergeJoin") + p.count("BroadcastHashJoin") <= 8, p


def test_series_trend_two_exchanges_partial_agg(plans):
    """One-pass OLS: daily rollup + per-series moment aggregate — two
    shuffles total, both with map-side partial aggregation; anything
    more means the closed form degraded into iteration or a window."""
    p = plans("series_linear_trend", "simple")
    assert "partial_sum" in p
    assert p.count("Exchange") <= 2, p
    assert "Window" not in p


def test_interval_overlap_is_equi_join(plans):
    """The range x range overlap must pair on the day-bin equi-key; a
    BroadcastNestedLoopJoin/CartesianProduct here is the quadratic
    interval join this operator exists to avoid."""
    p = plans("interval_overlap_coactivity", "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_funnel_no_cartesian(plans):
    p = plans("event_funnel_conversion", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_anomaly_zscore_broadcasts_stats(plans):
    """Per-point scoring joins the tiny per-series stats frame back by
    broadcast — the fact side never shuffles for the join."""
    p = plans("series_anomaly_zscore", "simple")
    assert "BroadcastHashJoin" in p


def test_holt_single_collect_no_python(plans):
    """The sequential recursion must stay one grouped collect + one
    codegen'd fold expression — no Python island, no extra shuffles."""
    p = plans("series_holt_forecast", "simple")
    assert "EvalPython" not in p
    assert p.count("Exchange") <= 2, p


def test_decompose_broadcast_seasonal_join(plans):
    """The seasonal frame (|series| x 7 rows) must broadcast back; the
    daily frame never shuffles for that join."""
    p = plans("series_seasonal_decompose", "simple")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_curation_pipeline_stage_plans(spark, sf_dir):
    """The composed corpus_curation_pipeline must keep every stage's
    pruning when chained: per-op oracles can't see inter-stage plan bugs
    (a lost broadcast hint or a re-derived shingle subtree is invisible
    to the hash), so the shapes are pinned here."""
    from series_tiempo_ar_scraping_spark.queries_batch9 import (
        _curation_final,
        corpus_curation_pipeline,
    )

    # (a) end-to-end lazy lineage (checkpoint off): ingest filter reaches
    # the scan, everything JVM-side, no all-pairs joins, eval side
    # broadcast, both drop stages are anti-joins
    lazy = plan_of(_curation_final(spark, sf_dir, checkpoint=False))
    assert "EvalPython" not in lazy
    assert "CartesianProduct" not in lazy
    assert "BroadcastNestedLoopJoin" not in lazy
    assert "PushedFilters" in lazy
    assert "doc_id" in lazy.split("PushedFilters")[1].splitlines()[0]
    assert "BroadcastHashJoin" in lazy  # decontamination eval side
    lazy_simple = plan_of(
        _curation_final(spark, sf_dir, checkpoint=False), "simple"
    )
    assert lazy_simple.count("LeftAnti") == 2  # near-dup drop + decon drop
    # column pruning: document text never travels past tokenization
    read_schema = lazy.split("ReadSchema")[1].splitlines()[0]
    assert "source" not in read_schema and "n_chars" not in read_schema

    # (b) production form (checkpoint on): the shingle frame is reused —
    # downstream consumers scan the checkpointed RDD, and the only
    # parquet scan left is the eval side of decontamination
    prod = plan_of(_curation_final(spark, sf_dir, checkpoint=True), "simple")
    assert prod.count("Scan parquet") == 1, prod
    assert "Scan ExistingRDD" in prod
    assert "EvalPython" not in prod
    # SCALE.md optimizer pitfall #5: the md5-heavy shingle projection
    # must sit on an explicit REPARTITION_BY_NUM, or AQE's size-based
    # coalescing serializes it onto one partition (16s -> 1.5s at sf0.1)
    lazy_shingle = plan_of(
        _curation_final(spark, sf_dir, checkpoint=False), "simple"
    )
    assert "REPARTITION_BY_NUM" in lazy_shingle
    # the Jaccard-verify join (its array_intersect shows in the condition)
    # runs ONCE: decon overlap reads the checkpointed shingle frame, not
    # the near-dup survivor subtree
    assert prod.count("array_intersect") == 1, prod

    # (c) packing is the two-phase prefix sum: per-partition window over
    # part_id, and the single-partition exchange only feeds the carry
    # aggregate (partial_sum below it), never the raw corpus
    full = plan_of(corpus_curation_pipeline(spark, sf_dir), "simple")
    assert "windowspecdefinition(part_id" in full
    tail = full[full.index("Exchange SinglePartition"):]
    assert "partial_sum" in tail
    assert "EvalPython" not in full


def test_mad_outliers_broadcasts_medians_no_global_sort(plans):
    """Both rank-based medians run as per-series windows (partitioned
    sorts), medians join back by broadcast, and nothing funnels through
    a single partition."""
    p = plans("series_robust_mad_outliers", "simple")
    assert "BroadcastHashJoin" in p
    assert "Exchange SinglePartition" not in p
    assert "EvalPython" not in p


def test_changepoint_single_pass_no_global_sort(plans):
    """All window passes partition by series — the split scoring never
    materializes an O(n^2) split-by-point join or a global sort."""
    p = plans("series_changepoint_meanshift", "simple")
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_embedding_clusters_bucket_join_no_cartesian(plans):
    """Pair generation stays a bucket equi-join (subquadratic); the
    component rollups are grouped aggregates."""
    p = plans("embedding_dedup_clusters", "simple")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_minhash_calibration_no_cartesian_no_python(plans):
    p = plans("minhash_jaccard_calibration", "simple")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_nightly_rollup_composed_stage_plans(plans):
    """The composed nightly run keeps each stage's scale shape: the
    OK-series filter reaches the fact side as a broadcast semi-join,
    the flagged count joins as a broadcast single-row frame (never a
    real cartesian), windows partition by series, and no Python."""
    p = plans("series_nightly_rollup", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "LeftSemi" in p
    assert "EvalPython" not in p


def test_kmeans_broadcast_centroids_no_corpus_self_join(plans):
    """Each Lloyd round must broadcast the K-row centroid frame against
    the corpus (never shuffle-join or self-join the big side) and stay
    JVM-only."""
    p = plans("kmeans_lloyd_clusters", "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p


def test_batch11_flagship_plan_properties(plans):
    """Round-7 batch-11 plan contracts (mirrors PLANS.md):
    vocab broadcast, generator-based bigram extraction, and
    scalar-frame-only nested-loop joins in the sketch estimator."""
    p = plans("vocab_oov_rate")
    assert "BroadcastHashJoin" in p  # vocab broadcast, never shuffled
    p = plans("bigram_logprob_score")
    assert "Generate" in p  # bigram pairs via generator, no self-join
    assert "BroadcastHashJoin" in p
    p = plans("join_size_cms_estimate")
    # the ONLY nested-loop joins are 1-row scalar frames
    assert "BroadcastNestedLoopJoin" in p
    p = plans("prefix_filter_jaccard_join")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_batch12_plan_properties(plans):
    """Round-7 batch-12 plan contracts (mirrors PLANS.md): broadcast bit
    frame + semi-join truth in the Bloom prune; the cross join in
    hard-negative mining broadcasts the tiny query side; weighted
    sampling is map-side except ONE report exchange."""
    p = plans("bloom_filter_join_prune")
    assert "BroadcastHashJoin" in p  # bit frame broadcasts to the probe
    assert "LeftSemi" in p  # exact membership as a semi join
    assert "SortMergeJoin" not in p
    p = plans("hard_negative_mining")
    # the 8-row query side broadcasts into the pair scoring; the corpus
    # is never self-joined or sort-merge shuffled
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    p = plans("quality_weighted_sampling", "simple")
    # one exchange total: the per-source report aggregate. quality, hash
    # and the accept test are a single map-side projection.
    assert p.count("Exchange") == 1
    assert "Window" not in p
    assert "Python" not in p and "SortMergeJoin" not in p
    p = plans("hll_set_union_intersect")
    # scalar assembly only: every nested-loop join is a 1-row frame;
    # the register/exact aggregates never sort-merge
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" in p
    p = plans("token_pmi_collocations")
    # doc-frequency frames broadcast; pairs come from the generator,
    # not a presence self-join
    assert "BroadcastHashJoin" in p and "Generate" in p
    assert "SortMergeJoin" not in p
    p = plans("event_transition_matrix", "simple")
    # sequence lag + row-total window, zero joins: totals come from a
    # window over the 25-cell aggregate, not a second events scan
    assert "Join" not in p
    assert p.count("Window") == 2
    p = plans("rank_fusion_rrf", "simple")
    # both metrics score in ONE pair pass: a single broadcast exchange
    # (query side) + a single query_id shuffle reused by all three
    # windows (re-sorts, no re-exchanges); top-5 pushes down as a
    # WindowGroupLimit before the final window
    assert "SortMergeJoin" not in p
    assert p.count("Exchange") == 2  # 1 broadcast + 1 window shuffle
    assert "WindowGroupLimit" in p


def test_batch12_part3_plan_properties(plans):
    """Late batch-12 plan contracts: broadcast-only joins in the FK
    audit and rule mining, zero-shuffle readability, and the
    fingerprint-diff's single sort-merge full-outer (both sides
    fact-sized — broadcasting would be wrong, re-scanning wider rows
    would be worse)."""
    p = plans("fk_integrity_audit")
    assert "SortMergeJoin" not in p  # every parent side broadcasts
    # r14: one pass per relationship — the child collapses to a keyed
    # count frame before the parent join (no separate anti-join scan,
    # no 1-row crossJoin reassembly)
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" not in p
    p = plans("association_rules_lift")
    assert "Generate" in p  # pairs from per-basket arrays, no self-join
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = plans("text_readability_scores", "simple")
    assert "Exchange" not in p  # pure map-side projection
    p = plans("snapshot_diff_report", "simple")
    # r14: the snapshots are carves of ONE table on its unique key, so
    # the diff is a per-row verdict — no join of any kind remains and
    # the only exchange is the 4-row verdict aggregate's
    assert "Join" not in p
    assert p.count("Exchange") == 1
    p = plans("user_activity_entropy")
    assert "SortMergeJoin" not in p  # per-user totals broadcast back


def test_batch12_part4_no_python_and_broadcast_margins(plans):
    """Newest batch-12 entries: all pure-JVM (no Python UDF anywhere),
    and the bounded margin/bounds/expectation frames broadcast instead
    of sort-merging. Fact-fact joins (CDC diffs, recommender context)
    legitimately sort-merge and are not pinned here."""
    for q in (
        "label_noise_knn_disagreement",
        "vocab_size_oov_curve",
        "survival_kaplan_meier",
        "embedding_power_iteration",
        "benford_digit_test",
        "cdc_apply_roundtrip",
        "forecast_interval_coverage",
        "chi_square_independence",
        "basket_recommender_hitrate",
        "quantile_normalize_sources",
    ):
        assert "EvalPython" not in plans(q, "simple"), q
    for q in (
        "chi_square_independence",  # contingency margins
        "benford_digit_test",  # 9-row expectation frame
        "vocab_size_oov_curve",  # top-k coverage; no vocab join at all (r13)
    ):
        assert "SortMergeJoin" not in plans(q), q
    # r13: the OOV sweep derives from per-token counts alone — the top
    # of the vocabulary comes from a parallel TakeOrdered (per-partition
    # top-k + k-row merge), never a vocab-wide single-partition rank
    # window, and the token stream is never joined back (one corpus
    # tokenize pass total).
    p = plans("vocab_size_oov_curve", "simple")
    assert "TakeOrdered" in p
    # r8: label-noise is CELL-BLOCKED — candidates come from ONE
    # equi-join on centroid_id (shuffle-partitionable; may legitimately
    # sort-merge). The r7 scale-killer shape — an all-pairs cross join
    # of the corpus against itself — must never come back.
    p = plans("label_noise_knn_disagreement", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_adaptive_k_default_keeps_blocked_plans(spark, sf_dir):
    """r11: the adaptive K ∝ n DEFAULT must change only the codebook
    SIZE, never the plan shape — same operator tree as the historical
    k=8 contract (the fixture derives K=8, so the trees must be
    identical), and the cell-blocked equi-join posture holds on both
    kernels' default paths."""
    for name in ("label_noise_knn_disagreement", "semantic_cluster_dedup"):
        default_p = plan_of(QUERIES[name](spark, sf_dir), "simple")
        pinned_p = plan_of(QUERIES[name](spark, sf_dir, k=8), "simple")
        assert "CartesianProduct" not in default_p, name
        # BroadcastNestedLoopJoin is permitted ONLY as the Lloyd
        # assignment shape: every vector scores against the K-row
        # BROADCAST codebook (n x K bounded work, the k-means step
        # itself; its build side shows as a BroadcastExchange within
        # the next lines). The sf1 probe is the authoritative guard
        # against a corpus-level cross join regrowing here — textual
        # plan checks cannot size the build side.
        lines = default_p.splitlines()
        for i, ln in enumerate(lines):
            if "BroadcastNestedLoopJoin" in ln:
                window = "\n".join(lines[i : i + 4])
                assert "BroadcastExchange" in window, (name, window)
        # identical operator trees (localCheckpoint RDD ids differ
        # between builds; normalize the volatile tokens)
        import re as _re

        def norm(p: str) -> str:
            p = _re.sub(r"#\d+", "#x", p)
            p = _re.sub(r"\[id=#?\d+\]", "[id=x]", p)
            p = _re.sub(r"plan_id=\d+", "plan_id=x", p)
            p = _re.sub(r"lambda [a-z]+_\d+", "lambda v", p)
            return _re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[x]", p)

        assert norm(default_p) == norm(pinned_p), name


def test_nightly_quality_report_composed_plan(plans):
    """The composed ops report is a UNION of four independent component
    subtrees — pure JVM, no Python, and (r14) no sort-merge join
    anywhere: the FK branch joins ndv-sized key-count frames against
    broadcast parents and the CDC branch is a per-row verdict over one
    orders scan (no join at all)."""
    p = plans("nightly_quality_report", "simple")
    assert "EvalPython" not in p
    assert "Union" in p
    assert "SortMergeJoin" not in p
    assert "LeftAnti" not in p


def test_spatial_knn_generator_blocking_and_group_limit(plans):
    """Spatial NN: 3x3 neighborhood via generators (never an all-pairs
    distance join), equi-join on cell ids, and the top-1 ranking is a
    struct-min HASH aggregate (r13): the per-point candidates collapse
    in the map-side partial aggregate — no window, no WindowGroupLimit
    local sort, no post-shuffle sort at all."""
    p = plans("spatial_cell_knn_join", "simple")
    assert p.count("Generate") == 2  # dx, dy offsets
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "Window" not in p  # incl. WindowGroupLimit
    assert "partial_min" in p  # map-side argmin combine
    assert "SortAggregate" not in p  # (d2, nid) is fixed-width


def test_bellman_ford_plan_is_checkpoint_truncated(plans):
    """Min-plus iteration keeps plan size O(1) in rounds: each round's
    distance frame is LAZY-checkpointed at the top of the round (r13 —
    one final job materializes the chain, no synchronous job per
    round), so the FINAL displayed plan is exactly ONE relaxation round
    over checkpointed RDDs: the edge⋈distance join + min aggregate +
    left merge. Earlier rounds live inside the checkpointed RDD
    lineage, never as repeated SQL subtrees, and no round leaks back to
    the parquet scan."""
    p = plans("graph_bounded_shortest_paths", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed edge/distance frames
    assert "FileScan" not in p  # no lineage leak past the checkpoints
    # exactly one round's shape, pinned by CONCRETE operator names
    # (ADVICE r13: a bare `count("Join") <= 2` could not tell a healthy
    # join pair from a nested-loop/cartesian regression): exactly the
    # relaxation join (SMJ in the static plan; AQE may convert it to a
    # shuffled-hash at runtime) + the left-merge hash join — and never
    # a nested-loop or cartesian shape
    assert p.count("Join") == 2
    assert p.count("HashJoin") + p.count("SortMergeJoin") == 2
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_batch13_plan_properties(plans):
    """Batch-13 plan contracts: BM25 tf is map-side (no explode, no
    per-term join — only the 1-row stats frame nested-loops in) with a
    global TakeOrdered top-k; A-Res sampling is ONE exchange with the
    per-stratum top-k pruned by WindowGroupLimit; span dedup explodes
    via generators (never a token self-join) and keeps all joins on
    the shingle hash; mix-shift never sort-merges (dim join + tiny
    pivot)."""
    p = plans("bm25_search_topk", "simple")
    assert "Generate" not in p  # tf is a higher-order filter, no explode
    assert "BroadcastNestedLoopJoin" in p  # the 1-row stats frame
    assert "SortMergeJoin" not in p and "EvalPython" not in p
    assert "TakeOrdered" in p  # top-k is not a full global sort
    p = plans("weighted_sample_ares", "simple")
    assert p.count("Exchange") == 1  # one shuffle on the stratum key
    assert "WindowGroupLimit" in p  # partial top-k before the shuffle
    assert "Join" not in p and "EvalPython" not in p
    p = plans("substring_span_dedup", "simple")
    # r13: the positional shingle generator runs inside the lazy
    # checkpoint build (it feeds the dup-set aggregate AND the semi
    # join — one evaluation); the final plan reads the checkpointed
    # frame, so the pin moves from the Generate node to the RDD scan.
    assert "Scan ExistingRDD" in p  # the checkpointed shingle frame
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "LeftSemi" in p  # duplicated-hash membership as a semi join
    p = plans("mix_shift_decomposition", "simple")
    assert "SortMergeJoin" not in p and "EvalPython" not in p


def test_batch13_wave2_plan_properties(plans):
    """OLS is the canonical gram-matrix plan: ONE map-side-combined
    exchange, no joins; RFM never global-sorts (prefix-sum scores,
    broadcast lookups); NDCG broadcasts the query/label side and prunes
    top-k via WindowGroupLimit; DBSCAN blocks on cell ids (equi-join,
    never an all-pairs distance product)."""
    p = plans("ols_normal_equations", "simple")
    assert p.count("Exchange") == 1
    assert "Join" not in p and "EvalPython" not in p
    assert "partial_sum" in p  # map-side combine of the gram sums
    p = plans("rfm_customer_segments", "simple")
    assert "SortMergeJoin" not in p  # every score lookup broadcasts
    assert "EvalPython" not in p
    p = plans("ndcg_ranking_eval", "simple")
    assert "SortMergeJoin" not in p and "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # broadcast query side
    assert "WindowGroupLimit" in p
    p = plans("spatial_dbscan_clusters", "simple")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "Scan ExistingRDD" in p  # checkpointed candidate/CC frames


def test_batch13_wave3_plan_properties(plans):
    """Naive Bayes: the bounded class frame (fixed #classes) broadcasts
    into the apply join; the LIKELIHOOD frame is vocabulary-sized and
    deliberately UNHINTED since the r12 broadcast-hint audit (d7bcfa6)
    — AQE broadcast-converts it at runtime while small and
    shuffle-joins it once it is not, so the STATIC plan may legally
    contain a SortMergeJoin and we do not pin the join strategy for
    it; the stump's argmin is a TakeOrdered over the prefix-summed
    value frame; k-core's final projection runs off checkpointed
    frames with semi joins only; apportionment windows only the
    bounded nation frame."""
    p = plans("naive_bayes_classify", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # bounded class/prior lookup
    p = plans("decision_stump_split", "simple")
    assert "TakeOrdered" in p  # global argmin, never a full sort
    assert "SortMergeJoin" not in p and "EvalPython" not in p
    p = plans("graph_kcore_extraction", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed edges + alive set
    assert "EvalPython" not in p and "CartesianProduct" not in p
    p = plans("largest_remainder_apportionment", "simple")
    assert "SortMergeJoin" not in p and "EvalPython" not in p


def test_batch14_plan_properties(plans):
    """Batch-14 plan contracts: the clamped balance is ONE exchange
    with both cumulative windows sharing a single sort (the reflected-
    walk identity never iterates); the nearest as-of is JOIN-FREE —
    one union, one exchange on user_id, two sorted carries; weighted
    median windows only the per-distinct-value frame (2 bounded
    exchanges); Theil-Sen pair expansion is a generator over the
    group-collected bounded series, never a self-join of facts."""
    p = plans("inventory_clamped_balance", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert p.count("Exchange") == 1  # one shuffle on suppkey
    assert p.count("Sort") == 1  # both windows share the sort
    p = plans("asof_nearest_click_to_purchase", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert p.count("Exchange") == 1  # union + one shuffle on user_id
    p = plans("weighted_median_discount", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert p.count("Exchange") <= 2  # value agg + group windows
    p = plans("series_theilsen_trend", "simple")
    assert "Generate" in p  # pair expansion from the collected array
    assert "CartesianProduct" not in p and "EvalPython" not in p


def test_batch14_wave2_plan_properties(plans):
    """Streak islands chain every window/aggregate on the user_id
    partitioning (2 exchanges total, join-free); mixture reweighting
    broadcasts the tiny source frames (never a sort-merge — found at 18
    exchanges + SMJ before checkpointing the reused |sources| frame);
    the JL projection is map-side (no shuffle before the bounded audit
    sample's broadcast pair join, no Python)."""
    p = plans("activity_streak_islands", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert p.count("Exchange") == 2  # distinct + user_id windows
    p = plans("corpus_mixture_reweighting", "simple")
    assert "SortMergeJoin" not in p and "EvalPython" not in p
    assert p.count("Exchange") <= 3
    p = plans("jl_projection_distortion", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("Exchange") <= 1  # projection itself is map-side
    p = plans("textrank_keywords", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed edge/degree frames
    assert "TakeOrdered" in p  # top-k, never a full sort
    assert "EvalPython" not in p and "CartesianProduct" not in p
    p = plans("golden_record_survivorship", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert p.count("Exchange") == 1  # one scan, generator fan-out, 1 agg
    assert "Generate" in p  # 3-source fan-out is an explode, not a union


def test_batch14_wave4_plan_properties(plans):
    """Markov attribution: all scenario iterations run off the ONE
    checkpointed channel-sized transition frame (no fact re-scan inside
    the loop, no sort-merge join anywhere); k-anonymity is a single
    partial-aggregated groupBy over a map-side banding projection."""
    p = plans("markov_removal_attribution", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed transition frame
    assert "SortMergeJoin" not in p and "EvalPython" not in p
    assert "parquet" not in p.lower()  # loop never re-scans the facts
    p = plans("k_anonymity_audit", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert "partial_count" in p or "partial_sum" in p or "HashAggregate" in p


def test_batch14_wave5_plan_properties(plans):
    """Window funnel: user-co-partitioned chaining joins, no cartesian;
    FD audit: three aggregates unioned, join-free; assortativity: the
    checkpointed edge list feeds degrees + both endpoint joins (no
    fact re-scan); composed index pipeline: checkpointed survivors
    drive every stage, no Python anywhere."""
    p = plans("window_funnel_depth", "simple")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    p = plans("functional_dependency_audit", "simple")
    assert "Join" not in p and "EvalPython" not in p
    assert "Union" in p
    p = plans("graph_degree_assortativity", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed edge list
    assert "EvalPython" not in p and "CartesianProduct" not in p
    p = plans("embedding_index_pipeline", "simple")
    assert "Scan ExistingRDD" in p  # survivors + codebook checkpoints
    assert "EvalPython" not in p


def test_batch14_wave8_plan_properties(plans):
    """Price index: the base/current alignment joins the (part, year)
    DIMENSION frame, never raw facts twice through a sort-merge of
    scans; DiD is one aggregate + a 4-row pivot (join-free); Weiszfeld
    rounds run off the checkpointed point frame with broadcast median
    joins; Moran's I pairs only the bounded region frame (broadcast
    nested loop on 25 rows, no fact-sized cartesian)."""
    p = plans("price_index_laspeyres_fisher", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    p = plans("did_order_value_estimator", "simple")
    assert "EvalPython" not in p
    assert "partial_sum" in p  # mergeable-moments aggregate
    p = plans("weiszfeld_geometric_median", "simple")
    assert "Scan ExistingRDD" in p  # checkpointed points
    assert "BroadcastHashJoin" in p  # 25-row median frame per round
    assert "EvalPython" not in p and "SortMergeJoin" not in p
    p = plans("morans_i_spatial_autocorrelation", "simple")
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # bounded region pair join


def test_batch15_plan_properties(plans):
    """Governance batch plans: PII census/redaction and the repetition
    filters stay JVM-side (regex expressions, no Python); the profiler
    is ONE scan (a single parquet read feeding the generator fan-out);
    the inverted index caps posting state with a window on the same
    token shuffle (no second exchange between window and aggregate);
    the quantile sketch's only joins are broadcast of 1-row/64-row
    frames."""
    for name in (
        "pii_detection_report",
        "pii_redaction_audit",
        "gopher_repetition_report",
    ):
        p = plans(name, "simple")
        assert "EvalPython" not in p, name
        assert "partial" in p, name  # map-side combine survives
    p = plans("table_profile_report", "simple")
    assert "EvalPython" not in p
    # r13: one full-width scan for the plain stats + one PRUNED
    # single-column scan per exact-NDV subtree, instead of the
    # multi-distinct Expand (7x-row full-width shuffle)
    assert p.count("FileScan parquet") == 7
    assert "Expand" not in p
    assert p.count("BroadcastNestedLoopJoin") == 6  # 1-row reassembly
    p = plans("inverted_index_build", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    # the rn cap rides the (tok) shuffle: the aggregate consumes the
    # window's partitioning directly — everything ABOVE the Window
    # node (the plan prints top-down) must be exchange-free
    assert "Exchange" not in p[: p.index("Window")]
    p = plans("histogram_quantile_sketch", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row bounds / 64-row cum


def test_batch16_plan_properties(plans):
    """Batch-16 plans: the URL census is scan+expand+aggregate with no
    join and no Python; sequence pairs come from a GENERATOR, never a
    user-keyed self-join (the only join is the broadcast of the 1-row
    user count); the sweep-line is ONE event scan (generator endpoints,
    not a union of rescans) and exactly three exchanges; the MV
    identity is one scan; WOE joins only broadcast scalar frames; the
    composed governance report contains no cartesian and no Python."""
    p = plans("url_canonicalize_dedup", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    p = plans("sequential_pattern_support", "simple")
    assert "EvalPython" not in p
    assert "Generate explode" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    p = plans("max_concurrent_user_spans", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1  # generator, not union
    assert p.count("Exchange") == 3
    p = plans("incremental_agg_maintenance", "simple")
    assert p.count("FileScan parquet") == 1  # all lanes in one scan
    assert "Join" not in p
    p = plans("woe_information_value", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # scalar frames broadcast
    p = plans("governance_nightly_report", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch17_plan_properties(plans):
    """Batch-17 plans: the TAR shard pipeline is exactly one scan, one
    shard-key exchange into a JVM collect_list shard assembly, and two
    map-type Arrow stages (bulk pack + extract — r13: the per-8-row-
    group ApplyInPandas pack became a batched MapInPandas; the Arrow
    boundary crosses per batch, not per shard); the zone-map report's
    joins are broadcasts of the 3-row probe/matched frames (never a
    fact-sized join); the source matrix has no cartesian and no
    Python."""
    p = plans("multimodal_tar_shards", "simple")
    assert p.count("FileScan parquet") == 1
    assert "FlatMapGroupsInPandas" not in p  # pack is batched, not per-group
    assert p.count("MapInPandas") == 2  # bulk pack + extract
    assert "collect_list" in p or "ObjectHashAggregate" in p
    p = plans("zone_map_pruning_report", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # probe frames broadcast
    p = plans("cross_source_duplication_matrix", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch18_plan_properties(plans):
    """Batch-18 plans: the purge audit's only join is the broadcast of
    the 1-row anchor (never a fact-sized join); the erasure audit is
    three independent single-scan subtrees with zero joins; the
    lateness profile is one scan, one user-keyed window shuffle, one
    aggregate shuffle — all with map-side combine and no Python."""
    p = plans("retention_purge_audit", "simple")
    assert "EvalPython" not in p and "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row anchor
    p = plans("gdpr_erasure_audit", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 3  # one scan per table
    p = plans("out_of_order_lateness_profile", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert p.count("Exchange") == 2  # user window + type aggregate


def test_batch19_plan_properties(plans):
    """Batch-19 plans: perceptron rounds run off the lazily
    checkpointed feature frame (ExistingRDD per round, zero file
    rescans, no joins beyond the 1-row weight broadcast); the encoding
    advisor shares ONE window pass across all columns — exactly two
    scans (runs + stats) regardless of column count."""
    p = plans("perceptron_training", "simple")
    assert "EvalPython" not in p and "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 0  # checkpointed features
    assert "Scan ExistingRDD" in p
    p = plans("encoding_advisor", "simple")
    assert "EvalPython" not in p and "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 2  # one window + one stats
    assert p.count("Window") == 1


def test_batch20_plan_properties(plans):
    """Batch-20 plans: the media walkers are two Arrow stages with no
    shuffle at all (per-row transforms — MapInPandas over the doc_id
    projection); entry paths pay exactly the user window shuffle plus
    the bounded path aggregate."""
    for name in ("multimodal_mp3_framewalk", "multimodal_h264_nalwalk"):
        p = plans(name, "simple")
        assert p.count("MapInPandas") == 2, name
        assert "Exchange" not in p, name  # no shuffle: per-row lanes
    p = plans("session_entry_paths", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1


def test_batch21_plan_properties(plans):
    """Batch-21 plans: the latency histogram is one scan + one
    user-keyed aggregate (no window, no join); minibatch assignment
    pays exactly the label-window shuffle; the reputation score's
    global rank window runs on the bounded per-source frame (its
    single partition is |sources| rows by construction)."""
    p = plans("conversion_latency_histogram", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert "Window" not in p  # conditional-min aggregate, not a window
    assert p.count("FileScan parquet") == 1
    p = plans("stratified_minibatch_assignment", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("Exchange") == 1  # the lang window's shuffle only
    p = plans("source_reputation_score", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch22_plan_properties(plans):
    """Batch-22 plans: the sweep pays the same single lateness window
    plus ONE wide aggregate (no per-delay rescan); the DP histogram is
    one grouped count with noise applied on the bounded group frame."""
    p = plans("watermark_delay_sweep", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert p.count("Window") == 1
    p = plans("dp_noisy_histogram", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert "partial_count" in p  # map-side combine on the count


def test_batch23_plan_properties(plans):
    """HITS's per-round work executes during eager checkpointing, so
    the FINAL plan must be nothing but the join of the two
    checkpointed score vectors — zero parquet rescans (a FileScan
    here means a round's lineage leaked past its checkpoint), no
    Python, no cartesian."""
    p = plans("hits_hub_authority", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("Scan ExistingRDD") == 2  # final h and a vectors
    assert "FileScan" not in p  # no lineage leak past checkpoints


def test_batch24_plan_properties(plans):
    """Batch-24 plans: the triangle census reuses the eager edge
    checkpoint for all of degree/triangle/edge-count (FileScan only
    for the node count); the shard planner is one source-partitioned
    window plus the grouped rollup (no join); the cube is ONE Expand
    into one aggregate (no per-grouping-set rescan); kappa stays
    join-light (bounded marginal frames, broadcast scalars)."""
    p = plans("triangle_count_clustering", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    # the checkpointed edge frame feeds e1/e2/e3 + degree + edge count
    assert p.count("Scan ExistingRDD") >= 5
    assert p.count("FileScan parquet") == 1  # node count only

    p = plans("output_shard_planner", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert p.count("Window") == 1

    p = plans("cube_revenue_stats", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert p.count("Expand") == 1  # all 4 grouping sets in one pass

    p = plans("cohens_kappa_agreement", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("FileScan parquet") <= 3  # n/agree, marginals x2

    p = plans("dedup_savings_report", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p

    p = plans("leakage_safe_split_assignment", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch25_plan_properties(plans):
    """Batch-25 plans: AP ranks via the two-phase prefix sum (range
    partitioning, never a single-partition global window); the
    seasonal decomposition is one scan into a 7-key window whose
    partitioning the final rollup reuses; the MAD detector stays
    JVM-side."""
    p = plans("average_precision_report", "formatted")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    # two-phase shape: the range-repartitioned frame is checkpointed
    # (ExistingRDD — the rangepartitioning exchange lives inside it)
    # and the DATA window is per-part_id, never a global sort; the one
    # global carry window runs over per-partition totals (O(#parts)).
    assert "ExistingRDD" in p
    assert "windowspecdefinition(part_id" in p

    p = plans("seasonal_dow_decomposition", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("mad_outlier_detector", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch26_plan_properties(plans):
    """Batch-26 plans: LPA rounds run lazily off the ONE checkpointed
    edge frame (r13: the per-round nodes⋈p left join and per-round
    checkpoints are gone — isolated nodes are split off once and
    unioned back, so the whole 2-round propagation plans as one job);
    the order-invariance audit is three aggregate lanes over the fact
    scan joined broadcast-only."""
    p = plans("label_propagation_communities", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # rounds read the checkpointed edges
    # exactly one lineitem re-scan: the isolated-node split (the old
    # per-round rollup re-scanned lineitem inside every checkpoint job)
    assert p.count("FileScan parquet") == 1

    p = plans("order_invariance_audit", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("FileScan parquet") == 3  # one per audited lane

    p = plans("join_order_advisor", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch27_plan_properties(plans):
    """Batch-27 plans: the quantile refinement's histogram rounds are
    64-cell aggregates (every per-round window runs over <= 64 rows —
    the single-partition exchange there is the point, not a smell);
    the salted-equivalence entry carries both topologies with no
    Python; the coverage entry reuses one user/day partitioning for
    both windows."""
    p = plans("iterative_quantile_refinement", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p

    p = plans("salted_aggregation_equivalence", "simple")
    assert "EvalPython" not in p
    assert "partial_count" in p  # both lanes map-side combine

    p = plans("interval_union_coverage", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    # both windows share the (user_id, day) sort: exactly one sort
    # per window spec pair, never a re-shuffle between them
    assert p.count("Exchange") <= 3


def test_batch28_plan_properties(plans):
    """Batch-28 plans: the overflow audit is one max/count aggregate
    per table (no joins); the backfill planner pays the single
    lateness window; the SCD1 merge is ONE full-outer join into one
    aggregate."""
    p = plans("overflow_risk_audit", "simple")
    assert "EvalPython" not in p and "Join" not in p

    p = plans("backfill_partition_planner", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert p.count("Window") == 1

    p = plans("scd1_upsert_merge", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "FullOuter" in p


def test_batch29_plan_properties(plans):
    """Batch-29 plans: the Heaps curve never joins a data-sized frame
    (checkpoints are conditional sums in ONE aggregate per side,
    fanned out by a generator); Wilson is one grouped aggregate."""
    p = plans("heaps_law_vocab_growth", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    # only broadcast (1-row) joins — no SortMergeJoin anywhere
    assert "SortMergeJoin" not in p

    p = plans("wilson_rate_intervals", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("dedup_eval_precision_recall", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch30_plan_properties(plans):
    """Batch-30 plans: heavy hitters pass 2 semi-joins against a
    BROADCAST candidate frame (the MG pass is the only Python stage);
    winnowing is pure JVM (window + bucket expansion, no cartesian);
    the LOO report is one aggregate plus a 1-row broadcast."""
    p = plans("heavy_hitters_two_pass", "simple")
    # exactly one Python stage: the Misra-Gries candidate pass
    assert p.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p

    p = plans("winnowing_fingerprint_pairs", "simple")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p

    p = plans("loo_source_contribution", "simple")
    assert "EvalPython" not in p and "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 1


def test_batch31_plan_properties(plans):
    """Batch-31 plans: fertility is pure-JVM expressions into one
    grouped aggregate (no explode, no join); calibration broadcasts
    the bounded model frame; reconciliation is one equi-join with
    partial aggregation below the shuffle."""
    p = plans("tokenizer_fertility_by_lang", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert "Generate explode" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("score_calibration_bins", "simple")
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

    p = plans("order_amount_reconciliation", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "partial_sum" in p or "partial_count" in p


def test_batch32_plan_properties(plans):
    """Batch-32 plans: HRW is map-only expressions into one 8-key
    aggregate; the bootstrap is ONE wide aggregate over one scan (no
    joins, no Python); B-cubed joins bounded cluster-size frames."""
    p = plans("rendezvous_shard_assignment", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert "partial_count" in p or "partial_sum" in p

    p = plans("bootstrap_mean_ci", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1
    assert "partial_sum" in p  # the 130 running sums combine map-side

    p = plans("bcubed_cluster_eval", "simple")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_batch33_plan_properties(plans):
    """Batch-33 plans: the Markov eval broadcasts the bounded fitted
    matrix; the ATE is two aggregates plus bounded-frame windows; the
    k-fold CV is ONE grouped pass (25 cells) with no rescan per
    fold."""
    p = plans("markov_next_event_accuracy", "simple")
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

    p = plans("stratified_treatment_effect", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("kfold_cv_rate_model", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1


def test_batch34_plan_properties(plans):
    """Batch-34 plans: the AUC is windows + one aggregate with no join
    and a single scan; the PAVA data pass is one scan with the bin
    algebra on broadcast frames; t-closeness broadcasts the 5-row
    global distribution."""
    p = plans("roc_auc_report", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("isotonic_calibration_pava", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p  # every join is broadcast
    # bounds + binned pass; the checkpointed 20-row bin summary stops
    # the four downstream references from re-scanning the fact table
    assert p.count("FileScan parquet") <= 2

    p = plans("t_closeness_audit", "simple")
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # everything derives from the checkpointed cell aggregate
    assert p.count("FileScan parquet") == 0 and "Scan ExistingRDD" in p


def test_batch35_plan_properties(plans):
    """Batch-35 plans: ALS broadcasts the 5-row item frame and
    equi-joins user factors; Qini is aggregates + one bounded window;
    top-p coverage broadcasts the per-source totals."""
    p = plans("als_rank1_factors", "simple")
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the checkpointed ratings frame is the only data source
    assert p.count("FileScan parquet") == 0 and "Scan ExistingRDD" in p

    p = plans("qini_uplift_curve", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("topp_vocab_coverage", "simple")
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # window pass and totals both read the checkpointed tf frame
    assert p.count("FileScan parquet") == 0 and "Scan ExistingRDD" in p


def test_batch36_plan_properties(plans):
    """Batch-36 plans: skip-gram pair generation is map-side
    (posexplode, no join on the data path) with the 50-row head joined
    broadcast; Simpson and the temperature sweep are single-scan
    aggregates with 1-row broadcasts."""
    p = plans("skipgram_training_pairs", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p  # head is a top-k, not a sort
    # pair pass scans once; the weight table is checkpointed so the
    # normalizer and the head join share it
    assert p.count("FileScan parquet") == 1

    p = plans("simpson_paradox_detector", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    # mean pass + segment pass; the checkpointed 5-row segment frame
    # serves both the pooled gap and the output
    assert p.count("FileScan parquet") <= 2

    p = plans("mixture_temperature_sweep", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 0 and "Scan ExistingRDD" in p


def test_batch37_plan_properties(plans):
    """Batch-37 plans: the dHash pipeline is exactly two Python
    islands (synthesize, hash) with the only shuffle on the 8-byte
    hash key; the Merkle tree is one scan with map-side partial
    aggregation at the leaves and no joins anywhere."""
    p = plans("multimodal_dhash_dedup", "simple")
    assert p.count("MapInPandas") == 2
    assert "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("merkle_range_fingerprints", "simple")
    assert "EvalPython" not in p and "Join" not in p
    # the checkpointed leaf frame serves all three levels; the fact
    # scan happened once at checkpoint time, so the reported plan
    # reads only the materialized leaves
    assert p.count("FileScan parquet") == 0 and "Scan ExistingRDD" in p
    assert "partial" in p  # internal-level sums combine map-side


def test_batch38_plan_properties(plans):
    """Batch-38 plans: the FS match side is map-only with one bounded
    equi-join for non-matches; randomized response is two aggregates
    with no join; the S-curve planner touches no table at all."""
    p = plans("fellegi_sunter_weights", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the checkpointed 1-row (m, u) frame is the only source: the
    # match scan + non-match join ran once at checkpoint time
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p

    p = plans("randomized_response_estimate", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("lsh_scurve_planner", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p  # generated grid only


def test_batch39_plan_properties(plans):
    """Batch-39 plans: Sinkhorn's four window passes run on the
    checkpointed 125-row cell frame — the fact join+aggregate executed
    once at checkpoint time."""
    p = plans("sinkhorn_matrix_scaling", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p


def test_batch40_plan_properties(plans):
    """Batch-40 plans: the value-RANGE density is one window + rollup
    with no join; NOT IN compiles to a null-aware broadcast anti join;
    the bag set-ops stay join-free (counted-aggregate strategy)."""
    p = plans("range_value_frame_stats", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("set_ops_bag_semantics", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p

    p = plans("null_semantics_audit", "simple")
    assert "EvalPython" not in p
    # the planted-NULL frames are checkpointed: no parquet rescans
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "BroadcastHashJoin" in p  # null-aware anti join broadcasts


def test_batch41_plan_properties(plans):
    """Batch-41 plans: the confusion matrix derives totals from its
    checkpointed cell frame (one corpus scan at checkpoint time); the
    separation report broadcasts the bounded centroid frame; the
    band-load report never materializes pairs (no self-join)."""
    p = plans("langid_confusion_matrix", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p

    p = plans("class_separation_report", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p  # flat x centroids on (label,dim)

    p = plans("minhash_band_load_report", "simple")
    assert "EvalPython" not in p and "Join" not in p
    # the planted near-dup corpus is a 2-branch union of the documents
    # scan (base + mutants) — same as every dedup-family plan
    assert p.count("FileScan parquet") == 2


def test_batch42_plan_properties(plans):
    """Batch-42 plans: the forward CV runs entirely on the checkpointed
    daily frame (one fact scan at checkpoint time); the advisor is six
    independent single-table aggregates; the DSAR predicate pushes to
    the scan and the per-user sort stays inside the aggregate."""
    p = plans("timeseries_forward_cv", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p  # fold spec + train frame broadcast

    p = plans("broadcast_threshold_advisor", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 6  # one per advised table

    p = plans("dsar_export_bundle", "formatted")
    assert "EvalPython" not in p and "Join" not in p
    assert "PushedFilters" in p
    # the per-user ordering lives inside array_sort in the aggregate:
    # no global Sort operator anywhere in the plan
    assert "Sort " not in p and "SortExec" not in p


def test_batch43_plan_properties(plans):
    """Batch-43 plans: the hashed-vector eval works on the checkpointed
    (doc, dim) frame with broadcast norms; Hill is one rank window plus
    arithmetic on the checkpointed top-k; SPRT is one scan, no joins."""
    p = plans("hashing_trick_doc_vectors", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p

    p = plans("hill_tail_index", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p

    p = plans("sprt_sequential_test", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1


def test_batch44_plan_properties(plans):
    """Batch-44 plans: the replay walk is one window over the
    checkpointed choices frame (no joins); secure-agg is a
    co-partitioned semi-join plus one rollup."""
    p = plans("bandit_replay_eval", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed choices frame

    p = plans("secure_agg_masking_proof", "simple")
    assert "EvalPython" not in p
    assert "LeftSemi" in p
    assert p.count("FileScan parquet") <= 2


def test_batch45_plan_properties(plans):
    """Batch-45 plans: water-filling runs on the checkpointed demand
    frame; the burn-rate report is one scan + one bounded window; the
    gap sweep is one lag pass with a 3-row broadcast (no rescan per
    gap)."""
    p = plans("maxmin_fair_allocation", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p

    p = plans("slo_burn_rate_alerts", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("session_gap_sweep", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 2  # diffs pass + totals pass


def test_batch46_plan_properties(plans):
    """Batch-46 plans: the fit report scans the corpus once with a
    3-row broadcast sweep; the diff stats join only the planted
    offset (no all-pairs, set arithmetic stays inside the rows)."""
    p = plans("context_window_fit_report", "simple")
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 1

    p = plans("dup_pair_diff_stats", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Generate" not in p  # no explode: array ops per row


def test_batch47_plan_properties(plans):
    """Batch-47 plans: the A/A splits run over one checkpointed
    per-user frame; the median CI joins the checkpointed ranked frame
    three times (no re-rank); QTE is rank windows + a bounded self
    join."""
    p = plans("aa_test_calibration", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p

    p = plans("median_ci_order_stats", "simple")
    assert "EvalPython" not in p
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p

    p = plans("quantile_treatment_effect", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("FileScan parquet") <= 2


def test_batch48_plan_properties(plans):
    """Batch-48 plans: the SymSpell candidate join is an equi-join on
    generated keys over the checkpointed vocabulary (never a cartesian
    edit-distance scan); the LTV curve joins purchases to the
    checkpointed cohort frame."""
    p = plans("symspell_typo_candidates", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the vocabulary is checkpointed: no corpus rescans per side
    assert "Scan ExistingRDD" in p

    p = plans("cohort_ltv_curve", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("FileScan parquet") <= 2  # first-seen + purchases


def test_batch50_plan_properties(plans):
    """Batch-50 plans: the JSON battery is five conditional aggregates
    over one construct+extract pass; the lift pairs come from the
    checkpointed per-order item frame with broadcast margins; the
    dispersion report is two shrinking aggregates."""
    p = plans("json_path_semantics_audit", "simple")
    assert "EvalPython" not in p and "Join" not in p

    p = plans("cooccurrence_null_lift", "simple")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # checkpointed item-order frame
    assert "TakeOrderedAndProject" in p

    p = plans("overdispersion_index", "simple")
    assert "EvalPython" not in p and "Join" not in p
    assert p.count("FileScan parquet") == 1


def test_slo_burn_window_is_range_frame(plans):
    """Round-10 plan contract (mirrors PLANS.md): the 6-hour burn
    window is a TIME-based RANGE frame on the epoch-hour index — a
    ROWS frame here silently stretches the window across traffic gaps
    (the r9 COVERAGE edge this closed)."""
    p = plans("slo_burn_rate_alerts")
    assert "RangeFrame, -5" in p, p[:2000]
    assert "h_idx" in p
