"""Driver-contract robustness: the grading driver imports
``__spark_entry__`` from an arbitrary cwd with a vanilla SparkSession.
This caught a real bug (executor Python workers couldn't import the
package for the stateful sessionizer when cwd != repo root), so the
whole class is pinned with a subprocess that runs OUTSIDE the repo.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
qs = e.queries()
# one representative per executor-Python class: mapInPandas kernel,
# applyInPandasWithState, Arrow UDAF, Python UDTF, Python DataSource-free
for name in ("multimodal_frame_sample", "streaming_stateful_sessions",
             "weighted_avg_discount_udaf", "udtf_expand_series_calendar",
             "multimodal_image_stats", "multimodal_audio_stats",
             "multimodal_video_stats", "multimodal_png_stats",
             "multimodal_jpeg_stats", "multimodal_g711_stats",
             "multimodal_gif_stats", "multimodal_gif_anim_stats"):
    assert len(qs[name](spark, "/root/testdata/sf0.001").collect()) > 0, name
print("DRIVER_CONTRACT_OK")
"""


def test_entry_and_python_islands_from_foreign_cwd(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "SPARK_GRAFT_CACHE_TABLES": "0"},
    )
    assert "DRIVER_CONTRACT_OK" in out.stdout, out.stderr[-3000:]


# The driver's hard correctness gate is the FIRST 50 queries() entries.
# This literal copy pins membership AND order: a registration change,
# rename, or reorder that would evict a green query from the gate (it
# happened in r2) fails here instead of silently downgrading the gate.
_GATE_FIRST_50 = [
    "q01_pricing_summary",
    "semi_orders_with_big_lineitem",
    "anti_customers_without_orders",
    "filter_purchase_events",
    "route_distribution_method",
    "scalar_suite",
    "count_by_status",
    "indicator_assembly",
    "union_segments",
    "align_daily_activity",
    "series_gap_check",
    "meta_field_validation",
    "window_rank_suite",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ivf_ann_topk",
    "multimodal_features",
    "stratified_sample_documents",
    "topk_orders_per_priority",
    "nightly_quality_report",
    "kmeans_lloyd_clusters",
    "bpe_train_merges",
    "spatial_dbscan_clusters",
    "cdc_apply_roundtrip",
    "survival_kaplan_meier",
    "golden_record_survivorship",
    "split_leakage_audit",
    # r14 rotation (VERDICT r13 #7 + changed-first rule): dedup_cc_star
    # (r13's CC-star rewrite), the two r13-new escalation entries, the
    # five r14-rewritten entries, then 14 never-verified backfills
    # (earliest-registered first). The r13 block (50/50 in
    # CORRECTNESS_r13.json) rotates back to the local mirror.
    "dedup_cc_star",
    "semantic_cluster_dedup_two_level",
    "label_noise_knn_two_level",
    "fk_integrity_audit",
    "snapshot_diff_report",
    "rfm_customer_segments",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "concurrent_sessions_by_day",
    "q18_large_volume_orders",
    "embedding_dim_profile",
    "skew_salted_join_stats",
    "trailing_7d_avg",
    "long_word_extraction",
    "series_forward_fill",
    "ordered_string_agg",
    "series_linear_interpolate",
    "rolling_median_value",
    "union_missing_columns",
    "safe_arithmetic_report",
    "table_fingerprint",
    "incremental_dedup",
]


def test_driver_gate_first_50_pinned():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    got = list(e.queries())[:50]
    assert got == _GATE_FIRST_50, (
        "driver-gate first-50 drifted:\n"
        f"missing={sorted(set(_GATE_FIRST_50) - set(got))}\n"
        f"added={sorted(set(got) - set(_GATE_FIRST_50))}"
    )


@pytest.mark.timing
def test_registry_import_time_bounded():
    """Importing the driver entry point and materializing the registry
    (queries() + oracle_sql()) must stay cheap — it runs once per driver
    session before any Spark work, and batches 9+ must not creep it
    toward the gate timeout. Measured in a fresh interpreter so module
    caching in the test session can't mask a regression (r5 measured
    ~0.3 s; bound leaves ~15x headroom)."""
    script = (
        "import sys, time; sys.path.insert(0, {repo!r});"
        "t0 = time.perf_counter();"
        "import __spark_entry__ as e;"
        "qs = e.queries(); osql = e.oracle_sql();"
        "print('REGISTRY_SECONDS', time.perf_counter() - t0, len(qs))"
    ).format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=120,
    )
    # an import error must surface as the real stderr, not a bare
    # StopIteration from the line scan below (ADVICE r6)
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(
        ln for ln in out.stdout.splitlines() if "REGISTRY_SECONDS" in ln
    )
    elapsed = float(line.split()[1])
    # Wall-clock on a shared host: the ~15x headroom absorbs load spikes;
    # if this still flakes under extreme contention, re-run — the bound
    # exists to catch a structural regression (an eager Spark session or
    # O(catalog^2) registration work), not to benchmark the machine.
    assert elapsed < 5.0, f"registry import took {elapsed:.2f}s (bound 5s)"


@pytest.mark.timing
def test_gate_planning_time_bounded(spark):
    """Plan-analysis wall-time over the driver gate's 50 queries: the
    driver builds every DataFrame before collecting, so analysis cost is
    pure overhead charged to the gate budget. .schema forces analysis
    without running a job. r6 measured ~20 s warm / ~25 s cold for the
    first 50 on the conftest ``spark`` fixture (local[4], shuffle
    partitions 4 — the bound is calibrated to THAT master; recalibrate
    if the fixture changes); the 90 s bound trips only on a structural
    regression (an eager collect/action sneaking into a query builder,
    or quadratic plan growth), not on shared-host load noise."""
    import time

    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs = e.queries()
    t0 = time.perf_counter()
    for name in _GATE_FIRST_50:
        _ = qs[name](spark, "/root/testdata/sf0.001").schema
    elapsed = time.perf_counter() - t0
    assert elapsed < 90.0, f"gate planning took {elapsed:.1f}s (bound 90s)"


def test_gate_order_strict_rejects_missing_names():
    """load_queries must fail fast when a priority name is unregistered."""
    from series_tiempo_ar_scraping_spark.registry import QUERIES, load_queries

    saved = QUERIES.pop("q01_pricing_summary")
    try:
        with pytest.raises(RuntimeError, match="q01_pricing_summary"):
            load_queries()
    finally:
        QUERIES["q01_pricing_summary"] = saved
        load_queries()
