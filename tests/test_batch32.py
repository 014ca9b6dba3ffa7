"""Batch-32 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_hrw_balance_and_minimal_movement(spark):
    """All keys assigned exactly once; balance near-uniform (md5
    weights); the expand-movement share near 1/9 per shard and ONLY
    keys the new node wins move (HRW's minimal-disruption law)."""
    rows = QUERIES["rendezvous_shard_assignment"](spark, SF).collect()
    assert len(rows) == 8
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n_keys for r in rows) == n_docs
    for r in rows:
        # uniform share 125000 micro; allow generous sampling noise
        assert 60_000 <= r.share_micro <= 190_000, r
        assert 0 <= r.n_moved_on_expand <= r.n_keys
        # ~1/9 = 111111 micro expected movement
        assert r.moved_share_micro <= 250_000, r
    total_moved = sum(r.n_moved_on_expand for r in rows)
    assert total_moved < n_docs // 4  # far from rehash-everything (8/9)


def test_bootstrap_ci_brackets_the_mean(spark):
    r = QUERIES["bootstrap_mean_ci"](spark, SF).collect()[0]
    assert r.ci_lo_micro <= r.mean_micro <= r.ci_hi_micro
    assert r.se_cents > 0
    # CI half-width should be the same order as 2*SE (in micro)
    half = (r.ci_hi_micro - r.ci_lo_micro) / 2
    assert half < 10 * r.se_cents * 10_000
    assert half > 0.2 * r.se_cents * 10_000


def test_bcubed_bounds_and_relation_to_pair_eval(spark):
    """B-cubed P/R/F1 in (0, 1]; the dedup pipeline was built to find
    the planted clusters, so both must be high; perfect clustering
    would give exactly 1e6."""
    r = QUERIES["bcubed_cluster_eval"](spark, SF).collect()[0]
    n_corpus = QUERIES["dedup_connected_components"](spark, SF).count()
    assert r.n_elements == n_corpus
    assert r.n_truth_clusters <= r.n_elements
    for v in (
        r.bcubed_precision_micro,
        r.bcubed_recall_micro,
        r.bcubed_f1_micro,
    ):
        assert 0 < v <= 1_000_000
    assert r.bcubed_precision_micro >= 900_000
    assert r.bcubed_recall_micro >= 700_000
    # F1 between min and max of P and R
    lo = min(r.bcubed_precision_micro, r.bcubed_recall_micro)
    hi = max(r.bcubed_precision_micro, r.bcubed_recall_micro)
    assert lo - 2 <= r.bcubed_f1_micro <= hi + 2
