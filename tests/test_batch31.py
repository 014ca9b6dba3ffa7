"""Batch-31 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_fertility_identities_and_coverage(spark):
    """Languages partition the corpus; fertility >= 1 (punctuation
    padding only ever ADDS split points); the micro ratios recompute
    from the published sums."""
    rows = QUERIES["tokenizer_fertility_by_lang"](spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_bpe_tokens >= r.n_words, r.lang_guess
        assert r.fertility_micro == r.n_bpe_tokens * 1_000_000 // max(
            r.n_words, 1
        )
        assert r.chars_per_token_micro == r.n_chars * 1_000_000 // max(
            r.n_bpe_tokens, 1
        )
        assert r.fertility_micro >= 1_000_000


def test_calibration_brier_and_bins(spark):
    """Reliability bins cover the odd test half exactly once; the
    published Brier recomputes from per-bin stats within integer-DIV
    slack; a rate score is bounded to [0, 1e6]."""
    rows = QUERIES["score_calibration_bins"](spark, SF).collect()
    assert rows
    n_test = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 2 == 1)
        .count()
    )
    assert sum(r.n for r in rows) == n_test
    briers = {r.brier_micro for r in rows}
    assert len(briers) == 1
    (brier,) = briers
    assert 0 <= brier <= 1_000_000
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0 <= r.mean_pred_micro <= 1_000_000
        assert 0 <= r.obs_rate_micro <= 1_000_000
        assert r.gap_micro == abs(r.mean_pred_micro - r.obs_rate_micro)
        # the bin holds scores from its decile
        assert min(r.mean_pred_micro * 10 // 1_000_000, 9) == r.bin


def test_reconciliation_counts_partition_orders(spark):
    """Every order lands in exactly one bucket; cent bounds bracket the
    gaps; the fixture's headers are independent of line items, so the
    audit must report large gaps (the report working, not the data)."""
    rows = QUERIES["order_amount_reconciliation"](spark, SF).collect()
    n_orders = load_table(spark, SF, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    for r in rows:
        assert (
            r.n_no_items + r.n_within_dollar + r.n_large_gap == r.n_orders
        )
        if r.n_large_gap or r.n_within_dollar:
            assert r.min_diff_cents <= r.max_diff_cents
            assert r.sum_abs_diff_cents >= 0
    assert sum(r.n_large_gap for r in rows) > 0
