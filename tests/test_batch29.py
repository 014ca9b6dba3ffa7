"""Batch-29 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_dedup_eval_truth_set_and_identities(spark):
    """The planted truth set is arithmetic (one mutant per doc_id%5==0
    doc), the F1 identity holds, and the pipeline actually finds most
    planted pairs (it was built to)."""
    r = QUERIES["dedup_eval_precision_recall"](spark, SF).collect()[0]
    n_planted = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    assert r.n_planted == n_planted == r.tp + r.fn
    assert r.n_predicted == r.tp + r.fp
    assert r.f1_micro == 2 * r.tp * 1_000_000 // (2 * r.tp + r.fp + r.fn)
    assert r.recall_micro >= 500_000, "pipeline misses most planted dups"
    assert r.precision_micro >= 500_000, "most edges are not planted"


def test_wilson_bounds_bracket_the_estimate(spark):
    rows = QUERIES["wilson_rate_intervals"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.wilson_lo <= r.p_hat <= r.wilson_hi <= 1.0
        # replay the fixed op tree (tolerance absorbs the det-round)
        z = 1.96
        p = r.x / r.n
        denom = 1.0 + z * z / r.n
        center = p + z * z / (2.0 * r.n)
        hw = z * math.sqrt(
            p * (1.0 - p) / r.n + z * z / (4.0 * r.n * r.n)
        )
        assert abs(r.wilson_lo - (center - hw) / denom) <= 2e-6
        assert abs(r.wilson_hi - (center + hw) / denom) <= 2e-6


def test_heaps_curve_is_monotone_and_consistent(spark):
    rows = sorted(
        QUERIES["heaps_law_vocab_growth"](spark, SF).collect(),
        key=lambda r: r.checkpoint_docs,
    )
    n = load_table(spark, SF, "documents").count()
    assert rows, "no checkpoints"
    prev = None
    for r in rows:
        assert r.n_docs == min(r.checkpoint_docs, n)
        assert 0 < r.vocab <= r.n_tokens
        if prev is not None:
            assert r.vocab >= prev.vocab
            assert r.n_tokens >= prev.n_tokens
            assert r.ln_vocab_growth_micro >= 0
            assert r.ln_token_growth_micro > 0
            # sublinear vocabulary growth (Heaps: beta < 1)
            assert (
                r.ln_vocab_growth_micro <= r.ln_token_growth_micro
            )
        prev = r
