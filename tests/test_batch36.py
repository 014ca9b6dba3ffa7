"""Batch-36 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math
import re
from collections import Counter

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _py_tokens(text: str) -> list[str]:
    norm = re.sub(
        " +", " ", re.sub("[^a-z0-9]+", " ", str(text).lower())
    ).strip()
    return [t for t in re.split(r"\s+", norm) if t]


def test_skipgram_pairs_match_python(spark):
    """The reported head must equal the Python-recomputed forward
    window-2 pair counts, and the negative-sampling weight must be the
    nested-sqrt unigram^0.75 share."""
    rows = QUERIES["skipgram_training_pairs"](spark, SF).collect()
    assert len(rows) == 50
    docs = load_table(spark, SF, "documents").select("text").collect()
    pairs: Counter = Counter()
    uni: Counter = Counter()
    for d in docs:
        toks = _py_tokens(d.text)
        uni.update(toks)
        for i in range(len(toks) - 1):
            pairs[(toks[i], toks[i + 1])] += 1
            if i + 2 < len(toks):
                pairs[(toks[i], toks[i + 2])] += 1
    head = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    expect = {(c, x): n for (c, x), n in head}
    assert {(r.center, r.context): r.cnt for r in rows} == expect
    w75 = {
        t: math.floor(math.sqrt(math.sqrt(float(f * f * f))) * 1000 + 0.5)
        for t, f in uni.items()
    }
    z = sum(w75.values())
    for r in rows:
        assert r.center_neg_prob_micro == w75[r.center] * 1_000_000 // z
        assert 0 <= r.center_neg_prob_micro <= 1_000_000


def test_simpson_detector_identities(spark):
    """Per-segment gaps recompute; the pooled gap equals the gap of
    the summed segments; the reversal flag is the sign test."""
    rows = QUERIES["simpson_paradox_detector"](spark, SF).collect()
    assert len(rows) == 5
    y_hi = sum(r.rate_hi_micro * 0 + r.n_hi for r in rows)  # totals
    n_hi = sum(r.n_hi for r in rows)
    n_lo = sum(r.n_lo for r in rows)
    assert y_hi == n_hi
    pooled = {r.pooled_gap_micro for r in rows}
    assert len(pooled) == 1
    for r in rows:
        assert r.segment_gap_micro == r.rate_hi_micro - r.rate_lo_micro
        sign = (r.segment_gap_micro > 0) - (r.segment_gap_micro < 0)
        psign = (r.pooled_gap_micro > 0) - (r.pooled_gap_micro < 0)
        assert r.reverses_pooled == (1 if sign * psign < 0 else 0)
        assert 0 <= r.rate_hi_micro <= 1_000_000
        assert 0 <= r.rate_lo_micro <= 1_000_000
    assert n_lo > 0 and n_hi > 0


def test_temperature_sweep_flattens_and_normalizes(spark):
    """Each temperature's weights sum to ~1e6 (flooring deficit < one
    per source); higher temperature must strictly shrink the spread
    between the largest and smallest source weights."""
    rows = QUERIES["mixture_temperature_sweep"](spark, SF).collect()
    assert rows
    n_src = len(rows)
    for col in ("weight_t1_micro", "weight_t2_micro", "weight_t4_micro"):
        tot = sum(getattr(r, col) for r in rows)
        assert 1_000_000 - n_src < tot <= 1_000_000
    def spread(col):
        vals = [getattr(r, col) for r in rows]
        return max(vals) - min(vals)
    assert spread("weight_t1_micro") >= spread("weight_t2_micro")
    assert spread("weight_t2_micro") >= spread("weight_t4_micro")
    nat = sum(r.n_docs for r in rows)
    for r in rows:
        expect = r.weight_t2_micro * nat // max(r.n_docs, 1)
        assert r.oversample_t2_micro == expect
        # flattening oversamples tail sources (share below uniform)
        if r.n_docs * n_src < nat:
            assert r.oversample_t2_micro > 1_000_000
