"""Batch-21 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_latency_buckets_hold_their_ranges(spark):
    """Every bucket's min/max sit inside [2^(b-1), 2^b) (bucket 0 is
    [0,1)), and bucketed users equal the converting-user population
    computed independently."""
    rows = QUERIES["conversion_latency_histogram"](spark, SF).collect()
    for r in rows:
        lo = 0 if r.bucket == 0 else 1 << (r.bucket - 1)
        hi = 1 << r.bucket
        assert lo <= r.min_secs <= r.max_secs
        if r.bucket < 21:
            assert r.max_secs < hi
    events = load_table(spark, SF, "events")
    f = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "tv"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    n = f.filter(
        F.col("tv").isNotNull()
        & F.col("tp").isNotNull()
        & (F.col("tp") >= F.col("tv"))
    ).count()
    assert sum(r.n_users for r in rows) == n


def test_reputation_score_composes_and_ranks(spark):
    """Per-source inputs equal the component reports; the penalty
    formula holds exactly; ranks are a permutation consistent with the
    score order."""
    pii = {
        r.source: (
            r.n_docs,
            r.email_matches + r.phone_matches + r.ssn_matches,
        )
        for r in QUERIES["pii_detection_report"](spark, SF).collect()
    }
    rep = {
        r.source: r.n_flagged_top_trigram
        + r.n_flagged_dup_mass
        + r.n_flagged_low_diversity
        for r in QUERIES["gopher_repetition_report"](
            spark, SF
        ).collect()
    }
    rows = QUERIES["source_reputation_score"](spark, SF).collect()
    assert len(rows) == len(pii)
    for r in rows:
        n_docs, pii_m = pii[r.source]
        assert (r.n_docs, r.pii_matches) == (n_docs, pii_m)
        assert r.repetition_flags == rep[r.source]
        penalty = 300 * (pii_m * 1000 // n_docs) + 700 * (
            rep[r.source] * 1000 // n_docs
        )
        assert r.penalty == penalty
        assert r.reputation_score == max(0, 1_000_000 - penalty)
    by_rank = sorted(rows, key=lambda r: r.reputation_rank)
    scores = [r.reputation_score for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_minibatches_balance_every_label_within_one(spark):
    """The defining round-robin property: for each label, batch counts
    differ by at most one, and they sum to the label's total."""
    docs = load_table(spark, SF, "documents")
    totals = {
        r.lang: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    rows = QUERIES["stratified_minibatch_assignment"](
        spark, SF
    ).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.batch_id] = r.n_docs
    assert set(by_lang) == set(totals)
    for lang, batches in by_lang.items():
        counts = [batches.get(b, 0) for b in range(8)]
        assert sum(counts) == totals[lang]
        assert max(counts) - min(counts) <= 1, (lang, counts)
