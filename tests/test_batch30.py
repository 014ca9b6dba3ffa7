"""Batch-30 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_heavy_hitters_match_naive_exact(spark):
    """The two-pass result must equal the single-pass exact GROUP BY —
    the MG candidate pass may not drop a true heavy hitter under the
    default partitioning, and the exact pass may not inflate one."""
    got = {
        r.tok: r.cnt
        for r in QUERIES["heavy_hitters_two_pass"](spark, SF).collect()
    }
    toks = load_table(spark, SF, "documents").select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok")
    )
    n = toks.count()
    truth = {
        r.tok: r.cnt
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * 200 > F.lit(n))
        .collect()
    }
    assert got == truth
    assert got, "threshold should catch the fixture's common tokens"


def test_heavy_hitters_partitioning_invariant(spark):
    """Repartitioning the token stream must not change the OUTPUT (the
    candidate SET may differ; the exact verify pass erases that)."""
    from series_tiempo_ar_scraping_spark.queries_batch30 import (
        _HH_PHI,
        _mg_candidates,
    )

    toks = load_table(spark, SF, "documents").select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok")
    )
    n = toks.count()

    def run(parts: int) -> dict:
        t = toks.repartition(parts)
        cand = t.mapInPandas(_mg_candidates, "tok string").distinct()
        return {
            r.tok: r.cnt
            for r in t.join(F.broadcast(cand), "tok", "left_semi")
            .groupBy("tok")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") * _HH_PHI > F.lit(n))
            .collect()
        }

    assert run(2) == run(13)


def test_winnowing_finds_planted_mutants(spark):
    """Each planted mutant shares all but a 12-char prefix with its
    parent — winnowing's guarantee (any shared run >= w+k-1 tokens
    leaves a shared fingerprint) must surface those pairs with high
    overlap."""
    rows = QUERIES["winnowing_fingerprint_pairs"](spark, SF).collect()
    assert rows
    planted = {
        (r.doc_a, r.doc_b): r.overlap_micro
        for r in rows
        if r.doc_b == r.doc_a + 100000
    }
    n_planted_docs = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    # mutants lose ~2 leading tokens of ~dozens; expect most pairs found
    assert len(planted) >= n_planted_docs * 7 // 10
    for (a, b), ov in planted.items():
        assert a < b
        assert ov >= 500_000, f"mutant pair ({a},{b}) overlap {ov}"
    for r in rows:
        assert 0 < r.overlap_micro <= 1_000_000
        assert r.shared >= 3


def test_loo_contribution_identities(spark):
    """Per-source LOO means must recombine to the global mean, and the
    delta sign must match whether the source is above/below the
    leave-one-out mean."""
    rows = QUERIES["loo_source_contribution"](spark, SF).collect()
    assert len(rows) >= 2
    n_all = sum(r.n_docs for r in rows)
    # reconstruct the global integer sums from the per-source means'
    # inputs: mean_q_micro = s_q*100 DIV n_docs can't be inverted
    # exactly, so check the published global column is constant and
    # consistent with the weighted per-source means within DIV slack
    mean_all = {r.mean_all_micro for r in rows}
    assert len(mean_all) == 1
    (mean_all,) = mean_all
    approx = sum(r.mean_q_micro * r.n_docs for r in rows) // n_all
    assert abs(approx - mean_all) <= len(rows)  # DIV truncation slack
    for r in rows:
        assert r.loo_mean_micro is not None
        if r.delta_micro > 0:
            assert r.mean_q_micro >= r.loo_mean_micro
        elif r.delta_micro < 0:
            assert r.mean_q_micro <= r.loo_mean_micro
        assert r.delta_micro == r.mean_all_micro - r.loo_mean_micro
