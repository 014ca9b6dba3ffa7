"""Batch-43 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_hashed_vectors_separate_mutants_from_strangers(spark):
    """The whole point of the entry: planted mutants must stay
    near-parallel under the hashing trick while adjacent-id strangers
    don't — the separation that licenses the cheap pre-filter."""
    rows = {
        r.pair_type: r
        for r in QUERIES["hashing_trick_doc_vectors"](spark, SF).collect()
    }
    assert set(rows) == {"mutant", "adjacent"}
    m, a = rows["mutant"], rows["adjacent"]
    assert m.n_pairs > 0 and a.n_pairs > 0
    # mutants share almost all tokens -> cosine near 1
    assert m.mean_sim_micro > 900_000
    # a short doc's mutant can drift further in 16 dims; the floor is
    # still far above random-pair cosine
    assert m.min_sim_micro > 500_000
    # strangers share template vocabulary so their baseline is not
    # zero — but it must sit well below the mutants; the GAP is the
    # licensed-pre-filter invariant
    assert a.mean_sim_micro < 700_000
    assert m.mean_sim_micro - a.mean_sim_micro > 300_000
    for r in rows.values():
        assert -1_000_000 <= r.min_sim_micro <= r.max_sim_micro <= 1_000_000


def test_hill_index_recomputes_and_is_positive(spark):
    """Per priority, the Hill mean recomputes from the top-50 order
    values; alpha is its reciprocal in micro; a revenue distribution
    has a finite positive tail index."""
    rows = {
        r.priority: r
        for r in QUERIES["hill_tail_index"](spark, SF).collect()
    }
    assert len(rows) == 5
    data = (
        load_table(spark, SF, "orders")
        .select(
            F.col("o_orderpriority").alias("p"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )
        .collect()
    )
    by_p = defaultdict(list)
    for d in data:
        by_p[d.p].append((d.cents, d.o_orderkey))
    for p, vals in by_p.items():
        vals.sort(key=lambda t: (-t[0], t[1]))
        top = [c for c, _ in vals[:50]]
        xk = top[-1]
        lrs = [
            math.floor(math.log(c / xk) * 1_000_000 + 0.5)
            for c in top[:-1]
        ]
        hill = sum(lrs) // len(lrs)  # sums are non-negative
        r = rows[p]
        assert r.k == 50 and r.k_cents == xk
        assert r.hill_mean_micro == hill
        assert r.alpha_micro == 10**12 // max(hill, 1)
        assert r.alpha_micro > 0


def _hash60(seed: int, val: str) -> int:
    return int(
        hashlib.md5(f"{seed}|{val}".encode()).hexdigest()[:15], 16
    )


def test_sprt_walk_replays(spark):
    """Each arm's LLR walk replays exactly in Python (same integer
    increments, same user order); the decision matches the first
    boundary crossed; the fixture's ~50% purchase rate sits below
    p0 = 0.55, so a completed test must accept H0."""
    rows = {
        r.arm: r
        for r in QUERIES["sprt_sequential_test"](spark, SF).collect()
    }
    assert set(rows) == {0, 1}
    users = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y")
        )
        .collect()
    )
    la = math.floor(math.log(0.65 / 0.55) * 1_000_000 + 0.5)
    lb = math.floor(math.log(0.35 / 0.45) * 1_000_000 + 0.5)
    bound = math.floor(math.log(0.95 / 0.05) * 1_000_000 + 0.5)
    walks = defaultdict(list)
    for u in sorted(users, key=lambda x: x.user_id):
        arm = _hash60(6161, str(u.user_id)) % 2
        walks[arm].append(la if u.y else lb)
    for arm, incs in walks.items():
        r = rows[arm]
        assert r.n_users == len(incs)
        cum, first, decision = 0, None, "continue"
        final = None
        for i, inc in enumerate(incs, start=1):
            cum += inc
            if first is None and (cum >= bound or cum <= -bound):
                first = i
                decision = "accept_h1" if cum >= bound else "accept_h0"
            final = cum
        assert r.final_llr_micro == final
        assert r.first_cross_n == first
        if first is not None:
            assert r.decision == decision
        else:
            assert r.decision == "continue"
