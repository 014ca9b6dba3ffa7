"""Batch-50 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_json_contract_passes_on_every_row(spark):
    """The battery is only meaningful if every trap passes on EVERY
    row — a partial pass means the engines' JSON functions diverge on
    some input, which is precisely what must not ship."""
    rows = QUERIES["json_path_semantics_audit"](spark, SF).collect()
    assert len(rows) == 5
    n = load_table(spark, SF, "events").count()
    for r in rows:
        assert r.n_rows == n
        assert r.n_pass == n, f"trap {r.trap} fails on some rows"


def test_cooccurrence_lift_recomputes(spark):
    """Every reported pair's lift recomputes from raw per-order item
    sets; the top list is sorted by (lift desc, pair) and respects the
    support floor."""
    rows = QUERIES["cooccurrence_null_lift"](spark, SF).collect()
    assert 0 < len(rows) <= 30
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 200).alias("item"))
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.item)
    n_orders = len(orders)
    item_n = Counter()
    pair_n = Counter()
    for items in orders.values():
        s = sorted(items)
        item_n.update(s)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                pair_n[(a, b)] += 1
    lifts = [r.lift_micro for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r.n_both >= 3
        assert r.n_both == pair_n[(r.item_a, r.item_b)]
        assert r.n_a == item_n[r.item_a]
        assert r.n_b == item_n[r.item_b]
        assert (
            r.lift_micro
            == r.n_both * n_orders * 1_000_000 // (r.n_a * r.n_b)
        )


def test_overdispersion_recomputes_and_flags_bursts(spark):
    """Moments recompute exactly from daily counts; dispersion equals
    var/mean in micro within truncation; a near-uniform synthetic
    series sits well below heavy-burst territory."""
    rows = {
        r.series_id: r
        for r in QUERIES["overdispersion_index"](spark, SF).collect()
    }
    daily = (
        load_table(spark, SF, "events")
        .groupBy(
            F.col("event_type").alias("s"),
            F.date_trunc("day", F.col("ts")).alias("d"),
        )
        .agg(F.count("*").alias("c"))
        .collect()
    )
    by_s = defaultdict(list)
    for d in daily:
        by_s[d.s].append(d.c)
    assert set(rows) == set(by_s)
    for s, cs in by_s.items():
        n = len(cs)
        tot = sum(cs)
        sq = sum(c * c for c in cs)
        r = rows[s]
        assert r.n_days == n and r.total == tot
        assert r.mean_micro == tot * 1_000_000 // n
        assert r.var_micro == (sq * n - tot * tot) * 1_000_000 // (n * n)
        assert (
            r.dispersion_micro
            == (sq * n - tot * tot) * 1_000_000 // (n * tot)
        )
        assert r.dispersion_micro >= 0
