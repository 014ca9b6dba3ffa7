"""Batch-27 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_quantile_refinement_lands_on_brute_median(spark):
    """The whole point: two histogram rounds + the final ranked pass
    must land EXACTLY on the brute-force rank median (carried in the
    same row), with a 4096x-narrowed final range — and a pure-Python
    sort agrees with both."""
    r = QUERIES["iterative_quantile_refinement"](spark, SF).collect()[0]
    assert r.median_cents == r.brute_median_cents
    vals = sorted(
        math.floor(x.l_extendedprice * 100 + 0.5)
        for x in load_table(spark, SF, "lineitem")
        .select("l_extendedprice")
        .collect()
    )
    assert r.n == len(vals)
    assert r.rank_k == (len(vals) + 1) // 2
    assert r.median_cents == vals[r.rank_k - 1]
    full_range = vals[-1] - vals[0] + 1
    assert r.final_range_width <= full_range // (64 * 64) + 2


def test_salted_aggregation_equivalence_holds(spark):
    rows = QUERIES["salted_aggregation_equivalence"](spark, SF).collect()
    assert rows and all(r.all_equal == 1 for r in rows)
    assert sum(r.n_plain for r in rows) == load_table(
        spark, SF, "events"
    ).count()


def test_interval_union_coverage_python_replay(spark):
    """Replay the merge-overlapping-intervals rule in plain Python on
    the raw events and compare every day's report."""
    rows = (
        load_table(spark, SF, "events")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.date_trunc("second", "ts").alias("s"),
        )
        .collect()
    )
    by_ud: dict = {}
    for r in rows:
        by_ud.setdefault((r.user_id, r.day), []).append(r.s)
    per_day: dict = {}
    for (u, day), ss in by_ud.items():
        ss.sort()
        islands = []
        start = prev = ss[0]
        for s in ss[1:]:
            if (s - prev).total_seconds() > 300:
                islands.append((start, prev))
                start = s
            prev = s
        islands.append((start, prev))
        d = per_day.setdefault(str(day), [0, 0, 0])
        d[0] += 1  # users
        d[1] += len(islands)
        d[2] += sum(
            int((e - st).total_seconds()) + 300 for st, e in islands
        )
    got = {
        r.day: (r.n_users, r.n_islands, r.covered_seconds)
        for r in QUERIES["interval_union_coverage"](spark, SF).collect()
    }
    assert got == {k: tuple(v) for k, v in per_day.items()}
