"""Batch-28 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_overflow_audit_worst_case_is_worst(spark):
    """worst_sum must dominate the ACTUAL sum of absolute values, the
    digit count must match the rendered string, and at this tiny scale
    every column is bigint-safe."""
    rows = QUERIES["overflow_risk_audit"](spark, SF).collect()
    assert len(rows) == 4
    li = load_table(spark, SF, "lineitem")
    actual = li.agg(
        F.sum(
            F.abs(F.floor(F.col("l_extendedprice") * 100 + 0.5))
        ).alias("s")
    ).collect()[0].s
    by = {(r.table_name, r.column_name): r for r in rows}
    r = by[("lineitem", "l_extendedprice_cents")]
    assert int(r.worst_sum) >= actual
    for row in rows:
        assert row.digits == len(row.worst_sum)
        assert int(row.worst_sum) == row.max_abs * row.n_rows
        assert row.safe_in_bigint == 1  # sf0.001 is far from 2^63


def test_backfill_planner_consistent_with_delay_sweep(spark):
    """The per-day drop counts must total the global 600s-delay drop
    count from watermark_delay_sweep — same rule, different grouping."""
    days = QUERIES["backfill_partition_planner"](spark, SF).collect()
    sweep = {
        r.delay_s: r
        for r in QUERIES["watermark_delay_sweep"](spark, SF).collect()
    }
    assert sum(r.n_dropped for r in days) == sweep[600].n_dropped
    assert sum(r.n_events for r in days) == sweep[600].n_events
    for r in days:
        assert r.needs_backfill == (1 if r.n_dropped > 0 else 0)


def test_scd1_merge_accounting(spark):
    """Planted change-set arithmetic: updates = keys % 11 == 3,
    inserts = keys % 13 == 0 at +50000, totals conserve."""
    r = QUERIES["scd1_upsert_merge"](spark, SF).collect()[0]
    cust = load_table(spark, SF, "customer")
    n = cust.count()
    n_upd = cust.filter(F.col("c_custkey") % 11 == 3).count()
    n_ins = cust.filter(F.col("c_custkey") % 13 == 0).count()
    assert r.n_total == n + n_ins
    assert r.n_updated == n_upd
    assert r.n_inserted == n_ins
    assert r.n_unchanged == n - n_upd
    assert r.n_total == r.n_inserted + r.n_updated + r.n_unchanged
