"""Batch-18 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_retention_expiry_matches_direct_predicate(spark):
    """The audit's expired counts equal an independently computed
    anchor-minus-TTL predicate per type, and survivors partition the
    table."""
    events = load_table(spark, SF, "events")
    anchor = events.agg(F.max("ts")).collect()[0][0]
    rows = {
        r.event_type: r
        for r in QUERIES["retention_purge_audit"](spark, SF).collect()
    }
    ttls = {"error": 7, "click": 30, "view": 30}
    for et, r in rows.items():
        days = ttls.get(et, 365)
        direct = (
            events.filter(F.col("event_type") == et)
            .filter(
                F.col("ts")
                < F.lit(anchor) - F.expr(f"make_interval(0,0,0,{days})")
            )
            .count()
        )
        assert r.n_expired == direct, et
        assert r.n_total == r.n_expired + r.n_survivors
        assert int(r.survivor_fingerprint) >= 0
    assert sum(r.n_total for r in rows.values()) == events.count()


def test_gdpr_erasure_is_cross_table_consistent(spark):
    """Erased counts equal the arithmetic predicate per table, NULL
    keys survive, and a fingerprint changes when the predicate does
    (erasure is observable)."""
    rows = {
        r.table_name: r
        for r in QUERIES["gdpr_erasure_audit"](spark, SF).collect()
    }
    assert set(rows) == {"events", "orders", "customer"}
    keys = {
        "events": "user_id",
        "orders": "o_custkey",
        "customer": "c_custkey",
    }
    for table, r in rows.items():
        t = load_table(spark, SF, table)
        direct = t.filter(F.col(keys[table]) % 97 == 13).count()
        assert r.n_erased == direct, table
        assert r.n_rows == r.n_erased + r.n_survivors
    # the same subject ids must be erased everywhere they appear:
    # orders of an erased customer are erased iff custkey matches
    erased_cust = {
        x.c_custkey
        for x in load_table(spark, SF, "customer")
        .filter(F.col("c_custkey") % 97 == 13)
        .collect()
    }
    leaked = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_custkey").isin(list(erased_cust) or [-1]))
        .filter(~(F.col("o_custkey") % 97 == 13))
        .count()
    )
    assert leaked == 0


def test_lateness_profile_matches_pandas_replay(spark):
    """Replaying the per-user arrival stream in plain Python yields the
    same out-of-order counts and lateness sums."""
    events = (
        load_table(spark, SF, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_trunc("second", "ts").alias("t"),
        )
        .collect()
    )
    by_user: dict = {}
    for r in sorted(events, key=lambda r: (r.user_id, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    agg: dict = {}
    for rs in by_user.values():
        mx = None
        for r in rs:
            late = 0
            if mx is not None and mx > r.t:
                late = int((mx - r.t).total_seconds())
            a = agg.setdefault(r.event_type, [0, 0, 0])
            a[0] += 1
            a[1] += int(late > 0)
            a[2] += late
            mx = r.t if mx is None or r.t > mx else mx
    rows = QUERIES["out_of_order_lateness_profile"](
        spark, SF
    ).collect()
    for r in rows:
        n, n_ooo, total = agg[r.event_type]
        assert r.n_events == n
        assert r.n_out_of_order == n_ooo
        assert r.sum_lateness_s == total
        assert r.max_lateness_s <= total
