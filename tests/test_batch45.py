"""Batch-45 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_maxmin_allocation_is_maxmin_fair(spark):
    """The textbook properties: total allocation fits the budget and
    is within (n − #satisfied) of it; every unsatisfied source sits
    exactly at the water level; no satisfied source exceeds any
    unsatisfied one's allocation; the iterative progressive-filling
    reference reproduces the same allocations."""
    rows = QUERIES["maxmin_fair_allocation"](spark, SF).collect()
    assert rows
    demands = {r.source: r.demand for r in rows}
    cap = sum(demands.values()) // 2
    total = sum(r.allocation for r in rows)
    assert total <= cap
    n_unsat = sum(1 for r in rows if not r.fully_satisfied)
    assert cap - total < max(n_unsat, 1)
    levels = {r.water_level for r in rows}
    assert len(levels) == 1
    (water,) = levels
    for r in rows:
        if r.fully_satisfied:
            assert r.allocation == r.demand <= water
        else:
            assert r.allocation == water < r.demand
    # iterative progressive filling (the textbook loop) agrees
    remaining = cap
    alloc = {s: 0 for s in demands}
    active = set(demands)
    while active and remaining >= len(active):
        share = remaining // len(active)
        done = set()
        for s in sorted(active):
            give = min(share, demands[s] - alloc[s])
            alloc[s] += give
            remaining -= give
            if alloc[s] >= demands[s]:
                done.add(s)
        if not done and share == 0:
            break
        active -= done
        if not done:
            break
    for r in rows:
        # the closed form and the loop agree up to integer slack of
        # one rounding unit per source
        assert abs(r.allocation - alloc[r.source]) <= 1


def test_burn_rate_policy(spark):
    """Burn columns recompute from hourly counts; the page flag is
    exactly the two-window conjunction; a page implies the fast
    window alone would have fired. The 6-hour window is TIME-based
    (r10): recomputed here by hour index, not row position."""
    rows = sorted(
        QUERIES["slo_burn_rate_alerts"](spark, SF).collect(),
        key=lambda r: r.hour,
    )
    assert rows
    by_hidx = {
        int(r.hour.timestamp() // 3600): (r.n_err, r.n) for r in rows
    }
    for r in rows:
        rate = r.n_err * 1_000_000 // r.n
        h = int(r.hour.timestamp() // 3600)
        win = [
            by_hidx[k] for k in range(h - 5, h + 1) if k in by_hidx
        ]
        e6 = sum(e for e, _ in win)
        n6 = sum(n for _, n in win)
        rate6 = e6 * 1_000_000 // n6
        assert r.burn_1h_micro == rate * 1_000_000 // 150_000
        assert r.burn_6h_micro == rate6 * 1_000_000 // 150_000
        expect_page = (
            1
            if r.burn_1h_micro >= 2_000_000
            and r.burn_6h_micro >= 1_000_000
            else 0
        )
        assert r.page == expect_page
        if r.page:
            assert r.burn_1h_micro >= 2_000_000


def test_session_gap_sweep_monotone_and_recomputes(spark):
    """Session counts recompute from per-user diffs and are MONOTONE
    DECREASING in the gap (a boundary at 60m is one at 30m and 10m);
    events-per-session grows with the gap."""
    rows = {
        r.gap_minutes: r
        for r in QUERIES["session_gap_sweep"](spark, SF).collect()
    }
    assert set(rows) == {10, 30, 60}
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    by_u = defaultdict(list)
    for e in ev:
        by_u[e.user_id].append((e.ts, e.event_id))
    n_events = len(ev)
    for g, r in rows.items():
        bound_us = g * 60_000_000
        n_sessions = 0
        for evs in by_u.values():
            evs.sort()
            n_sessions += 1
            for (a, _), (b, _) in zip(evs, evs[1:]):
                if (b - a).total_seconds() * 1_000_000 > bound_us:
                    n_sessions += 1
        assert r.n_sessions == n_sessions
        assert (
            r.events_per_session_micro
            == n_events * 1_000_000 // n_sessions
        )
    assert rows[10].n_sessions >= rows[30].n_sessions >= rows[60].n_sessions
    assert (
        rows[10].events_per_session_micro
        <= rows[30].events_per_session_micro
        <= rows[60].events_per_session_micro
    )


def test_burn_rate_window_is_gap_tolerant(spark, tmp_path):
    """The r9 COVERAGE edge, closed in r10: on GAPPY hours the 6-hour
    window must be time-based (RANGE on the hour index), not the last
    6 observed rows. Fixture: 3 clean hours, a 10-hour ingestion
    outage, then one 100%-error hour — a ROWS frame would dilute the
    post-gap burn with pre-gap traffic; the time window must not."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # hours 0-2: 10 clean events each
    for h in range(3):
        for i in range(10):
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(hours=h, minutes=i),
                 1, "view", 1.0, "{}")
            )
    # hour 13 (post-outage): 4 events, all errors
    for i in range(4):
        eid += 1
        rows.append(
            (eid, base + dt.timedelta(hours=13, minutes=i),
             1, "error", 1.0, "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.hour.hour: r
        for r in QUERIES["slo_burn_rate_alerts"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {0, 1, 2, 13}
    # post-gap hour: the 6h window covers hours 8-13 -> only hour 13
    # itself (time-based). rate6 = 100% -> burn_6h = 1e6/15e4 scaled.
    r13 = got[13]
    assert r13.burn_6h_micro == r13.burn_1h_micro == (
        1_000_000 * 1_000_000 // 150_000
    )
    assert r13.page == 1
    # a ROWS-based frame would have computed rate6 = 4 errors / 34
    # events (~11.8% < 15% budget) and NOT paged — the outage would
    # have suppressed the page exactly when it matters most
    assert (4 * 1_000_000 // 34) * 1_000_000 // 150_000 < 1_000_000
