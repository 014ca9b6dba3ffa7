"""Batch-42 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_forward_cv_is_temporally_valid(spark):
    """Folds walk forward: training points grow with fold; the fold
    windows tile the back 3/4 of the range; every test day is strictly
    after every training day of its fold (replayed from the daily
    frame)."""
    rows = sorted(
        QUERIES["timeseries_forward_cv"](spark, SF).collect(),
        key=lambda r: r.fold,
    )
    assert [r.fold for r in rows] == [1, 2, 3]
    assert (
        rows[0].n_train_points
        < rows[1].n_train_points
        < rows[2].n_train_points
    )
    daily = (
        load_table(spark, SF, "events")
        .groupBy(
            F.col("event_type").alias("s"),
            F.expr(
                "timestampdiff(DAY, TIMESTAMP '1992-01-01 00:00:00',"
                " date_trunc('day', ts))"
            ).alias("dday"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(22,4)")) * 1000000)
            .cast("bigint")
            .alias("v")
        )
        .collect()
    )
    mn = min(d.dday for d in daily)
    mx = max(d.dday for d in daily)
    span = mx - mn + 1
    by_series = defaultdict(list)
    for d in daily:
        by_series[d.s].append((d.dday, d.v))
    for r in rows:
        lo = mn + span * r.fold // 4
        hi = mn + span * (r.fold + 1) // 4
        n_test = sum(
            1 for pts in by_series.values() for d, _ in pts
            if lo <= d < hi
        )
        assert r.n_test_points == n_test
        # n_train_points is the ACTUAL count of (series, day) points
        # before the cut — the r9 self-review caught the first cut of
        # this entry inflating it once per test row
        n_train = sum(
            1 for pts in by_series.values() for d, _ in pts if d < lo
        )
        assert r.n_train_points == n_train
        # MAE recompute with truncating semantics (all values here are
        # non-negative sums, so // == DIV on the divisor side; the
        # deltas inside ABS make sign moot)
        tot, cnt, ntr = 0, 0, 0
        for pts in by_series.values():
            train = [v for d, v in pts if d < lo]
            if not train:
                continue
            s = sum(train)
            mean = (
                s // len(train) if s >= 0 else -((-s) // len(train))
            )
            for d, v in pts:
                if lo <= d < hi:
                    tot += abs(v - mean)
                    cnt += 1
                    ntr += len(train)
        # n_train_points sums the training size once per test point's
        # series membership in the output rollup
        assert r.mae_micro == tot // cnt


def test_broadcast_advisor_matches_actual_plan(spark, sf_dir):
    """The advisor's broadcastable verdict must agree with the join
    strategy Spark actually picks for a dim x fact join at default
    thresholds (nation is broadcastable at every fixture scale)."""
    rows = {
        r.table_name: r
        for r in QUERIES["broadcast_threshold_advisor"](
            spark, SF
        ).collect()
    }
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part", "orders",
    }
    for name, r in rows.items():
        assert r.est_total_bytes == r.n_rows * r.est_row_bytes
        assert r.is_broadcastable == (
            1 if r.est_total_bytes <= 10 * 1024 * 1024 else 0
        )
    assert rows["nation"].is_broadcastable == 1
    assert rows["region"].is_broadcastable == 1
    # validate against the real planner: nation joins broadcast
    from series_tiempo_ar_scraping_spark.session import load_table as lt
    import contextlib
    import io

    c = lt(spark, sf_dir, "customer")
    n = lt(spark, sf_dir, "nation")
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"]).groupBy(
        "n_name"
    ).count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("simple")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_dsar_bundle_hash_recomputes(spark):
    """Bundle hashes recompute from raw events serialized in
    (ts, event_id) order; counts and spans match; only sampled users
    appear."""
    rows = {
        r.user_id: r
        for r in QUERIES["dsar_export_bundle"](spark, SF).collect()
    }
    ev = (
        load_table(spark, SF, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP '1992-01-01 00:00:00', ts)"
            ).alias("us"),
        )
        .collect()
    )
    by_u = defaultdict(list)
    for e in ev:
        if e.user_id % 100 == 0:
            by_u[e.user_id].append((e.us, e.event_id, e.event_type))
    assert set(rows) == set(by_u)
    for uid, evs in by_u.items():
        evs.sort()
        r = rows[uid]
        assert r.n_events == len(evs)
        assert r.first_us == evs[0][0]
        assert r.last_us == evs[-1][0]
        payload = ",".join(
            f"{eid}:{us}:{et}" for us, eid, et in evs
        )
        assert r.bundle_hash == hashlib.md5(payload.encode()).hexdigest()
