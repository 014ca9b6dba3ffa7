"""Batch-39 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from collections import defaultdict

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_funnel_tracker_matches_greedy_replay(spark):
    """The streaming emission must equal the greedy earliest-completion
    machine replayed in Python over (ts, event_id)-sorted events, one
    row per user (the cross-batch state carry is driven directly in
    test_funnel_stream_carries_state_across_batches)."""
    rows = QUERIES["streaming_funnel_tracker"](spark, SF).collect()
    assert rows
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users)), "exactly-once per user"
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_u = defaultdict(list)
    lo = min(e.ts for e in ev)
    hi = max(e.ts for e in ev)
    mid = lo + (hi - lo) / 2
    for e in ev:
        by_u[e.user_id].append((e.ts, e.event_id, e.event_type))
    expect = {}
    for uid, evs in by_u.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        stage, view_ts, click_ts = 0, None, None
        for ts, _eid, et in evs:
            if stage == 0 and et == "view":
                stage, view_ts = 1, ts
            elif stage == 1 and et == "click":
                stage, click_ts = 2, ts
            elif stage == 2 and et == "purchase":
                expect[uid] = (view_ts, click_ts, ts)
                break
    got = {
        r.user_id: (r.view_ts, r.click_ts, r.purchase_ts) for r in rows
    }
    assert got == expect
    assert lo < mid < hi  # the two-file staging actually splits


def test_funnel_stream_carries_state_across_batches(spark, tmp_path):
    """Direct two-microbatch drive of the operator: user 1's funnel
    SPANS the batches (view+click in batch 1, purchase in batch 2 —
    completion requires the carried state), user 2 never completes,
    user 3 would complete twice but must emit once."""
    import os
    import time

    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream,
    )
    from series_tiempo_ar_scraping_spark.streaming.stateful import (
        funnel_stream,
    )

    from datetime import datetime

    def ev(eid, ts, uid, et):
        return (
            eid,
            datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"),
            uid,
            et,
            0.0,
            "{}",
        )

    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )
    t = "2024-01-01 00:{:02d}:00"
    batch1 = spark.createDataFrame(
        [
            ev(1, t.format(1), 1, "view"),
            ev(2, t.format(2), 1, "click"),
            ev(3, t.format(1), 2, "view"),
            ev(4, t.format(1), 3, "view"),
            ev(5, t.format(2), 3, "click"),
            ev(6, t.format(3), 3, "purchase"),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            ev(7, t.format(10), 1, "purchase"),
            ev(8, t.format(10), 2, "error"),
            ev(9, t.format(10), 3, "view"),
            ev(10, t.format(11), 3, "click"),
            ev(11, t.format(12), 3, "purchase"),
        ],
        schema,
    )
    d = str(tmp_path / "stream")
    batch1.coalesce(1).write.mode("overwrite").parquet(d)
    before = {f for f in os.listdir(d) if f.endswith(".parquet")}
    batch2.coalesce(1).write.mode("append").parquet(d)
    latest = max(
        os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    for f in os.listdir(d):
        if f.endswith(".parquet") and f not in before:
            os.utime(os.path.join(d, f), (latest + 100, latest + 100))
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    name = f"funnel_unit_{int(time.time() * 1000)}"
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.user_id: r for r in spark.table(name).collect()}
    assert set(out) == {1, 3}, "user 2 never completes"
    # user 1 completed ACROSS batches: view/click from batch 1 state
    assert out[1].view_ts.minute == 1 and out[1].click_ts.minute == 2
    assert out[1].purchase_ts.minute == 10
    # user 3 completed in batch 1 and must NOT emit again in batch 2
    assert out[3].purchase_ts.minute == 3


def test_sinkhorn_converges_and_recomputes(spark):
    """Two rounds of integer Sinkhorn must recompute exactly in Python
    and land each row within n_cols micro of the row target and each
    column within n_rows micro of the column target (truncating DIV
    only loses, never gains)."""
    rows = QUERIES["sinkhorn_matrix_scaling"](spark, SF).collect()
    assert rows
    cells = {(r.nationkey, r.priority): r.n_orders for r in rows}
    a = {k: v * 1_000_000 for k, v in cells.items()}
    nations = sorted({n for n, _ in cells})
    prios = sorted({p for _, p in cells})
    for _ in range(2):
        row_sums = defaultdict(int)
        for (n, p), v in a.items():
            row_sums[n] += v
        a = {
            (n, p): v * 1_000_000 // row_sums[n]
            for (n, p), v in a.items()
        }
        col_sums = defaultdict(int)
        for (n, p), v in a.items():
            col_sums[p] += v
        a = {
            (n, p): v * 5_000_000 // col_sums[p]
            for (n, p), v in a.items()
        }
    for r in rows:
        assert r.scaled_micro == a[(r.nationkey, r.priority)]
        assert r.scaled_micro >= 0
    row_sums = defaultdict(int)
    col_sums = defaultdict(int)
    for (n, p), v in a.items():
        row_sums[n] += v
        col_sums[p] += v
    for r in rows:
        assert r.row_sum_micro == row_sums[r.nationkey]
        assert r.col_sum_micro == col_sums[r.priority]
    for p in prios:
        assert 5_000_000 - len(nations) <= col_sums[p] <= 5_000_000
    for n in nations:
        # after the final column scaling, rows drift a little from the
        # target but must stay close (the convergence property)
        assert abs(row_sums[n] - 1_000_000) < 50_000
