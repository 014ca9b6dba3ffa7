"""Batch-25 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _order_rows(spark):
    return load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).collect()


def test_average_precision_python_replay(spark):
    """Bit-exact pure-Python replay of AP and P/R@100 under the same
    tie-broken (score DESC, orderkey) order — the packed two-phase
    prefix sum cannot silently disagree with a plain sort."""
    rows = _order_rows(spark)
    ranked = sorted(
        rows,
        key=lambda r: (-math.floor(r.o_totalprice * 100 + 0.5), r.o_orderkey),
    )
    cum = 0
    ap_sum = 0
    pos_at_k = None
    for i, r in enumerate(ranked, start=1):
        pos = 1 if r.o_orderstatus == "F" else 0
        cum += pos
        if pos:
            ap_sum += cum * 1_000_000 // i
        if i == 100:
            pos_at_k = cum
    n_pos = cum
    got = QUERIES["average_precision_report"](spark, SF).collect()[0]
    assert got.n == len(ranked) and got.n_pos == n_pos
    assert got.ap_micro == ap_sum // n_pos
    assert got.p_at_100_micro == pos_at_k * 1_000_000 // 100
    assert got.r_at_100_micro == pos_at_k * 1_000_000 // n_pos
    assert 0 <= got.ap_micro <= 1_000_000


def test_seasonal_dow_python_replay(spark):
    """Replay the daily rollup, portable dow, integer level, and
    residual mass in plain Python."""
    rows = _order_rows(spark)
    daily: dict = {}
    anchor = __import__("datetime").date(1992, 1, 1)
    dates = {
        r.o_orderkey: r
        for r in load_table(spark, SF, "orders")
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("d"))
        .collect()
    }
    for r in rows:
        d = dates[r.o_orderkey].d
        daily[d] = daily.get(d, 0) + math.floor(r.o_totalprice * 100 + 0.5)
    by_dow: dict = {}
    for d, cents in daily.items():
        by_dow.setdefault((d - anchor).days % 7, []).append(cents)
    got = {r.dow: r for r in QUERIES["seasonal_dow_decomposition"](spark, SF).collect()}
    assert set(got) == set(by_dow)
    for dow, vals in by_dow.items():
        mean = sum(vals) // len(vals)
        assert got[dow].n_days == len(vals)
        assert got[dow].mean_cents == mean
        assert got[dow].sum_abs_resid == sum(abs(v - mean) for v in vals)
        assert got[dow].max_abs_resid == max(abs(v - mean) for v in vals)


def test_mad_outlier_python_replay(spark):
    """Lower-median and MAD replay by plain sorting per priority."""
    rows = _order_rows(spark)
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.o_orderpriority, []).append(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    got = {r.priority: r for r in QUERIES["mad_outlier_detector"](spark, SF).collect()}
    assert set(got) == set(by_grp)
    for grp, vals in by_grp.items():
        vals.sort()
        med = vals[(len(vals) + 1) // 2 - 1]
        ads = sorted(abs(v - med) for v in vals)
        mad = ads[(len(ads) + 1) // 2 - 1]
        n_out = sum(1 for a in ads if a > 3 * mad)
        r = got[grp]
        assert (r.n, r.median_cents, r.mad_cents, r.n_outliers) == (
            len(vals), med, mad, n_out,
        ), grp


def test_streaming_lww_matches_batch_argmax(spark):
    """Stream == batch: the complete-mode arg-max view must equal the
    batch window argmax over the same rows (the streaming layer adds
    delivery, not semantics)."""
    from pyspark.sql import Window

    got = sorted(
        (r.user_id, r.n_events, r.last_event_type, r.last_packed)
        for r in QUERIES["streaming_lww_upsert_view"](spark, SF).collect()
    )
    e = load_table(spark, SF, "events").filter(F.col("user_id") < 200)
    packed = (
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP '1990-01-01 00:00:00', "
            "date_trunc('second', ts))"
        ).cast("long")
        * 100000000
        + F.col("event_id")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("packed").desc())
    batch = (
        e.select("user_id", "event_type", packed.alias("packed"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count("*").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("rn") == 1)
    )
    want = sorted(
        (r.user_id, r.n, r.event_type, r.packed) for r in batch.collect()
    )
    assert got == want and len(got) > 0
