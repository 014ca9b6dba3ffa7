"""Batch-47 semantics: invariants ABOVE the hash oracles (the
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


def _hash60(seed: int, val: str) -> int:
    return int(
        hashlib.md5(f"{seed}|{val}".encode()).hexdigest()[:15], 16
    )


def test_aa_calibration_is_calibrated(spark):
    """Every split's z replays from exact Python moments; the A/A
    stack must NOT reject more than 2 of 8 null splits (expected 0.4
    at alpha = 0.05 — more means the machinery is broken)."""
    rows = QUERIES["aa_test_calibration"](spark, SF).collect()
    assert len(rows) == 8
    users = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("y"))
        .collect()
    )
    total_rejects = {r.total_rejections for r in rows}
    assert len(total_rejects) == 1
    (tr,) = total_rejects
    assert tr == sum(r.rejected for r in rows)
    assert tr <= 2, "A/A rejects too often — the stack is miscalibrated"
    for r in rows:
        n0 = n1 = s0 = s1 = q0 = q1 = 0
        for u in users:
            arm = _hash60(r.seed, str(u.user_id)) % 2
            if arm == 0:
                n0 += 1
                s0 += u.y
                q0 += u.y * u.y
            else:
                n1 += 1
                s1 += u.y
                q1 += u.y * u.y
        assert (r.n0, r.n1) == (n0, n1)
        m0, m1 = s0 / n0, s1 / n1
        se = math.sqrt(
            (q0 / n0 - m0 * m0) / n0 + (q1 / n1 - m1 * m1) / n1
        )
        z = math.floor((m1 - m0) / se * 1000 + 0.5)
        assert r.z_milli == z
        assert r.rejected == (1 if abs(z) > 1960 else 0)


def test_median_ci_brackets_and_recomputes(spark):
    """CI endpoints bracket the median; all three values recompute
    from the sorted sample at the prescribed ranks."""
    rows = {
        r.priority: r
        for r in QUERIES["median_ci_order_stats"](spark, SF).collect()
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
        vals.sort()
        n = len(vals)
        r_med = (n + 1) // 2
        off = math.floor(math.sqrt(n) * 98 / 100)
        r_lo = max(r_med - off, 1)
        r_hi = min(r_med + off, n)
        r = rows[p]
        assert r.n == n
        assert r.median_cents == vals[r_med - 1][0]
        assert r.ci_lo_cents == vals[r_lo - 1][0]
        assert r.ci_hi_cents == vals[r_hi - 1][0]
        assert r.ci_lo_cents <= r.median_cents <= r.ci_hi_cents


def test_qte_null_assignment_is_small(spark):
    """Arm medians recompute from the seeded assignment; on the null
    split the median difference must be small relative to the median
    itself (the calibration property of the quantile machinery)."""
    rows = {
        r.priority: r
        for r in QUERIES["quantile_treatment_effect"](spark, SF).collect()
    }
    assert len(rows) == 5
    data = (
        load_table(spark, SF, "orders")
        .select(
            F.col("o_orderpriority").alias("p"),
            "o_custkey",
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )
        .collect()
    )
    by = defaultdict(list)
    for d in data:
        arm = _hash60(5151, str(d.o_custkey)) % 2
        by[(d.p, arm)].append((d.cents, d.o_orderkey))
    for p, r in rows.items():
        for arm, med_col, n_col in (
            (0, r.median_control_cents, r.n_control),
            (1, r.median_treated_cents, r.n_treated),
        ):
            vals = sorted(by[(p, arm)])
            assert n_col == len(vals)
            assert med_col == vals[(len(vals) + 1) // 2 - 1][0]
        assert r.qte_cents == (
            r.median_treated_cents - r.median_control_cents
        )
        assert abs(r.qte_cents) < r.median_control_cents // 5
