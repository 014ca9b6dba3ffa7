"""Batch-38 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_fellegi_sunter_weights_separate(spark):
    """m must exceed u on every feature (the synthesized twins agree
    more than strangers), agreement weights are positive and
    disagreement weights negative, and both recompute from m/u."""
    rows = {r.feature: r for r in QUERIES["fellegi_sunter_weights"](spark, SF).collect()}
    assert set(rows) == {"nation", "name_exact", "balance_band"}
    for r in rows.values():
        assert 0 < r.u_micro < r.m_micro <= 1_000_000
        assert r.agree_weight_micro == math.floor(
            math.log(r.m_micro / r.u_micro) * 1_000_000 + 0.5
        )
        assert r.agree_weight_micro > 0
        if r.m_micro < 1_000_000 and r.u_micro < 1_000_000:
            assert r.disagree_weight_micro == math.floor(
                math.log(
                    (1_000_000 - r.m_micro) / (1_000_000 - r.u_micro)
                )
                * 1_000_000
                + 0.5
            )
            assert r.disagree_weight_micro < 0
    # exactly every 3rd matched twin carries the typo, so the exact-
    # name m sits at ~2/3; the every-16th-customer nation move hits
    # every 4th MATCHED twin (16|k within 4|k), pinning nation m ~3/4
    assert abs(rows["name_exact"].m_micro - 666_666) < 40_000
    assert abs(rows["nation"].m_micro - 750_000) < 40_000


def _hash60(seed: int, val: str) -> int:
    return int(
        hashlib.md5(f"{seed}|{val}".encode()).hexdigest()[:15], 16
    )


def test_randomized_response_debias_identity(spark):
    """The estimate is the closed-form debias of the reported rate;
    the reported rate recomputes from the hash coin; with p=3/4 the
    estimator must land closer to truth than the raw report unless
    truth is already near 1/2."""
    rows = QUERIES["randomized_response_estimate"](spark, SF).collect()
    assert rows
    users = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
            F.expr("least(CAST(COUNT(*) AS BIGINT) DIV 20, 4)").alias(
                "stratum"
            ),
        )
        .collect()
    )
    by_s: dict[int, list[tuple[int, int]]] = {}
    for u in users:
        coin = _hash60(8383, str(u.user_id)) % 4
        r = u.y if coin < 3 else 1 - u.y
        by_s.setdefault(u.stratum, []).append((u.y, r))
    for row in rows:
        recs = by_s[row.stratum]
        assert row.n_users == len(recs)
        true_pos = sum(y for y, _ in recs)
        rep_pos = sum(r for _, r in recs)
        assert row.true_rate_micro == true_pos * 1_000_000 // len(recs)
        assert (
            row.reported_rate_micro == rep_pos * 1_000_000 // len(recs)
        )
        assert row.estimated_rate_micro == (
            row.reported_rate_micro - 250_000
        ) * 2
        assert row.abs_error_micro == abs(
            row.estimated_rate_micro - row.true_rate_micro
        )


def test_lsh_scurve_matches_python_and_is_monotone(spark):
    """Collision probabilities recompute from the same multiplication
    chains in Python (bit-exact — IEEE doubles), rise monotonically in
    s, and each configuration's threshold is its first 0.5 crossing;
    more bands must lower the threshold, more rows raise it."""
    rows = QUERIES["lsh_scurve_planner"](spark, SF).collect()
    assert len(rows) == 19 * 5
    def chain_pow(s: float, r: int) -> float:
        out = s
        for _ in range(r - 1):
            out = out * s
        return out
    thr: dict[tuple[int, int], int] = {}
    by_cfg: dict[tuple[int, int], list] = {}
    for row in rows:
        s = row.s_pct / 100.0
        t = 1.0 - chain_pow(s, row.rows_per_band)
        x = t
        x2 = x * x
        x4 = x2 * x2
        x8 = x4 * x4
        x16 = x8 * x8
        x32 = x16 * x16
        tb = {8: x8, 16: x16, 32: x32}[row.bands]
        expect = math.floor((1.0 - tb) * 1_000_000 + 0.5)
        assert row.collision_micro == expect
        by_cfg.setdefault((row.bands, row.rows_per_band), []).append(row)
        thr[(row.bands, row.rows_per_band)] = row.threshold_s_pct
    for cfg, rws in by_cfg.items():
        rws.sort(key=lambda r: r.s_pct)
        probs = [r.collision_micro for r in rws]
        assert probs == sorted(probs)
        crossing = min(
            (r.s_pct for r in rws if r.collision_micro >= 500_000),
            default=None,
        )
        assert thr[cfg] == crossing
    # S-curve geometry: more bands -> lower threshold; more rows ->
    # higher threshold
    assert thr[(32, 4)] <= thr[(16, 4)] <= thr[(8, 4)]
    assert thr[(8, 8)] >= thr[(8, 4)]
