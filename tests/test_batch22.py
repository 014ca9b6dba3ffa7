"""Batch-22 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from series_tiempo_ar_scraping_spark.registry import load_queries

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_watermark_sweep_is_monotone_and_consistent(spark):
    """Drops are monotone non-increasing in the delay, bounded by the
    lateness profile's out-of-order total, and ppm follows the exact
    division."""
    rows = sorted(
        QUERIES["watermark_delay_sweep"](spark, SF).collect(),
        key=lambda r: r.delay_s,
    )
    assert [r.delay_s for r in rows] == [60, 300, 600, 3600]
    drops = [r.n_dropped for r in rows]
    assert drops == sorted(drops, reverse=True)
    profile = QUERIES["out_of_order_lateness_profile"](
        spark, SF
    ).collect()
    total_ooo = sum(r.n_out_of_order for r in profile)
    n_events = rows[0].n_events
    assert sum(r.n_events for r in profile) == n_events
    for r in rows:
        assert 0 <= r.n_dropped <= total_ooo
        assert r.drop_ppm == r.n_dropped * 1_000_000 // n_events


def test_dp_noise_matches_inverse_cdf_replay(spark):
    """The Laplace draw replays exactly in Python from the same seeded
    hash, the noisy release decomposes into true count + noise, and
    the draws are two-sided (not a degenerate all-positive shift)."""
    import hashlib

    rows = QUERIES["dp_noisy_histogram"](spark, SF).collect()
    signs = set()
    for r in rows:
        h = int(
            hashlib.md5(f"53|{r.priority}".encode()).hexdigest()[:15],
            16,
        )
        u_num = h % 1_000_000
        two_q = 2 * u_num + 1 - 1_000_000
        x = (1_000_000 - abs(two_q)) / 1_000_000.0
        lap = (-1 if two_q >= 0 else 1) * math.floor(
            math.log(x) * 1_000_000 + 0.5
        )
        assert r.noise_micro == lap, r.priority
        assert (
            r.noisy_count_micro
            == r.true_count * 1_000_000 + r.noise_micro
        )
        assert r.abs_err_micro == abs(r.noise_micro)
        signs.add(r.noise_micro >= 0)
    assert signs == {True, False}
