"""Batch-34 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_roc_auc_matches_pairwise_bruteforce(spark):
    """The rank-sum AUC must equal the pairwise definition
    P(score_pos > score_neg) + 0.5 P(tie), computed brute-force in
    Python — the identity BOTH engines' window formula could break
    the same way."""
    rows = QUERIES["roc_auc_report"](spark, SF).collect()
    assert rows
    data = (
        load_table(spark, SF, "orders")
        .select(
            F.col("o_orderpriority").alias("p"),
            F.col("o_totalprice").alias("s"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("y"),
        )
        .collect()
    )
    by_p: dict[str, tuple[list[float], list[float]]] = {}
    for r in data:
        by_p.setdefault(r.p, ([], []))[0 if r.y == 1 else 1].append(r.s)
    for row in rows:
        pos, neg = by_p[row.priority]
        assert row.n_pos == len(pos) and row.n_neg == len(neg)
        if not pos or not neg:
            assert row.auc_micro is None
            continue
        # U carried doubled to stay integer under half-credit ties
        u2 = sum(
            2 if p > n else (1 if p == n else 0)
            for p in pos
            for n in neg
        )
        assert row.auc_micro == u2 * 500_000 // (len(pos) * len(neg))
        assert 0 <= row.auc_micro <= 1_000_000


def _pava_exact(w: list[int], s: list[int]) -> list[Fraction]:
    """Reference pool-adjacent-violators (sequential pooling), exact."""
    blocks: list[tuple[Fraction, int, int]] = []  # (mean, w, count)
    for wi, si in zip(w, s):
        blocks.append((Fraction(si, wi), wi, 1))
        while len(blocks) > 1 and blocks[-2][0] >= blocks[-1][0]:
            m2, w2, c2 = blocks.pop()
            m1, w1, c1 = blocks.pop()
            tw = w1 + w2
            blocks.append(((m1 * w1 + m2 * w2) / tw, tw, c1 + c2))
    out: list[Fraction] = []
    for m, _, c in blocks:
        out.extend([m] * c)
    return out


def test_isotonic_equals_exact_pava_and_is_monotone(spark):
    """The max-min closed form must reproduce floor(1e6 * exact PAVA)
    bin-for-bin (floor commutes with min/max because both are
    monotone), and the published curve must be nondecreasing."""
    rows = sorted(
        QUERIES["isotonic_calibration_pava"](spark, SF).collect(),
        key=lambda r: r.bin,
    )
    assert rows
    w = [r.n for r in rows]
    s = [r.n_pos for r in rows]
    exact = _pava_exact(w, s)
    for r, e in zip(rows, exact):
        assert r.iso_rate_micro == (e * 1_000_000).__floor__()
        assert r.raw_rate_micro == r.n_pos * 1_000_000 // r.n
    iso = [r.iso_rate_micro for r in rows]
    assert iso == sorted(iso), "isotonic fit must be nondecreasing"
    # PAVA preserves the weighted mean up to per-bin flooring
    lhs = sum(wi * ri for wi, ri in zip(w, iso))
    rhs = sum(s) * 1_000_000
    assert rhs - sum(w) < lhs <= rhs


def test_t_closeness_matches_python_tvd(spark):
    """Every class's TVD must recompute from raw counts (absent
    segments contributing the full global share), and a class equal
    to the population in distribution would score 0."""
    rows = QUERIES["t_closeness_audit"](spark, SF).collect()
    assert rows
    cust = (
        load_table(spark, SF, "customer")
        .select("c_nationkey", "c_acctbal", "c_mktsegment")
        .collect()
    )
    band_w = 100_000
    raw: dict[tuple[int, int], dict[str, int]] = {}
    glob: dict[str, int] = {}
    for c in cust:
        cents = round(c.c_acctbal * 100)
        band = (cents - ((cents % band_w) + band_w) % band_w) // band_w
        cell = raw.setdefault((c.c_nationkey, band), {})
        cell[c.c_mktsegment] = cell.get(c.c_mktsegment, 0) + 1
        glob[c.c_mktsegment] = glob.get(c.c_mktsegment, 0) + 1
    n = sum(glob.values())
    assert len(rows) == len(raw)
    for r in rows:
        cell = raw[(r.nationkey, r.band)]
        k = sum(cell.values())
        assert r.k == k
        adiff = sum(
            abs(
                cell.get(seg, 0) * 1_000_000 // k
                - gc * 1_000_000 // n
            )
            for seg, gc in glob.items()
        )
        assert r.tvd_micro == adiff // 2
        assert 0 <= r.tvd_micro <= 1_000_000
        assert r.is_t_close == (1 if r.tvd_micro <= 300_000 else 0)
