"""Batch-16 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_url_canonicalizer_on_known_spellings(spark):
    """Hand-picked raw URLs map to their exact canonical forms, and
    canonicalization is IDEMPOTENT (canon(canon(u)) == canon(u)) —
    checked independently of the planted corpus."""
    from series_tiempo_ar_scraping_spark.queries_batch16 import (
        canonicalize_url,
    )

    cases = [
        # (raw, expected canonical)
        (
            "HTTPS://WWW.Example.COM:443/item/3/?utm_source=rss#frag",
            "https://example.com/item/3",
        ),
        (
            "https://www.site.example.com/a?id=5&utm_campaign=news",
            "https://site.example.com/a?id=5",
        ),
        ("https://host.org/p", "https://host.org/p"),
        ("https://host.org/p/", "https://host.org/p"),
        ("HTTPS://HOST.ORG:443/p", "https://host.org/p"),
        ("https://h.io/x?utm_a=1", "https://h.io/x"),
    ]
    df = spark.createDataFrame(
        [(raw,) for raw, _ in cases], "url string"
    ).select("url", canonicalize_url(F.col("url")).alias("c"))
    got = {r.url: r.c for r in df.collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw], want)
    # idempotence: a second pass is the identity
    twice = (
        df.select(F.col("c").alias("url"))
        .select("url", canonicalize_url(F.col("url")).alias("c2"))
        .collect()
    )
    assert all(r.url == r.c2 for r in twice)


def test_url_dedup_counts_are_consistent(spark):
    rows = QUERIES["url_canonicalize_dedup"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_canonical <= r.n_raw_distinct <= r.n_urls
        assert r.n_collapsed == r.n_raw_distinct - r.n_canonical
        assert not r.host.startswith("www.")
        assert r.host == r.host.lower()


def test_fk_joins_make_containment_estimate_exact(spark):
    """On clean FK joins (unique dimension key, fact keys contained)
    the System-R containment estimate IS the fact count — est ==
    actual for all three registered joins."""
    rows = QUERIES["join_cardinality_estimate"](spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.ndv_right == r.n_right, r.join_name  # dim key unique
        assert r.est_rows == r.actual_rows == r.n_left, r.join_name


def test_sequential_support_matches_exists_bruteforce(spark):
    """support(a, b) equals the brute-force EXISTS count over raw
    event pairs for one concrete pattern (signup then purchase)."""
    events = load_table(spark, SF, "events")
    a = events.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("ta")
    )
    b = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tb")
    )
    brute = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .select("user_id")
        .distinct()
        .count()
    )
    rows = {
        (r.type_a, r.type_b): r
        for r in QUERIES["sequential_pattern_support"](
            spark, SF
        ).collect()
    }
    got = rows[("signup", "purchase")]
    assert got.n_users_support == brute
    assert all(
        r.n_users_support <= r.n_users for r in rows.values()
    )


def test_incremental_maintenance_identity_holds(spark):
    rows = QUERIES["incremental_agg_maintenance"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.consistent == 1
        assert r.merged_count == r.recomputed_count
        assert r.merged_sum_cents == r.recomputed_sum_cents


def test_woe_totals_and_iv_sign(spark):
    """Good/bad bin counts partition the table; each IV term is
    non-negative up to micro-floor slack (WOE and the probability
    delta always share a sign); WOE micro tracks python math.log."""
    orders = load_table(spark, SF, "orders")
    n = orders.count()
    rows = QUERIES["woe_information_value"](spark, SF).collect()
    assert sum(r.n_good + r.n_bad for r in rows) == n
    g = sum(r.n_good for r in rows)
    b = sum(r.n_bad for r in rows)
    k = len(rows)
    for r in rows:
        assert r.iv_term_micro >= -2  # floor slack only
        expect = math.floor(
            math.log(
                ((r.n_good + 1) * (b + k))
                / ((r.n_bad + 1) * (g + k))
            )
            * 1_000_000
            + 0.5
        )
        assert abs(r.woe_micro - expect) <= 1


def test_max_concurrency_bounds_and_bruteforce(spark):
    """Per day: 1 <= peak <= n_spans, and the peak equals a brute
    per-interval overlap count (max over intervals of how many
    intervals contain its start) — the sweep-line's defining
    identity for closed intervals."""
    events = load_table(spark, SF, "events")
    sp = (
        events.groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .collect()
    )
    by_day = {}
    for r in sp:
        by_day.setdefault(str(r.day), []).append((r.s, r.e))
    rows = QUERIES["max_concurrent_user_spans"](spark, SF).collect()
    assert len(rows) == len(by_day)
    for r in rows:
        ivs = by_day[r.day]
        assert r.n_spans == len(ivs)
        brute = max(
            sum(1 for s2, e2 in ivs if s2 <= s <= e2) for s, _ in ivs
        )
        assert 1 <= r.max_concurrent == brute <= r.n_spans


def test_governance_report_composes_its_parts(spark):
    """Row count equals the sum of the component frames' row counts
    and every check_name is present — composition can't silently drop
    a branch."""
    parts = {
        "pii_matches": "pii_detection_report",
        "repetition_flags": "gopher_repetition_report",
        "profile_ndv": "table_profile_report",
        "contract_violations": "expectation_suite_report",
    }
    rows = QUERIES["governance_nightly_report"](spark, SF).collect()
    by_check = {}
    for r in rows:
        by_check[r.check_name] = by_check.get(r.check_name, 0) + 1
    for check, comp in parts.items():
        assert by_check.get(check, 0) == QUERIES[comp](
            spark, SF
        ).count(), check
