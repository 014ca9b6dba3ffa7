"""Batch-35 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _hash60(seed: int, val: str) -> int:
    return int(
        hashlib.md5(f"{seed}|{val}".encode()).hexdigest()[:15], 16
    )


def test_als_rank1_recomputes_exactly(spark):
    """Both ALS half-steps must reproduce from raw counts in exact
    integer arithmetic — the closed-form identity either engine could
    break the same way (scaling, truncation order)."""
    rows = QUERIES["als_rank1_factors"](spark, SF).collect()
    assert rows
    r = (
        load_table(spark, SF, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    by_user: dict[int, list[tuple[str, int]]] = defaultdict(list)
    by_item: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for x in r:
        by_user[x.user_id].append((x.event_type, x.cnt))
        by_item[x.event_type].append((x.user_id, x.cnt))
    u = {
        uid: sum(c * 1000 for _, c in items)
        * 1_000_000
        // sum(1000 * 1000 for _ in items)
        for uid, items in by_user.items()
    }
    for row in rows:
        rated = by_item[row.event_type]
        assert row.n_users == len(rated)
        num = sum(c * u[uid] for uid, c in rated)
        den = sum(u[uid] * u[uid] for uid, c in rated)
        v = num * 1_000_000 // den
        assert row.v_milli == v
        mae = sum(
            abs(c * 1000 - (u[uid] * v) // 1000) for uid, c in rated
        ) // len(rated)
        assert row.mae_milli == mae
        # a one-sweep rank-1 fit of a count matrix keeps factors
        # positive (counts are positive, init is positive)
        assert row.v_milli > 0 and row.mae_milli >= 0


def test_qini_curve_identities(spark):
    """Deciles partition the user base; cumulative columns are
    nondecreasing; the final decile's qini equals the overall
    incremental-responder identity; treatment is the seeded hash."""
    rows = sorted(
        QUERIES["qini_uplift_curve"](spark, SF).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    users = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y")
        )
        .collect()
    )
    assert sum(r.n for r in rows) == len(users)
    t_y = sum(1 for x in users if _hash60(4242, str(x.user_id)) % 2 and x.y)
    t_n = sum(1 for x in users if _hash60(4242, str(x.user_id)) % 2)
    c_y = sum(
        1 for x in users if not _hash60(4242, str(x.user_id)) % 2 and x.y
    )
    c_n = sum(1 for x in users if not _hash60(4242, str(x.user_id)) % 2)
    last = rows[-1]
    assert last.cum_treated == t_n and last.cum_control == c_n
    assert last.cum_treated_resp == t_y and last.cum_control_resp == c_y
    assert last.qini_milli == t_y * 1000 - (c_y * t_n * 1000) // c_n
    for a, b in zip(rows, rows[1:]):
        assert b.cum_treated >= a.cum_treated
        assert b.cum_control >= a.cum_control
        assert b.cum_treated_resp >= a.cum_treated_resp
        assert b.cum_control_resp >= a.cum_control_resp


def test_topp_coverage_matches_python(spark):
    """k90 and the mass columns must recompute from a pure-Python
    tokenizer identical to textops (lower, non-alnum→space, split)."""
    rows = QUERIES["topp_vocab_coverage"](spark, SF).collect()
    assert rows
    docs = (
        load_table(spark, SF, "documents")
        .select("source", "text")
        .collect()
    )
    tf: dict[str, Counter] = defaultdict(Counter)
    for d in docs:
        norm = re.sub(
            " +", " ", re.sub("[^a-z0-9]+", " ", str(d.text).lower())
        ).strip()
        toks = [t for t in re.split(r"\s+", norm) if t]
        tf[d.source].update(toks)
    assert {r.source for r in rows} == set(tf)
    for r in rows:
        counts = tf[r.source]
        assert r.vocab_size == len(counts)
        total = sum(counts.values())
        assert r.total_tokens == total
        ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        cum = 0
        k90 = None
        for i, (_, f) in enumerate(ordered, start=1):
            cum += f
            if k90 is None and cum * 10 >= total * 9:
                k90 = i
        assert r.k90 == k90
        assert r.k90_vocab_share_micro == k90 * 1_000_000 // len(counts)
        top10 = sum(f for _, f in ordered[:10])
        assert r.top10_mass_micro == top10 * 1_000_000 // total
        assert 1 <= r.k90 <= r.vocab_size
