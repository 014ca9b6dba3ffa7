"""Batch-48 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _py_tokens(text: str) -> list[str]:
    norm = re.sub(
        " +", " ", re.sub("[^a-z0-9]+", " ", str(text).lower())
    ).strip()
    return [t for t in re.split(r"\s+", norm) if t]


def _lev1(a: str, b: str) -> bool:
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = j = diff = 0
    while i < la and j < lb:
        if a[i] == b[j]:
            i += 1
            j += 1
        else:
            diff += 1
            if diff > 1:
                return False
            j += 1
    return True


def test_symspell_recovers_planted_typos(spark):
    """Every reported pair is a true edit-distance-1 neighbor; every
    reported correction is a frequent token; the planted typos that
    meet the rare threshold are recovered with their base word."""
    rows = QUERIES["symspell_typo_candidates"](spark, SF).collect()
    assert rows
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .collect()
    )
    n_docs = len(docs)
    # rebuild the planted corpus vocabulary
    tf: Counter = Counter()
    planted: dict[str, str] = {}
    for d in docs:
        toks = _py_tokens(d.text)
        tf.update(toks)
    for d in docs:
        if d.doc_id % 9 != 0:
            continue
        toks = [t for t in _py_tokens(d.text) if len(t) >= 5]
        if not toks:
            continue
        ft = toks[0]
        pos = d.doc_id % (len(ft) - 1)  # 0-based deletion index
        typo = ft[:pos] + ft[pos + 1:]
        tf.update(_py_tokens(typo))
        planted[typo] = ft
    for r in rows:
        assert _lev1(r.rare_token, r.correction)
        assert r.corr_freq * 10 >= n_docs
        assert r.rare_freq * 50 <= n_docs
        assert tf[r.rare_token] == r.rare_freq
        assert tf[r.correction] == r.corr_freq
    got = {r.rare_token: r.correction for r in rows}
    recovered = 0
    eligible = 0
    for typo, base in planted.items():
        if (
            tf[typo] * 50 <= n_docs
            and tf[base] * 10 >= n_docs
            and len(typo) >= 5
        ):
            eligible += 1
            if got.get(typo) == base:
                recovered += 1
    assert eligible > 0
    # the best-correction rank can occasionally prefer an even more
    # frequent ed-1 neighbor; the planted base must win almost always
    assert recovered * 10 >= eligible * 9


def test_cohort_ltv_monotone_and_consistent(spark):
    """Per cohort: cumulative revenue is nondecreasing in age; the
    per-user LTV is the cumulative divided by the FIXED cohort size;
    cohort sizes sum to the user count."""
    rows = QUERIES["cohort_ltv_curve"](spark, SF).collect()
    assert rows
    n_users_total = (
        load_table(spark, SF, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort].append(r)
    assert (
        sum(rs[0].n_users for rs in by_cohort.values()) == n_users_total
    )
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age)
        sizes = {r.n_users for r in rs}
        assert len(sizes) == 1  # cohort size is fixed across ages
        cums = [r.cum_rev_micro for r in rs]
        assert cums == sorted(cums)
        assert all(c >= 0 for c in cums)
        for r in rs:
            assert (
                r.ltv_per_user_micro == r.cum_rev_micro // r.n_users
            )
