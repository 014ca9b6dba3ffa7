"""Batch-40 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_range_frame_matches_band_bruteforce(spark):
    """The value-RANGE frame must equal the O(n²) band definition
    computed brute-force in Python — the frame-bound search either
    engine could get wrong the same way at band edges (ties at
    exactly ±band are INCLUSIVE)."""
    rows = {
        r.priority: r
        for r in QUERIES["range_value_frame_stats"](spark, SF).collect()
    }
    data = (
        load_table(spark, SF, "orders")
        .select(
            F.col("o_orderpriority").alias("p"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    by_p: dict[str, list[int]] = {}
    for d in data:
        by_p.setdefault(d.p, []).append(d.cents)
    for p, cents in by_p.items():
        cents.sort()
        n_nb, links, isolated, nb_cents = [], 0, 0, 0
        import bisect

        for c in cents:
            lo = bisect.bisect_left(cents, c - 5000)
            hi = bisect.bisect_right(cents, c + 5000)
            k = hi - lo - 1
            n_nb.append(k)
            links += k
            nb_cents += sum(cents[lo:hi]) - c
            if k == 0:
                isolated += 1
        r = rows[p]
        assert r.max_neighbors == max(n_nb)
        assert r.total_neighbor_links == links
        assert r.n_isolated == isolated
        assert r.mean_neighbor_cents == nb_cents // max(links, 1)


def test_bag_semantics_multiplicities(spark):
    """INTERSECT ALL multiplicity is min(m, n) per key and EXCEPT ALL
    is m − n, recomputed from raw multiset counts; the distinct twins
    bound them."""
    rows = {
        r.op: r
        for r in QUERIES["set_ops_bag_semantics"](spark, SF).collect()
    }
    orders = (
        load_table(spark, SF, "orders")
        .select("o_custkey", "o_orderstatus")
        .collect()
    )
    f = Counter(o.o_custkey for o in orders if o.o_orderstatus == "F")
    o = Counter(x.o_custkey for x in orders if x.o_orderstatus == "O")
    inter_all = sum(min(f[k], o[k]) for k in f if k in o)
    except_all = sum(max(f[k] - o.get(k, 0), 0) for k in f)
    assert rows["intersect_all"].n_rows == inter_all
    assert rows["except_all"].n_rows == except_all
    assert rows["intersect_all"].n_keys == len(set(f) & set(o))
    assert rows["intersect_distinct"].n_rows == len(set(f) & set(o))
    assert rows["except_distinct"].n_rows == len(set(f) - set(o))
    # bag results dominate their distinct twins
    assert inter_all >= rows["intersect_distinct"].n_rows
    assert except_all >= rows["except_distinct"].n_rows


def test_null_semantics_battery(spark):
    """The six traps must show the textbook relationships: NOT IN with
    a NULL in the list returns 0; NOT EXISTS returns nulls + true
    non-members; <> drops NULL rows; IS DISTINCT FROM keeps them;
    GROUP BY folds all NULLs into one group."""
    rows = {
        r.trap: r.n_rows
        for r in QUERIES["null_semantics_audit"](spark, SF).collect()
    }
    cust = load_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey"
    ).collect()
    nk = [
        None if c.c_custkey % 10 == 0 else c.c_nationkey for c in cust
    ]
    probe = {
        None if n % 7 == 0 else n
        for n in range(25)
    }
    assert rows["not_in_with_nulls"] == 0  # THE trap
    expect_ne = sum(
        1 for v in nk if v is not None and v not in probe
    ) + sum(1 for v in nk if v is None)
    assert rows["not_exists_same_predicate"] == expect_ne
    assert rows["neq_null_comparison"] == sum(
        1 for v in nk if v is not None and v != 3
    )
    assert rows["is_distinct_from"] == sum(1 for v in nk if v != 3)
    assert rows["is_distinct_from"] - rows["neq_null_comparison"] == sum(
        1 for v in nk if v is None
    )
    assert rows["null_group_rows"] == sum(1 for v in nk if v is None)
    assert rows["null_groups_counted_once"] == 1
