"""Batch-24 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_triangle_census_identities(spark):
    """Every triangle contributes exactly 3 wedges, so 3T <= W and the
    global clustering coefficient lives in [0, 1e6]; the connected
    node set is a subset of all nodes."""
    r = QUERIES["triangle_count_clustering"](spark, SF).collect()[0]
    assert r.n_wedges >= 3 * r.n_triangles >= 0
    assert 0 <= r.global_clustering_micro <= 1_000_000
    assert r.n_connected_nodes <= r.n_nodes
    assert r.n_edges > 0 and r.n_triangles > 0  # fixture is cliquish


def test_leakage_safe_split_has_zero_cross_edges(spark):
    """The whole point: no near-dup edge straddles two splits, every
    corpus doc (originals + mutants) is assigned exactly once, and the
    splits are the three named bands."""
    rows = QUERIES["leakage_safe_split_assignment"](spark, SF).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert all(r.n_cross_split_edges == 0 for r in rows)
    n_docs = load_table(spark, SF, "documents").count()
    n_mut = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs + n_mut
    assert all(r.n_clusters <= r.n_docs for r in rows)


def test_shard_planner_greedy_replay(spark):
    """Pure-Python replay of the greedy cut rule on one source: the
    planner's shard ids must equal bytes-before DIV target computed
    row by row, and per-source shard bytes must conserve the source's
    total bytes."""
    out = QUERIES["output_shard_planner"](spark, SF)
    docs = (
        load_table(spark, SF, "documents")
        .select("source", "doc_id", F.length("text").alias("b"))
        .collect()
    )
    by_source: dict[str, list] = {}
    for r in sorted(docs, key=lambda r: (r.source, r.doc_id)):
        by_source.setdefault(r.source, []).append(r)
    src = sorted(by_source)[0]
    expect: dict[int, int] = {}
    cum = 0
    for r in by_source[src]:
        expect[(cum) // 8192] = expect.get(cum // 8192, 0) + r.b
        cum += r.b
    got = {
        r.shard_id: r.shard_bytes
        for r in out.filter(F.col("source") == src).collect()
    }
    assert got == expect
    total = out.groupBy("source").agg(F.sum("shard_bytes").alias("t"))
    truth = {
        r.source: r.t
        for r in load_table(spark, SF, "documents")
        .groupBy("source")
        .agg(F.sum(F.length("text")).alias("t"))
        .collect()
    }
    for r in total.collect():
        assert r.t == truth[r.source]


def test_cube_grouping_sets_conserve(spark):
    """The grand total (gid=3) equals the sum of the finest cells
    (gid=0) on both measures, and each one-way marginal (gid=1/2)
    conserves them too."""
    rows = QUERIES["cube_revenue_stats"](spark, SF).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    [total] = by_gid[3]
    assert total.priority == "(all)" and total.status == "(all)"
    for gid in (0, 1, 2):
        assert sum(r.n_orders for r in by_gid[gid]) == total.n_orders
        assert (
            sum(r.revenue_cents for r in by_gid[gid])
            == total.revenue_cents
        )


def test_cohens_kappa_python_replay(spark):
    """Bit-exact pure-Python replay of po/pe/kappa from the raw orders
    frame — the formula can't be wrong the same way in Spark, DuckDB,
    and Python at once."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()

    import math

    def ra(p):
        if p in ("1-URGENT", "2-HIGH"):
            return "hi"
        return "mid" if p == "3-MEDIUM" else "lo"

    def rb(t):
        cents = math.floor(t * 100 + 0.5)
        return "hi" if cents >= 18000000 else (
            "mid" if cents >= 9000000 else "lo"
        )

    labels = [(ra(r.o_orderpriority), rb(r.o_totalprice)) for r in orders]
    n = len(labels)
    agree = sum(1 for a, b in labels if a == b)
    ca: dict[str, int] = {}
    cb: dict[str, int] = {}
    for a, b in labels:
        ca[a] = ca.get(a, 0) + 1
        cb[b] = cb.get(b, 0) + 1
    s = sum(ca[k] * cb.get(k, 0) for k in ca)
    r = QUERIES["cohens_kappa_agreement"](spark, SF).collect()[0]
    assert (r.n, r.agree) == (n, agree)
    assert r.po_micro == agree * 1_000_000 // n
    assert r.pe_micro == s * 1_000_000 // (n * n)
    num = (agree * n - s) * 1_000_000
    den = n * n - s
    assert r.kappa_micro == (num - ((num % den + den) % den)) // den
    assert r.kappa_micro <= 1_000_000


def test_dedup_savings_bounds_and_planted_structure(spark):
    """Savings never exceed totals; the redundant set is exactly the
    planted mutant band's worth of members (every mutant pairs with
    its original, so clusters have >= 2 members and the min-id rule
    keeps the original)."""
    rows = QUERIES["dedup_savings_report"](spark, SF).collect()
    assert rows, "no sources"
    for r in rows:
        assert 0 <= r.bytes_saved <= r.bytes_total
        assert r.n_redundant <= r.n_docs
        assert r.n_cluster_members <= r.n_docs
    # clusters can SPAN sources (a mutant attributes to its original's
    # source, and genuine cross-source near-dups exist — that's what
    # cross_source_duplication_matrix censuses), so member/redundant
    # relations only hold globally: every multi-member cluster keeps
    # exactly one canonical, so members = redundant + #clusters with
    # 1 <= #clusters <= redundant.
    members = sum(r.n_cluster_members for r in rows)
    redundant = sum(r.n_redundant for r in rows)
    assert redundant > 0
    assert redundant + 1 <= members <= 2 * redundant
    assert sum(r.bytes_saved for r in rows) > 0
