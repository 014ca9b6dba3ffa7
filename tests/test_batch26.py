"""Batch-26 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_lpa_conserves_nodes_and_forms_groups(spark):
    """Every node lands in exactly one community (sizes sum to the
    node count), community ids are node ids, and propagation actually
    merged something (fewer communities than nodes)."""
    rows = QUERIES["label_propagation_communities"](spark, SF).collect()
    n_nodes = (
        load_table(spark, SF, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r.n_members for r in rows) == n_nodes
    assert len(rows) < n_nodes  # something propagated
    node_ids = {
        r.l_partkey
        for r in load_table(spark, SF, "lineitem")
        .select("l_partkey")
        .distinct()
        .collect()
    }
    for r in rows:
        assert r.community_id in node_ids
        assert r.min_member <= r.max_member
        # the min member can never be larger than the label it adopted
        # only when the community id is inside the member range OR the
        # label came from a neighbor outside the community — so only
        # membership arithmetic is pinned here, not label geometry.


def test_join_order_advisor_picks_what_actuals_pick(spark):
    """On clean FK joins the containment estimate is exact (est ==
    actual per plan), so the advisor's choice must equal the choice
    made on actual cardinalities."""
    rows = QUERIES["join_order_advisor"](spark, SF).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.est_intermediate == r.actual_intermediate
    best_actual = min(r.actual_intermediate for r in rows)
    for r in rows:
        assert r.chosen == (1 if r.actual_intermediate == best_actual else 0)
    assert sum(r.chosen for r in rows) >= 1


def test_lineage_manifest_stages_and_planted_dupes(spark):
    """The planted exact duplicates vanish at the dedup stage (kept =
    exactly the original documents, so the stage-1 fingerprint equals
    the fingerprint of the raw documents table), and the length filter
    only shrinks."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    rows = {
        r.stage: r
        for r in QUERIES["pipeline_lineage_manifest"](spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    n_planted = docs.filter(F.col("doc_id") % 4 == 0).count()
    assert rows["raw"].n_docs == n + n_planted
    assert rows["exact_dedup"].n_docs == n
    assert rows["length_filter"].n_docs <= n
    assert rows["raw"].content_fingerprint != rows[
        "exact_dedup"
    ].content_fingerprint
    base_fp = docs.agg(
        F.sum(
            hash64_seeded(F.col("text"), 71).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("fp")
    ).collect()[0].fp
    assert rows["exact_dedup"].content_fingerprint == base_fp


def test_order_invariance_audit_holds(spark):
    """The whole point: three partitionings, one answer."""
    r = QUERIES["order_invariance_audit"](spark, SF).collect()[0]
    assert r.all_equal == 1
    assert r.n == load_table(spark, SF, "lineitem").count()
    assert r.revenue_sum_hash_part == r.revenue_sum_range_part
    assert r.fingerprint_hash_part == r.fingerprint_alt_part
