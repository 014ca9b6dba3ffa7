"""Batch-23 semantics: invariants ABOVE the hash oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_hits_scores_are_normalized_and_distinct(spark):
    """Both vectors are max-normalized micro scores (max == 1e6,
    everything in [0, 1e6]); hubs and authorities DIFFER on the
    directed graph (the symmetry trap this entry is built to avoid);
    and sinks/sources behave: a node with no out-edges has hub 0,
    no in-edges -> authority 0."""
    rows = QUERIES["hits_hub_authority"](spark, SF).collect()
    hubs = [r.hub_micro for r in rows]
    auths = [r.auth_micro for r in rows]
    assert max(hubs) == 1_000_000 and max(auths) == 1_000_000
    assert all(0 <= v <= 1_000_000 for v in hubs + auths)
    assert any(
        r.hub_micro != r.auth_micro for r in rows
    ), "directed graph degenerated to symmetric scores"
    # the global max part key can never point anywhere (src < dst),
    # so its hub score must be 0
    li = load_table(spark, SF, "lineitem")
    top = li.agg(F.max("l_partkey")).collect()[0][0]
    by_id = {r.part_id: r for r in rows}
    assert by_id[top].hub_micro == 0
