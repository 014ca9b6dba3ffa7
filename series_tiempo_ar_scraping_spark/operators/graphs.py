"""Shared graph constructions (leaf module the batch query modules
compose).

The SQL twin of :data:`copurchase_edges` lives in
``sqlfrags.COPURCHASE_EDGES_SQL``; change them together or the HITS
and triangle oracles drift from the Spark side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import (
    upper_triangle_pairs,
)


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed part co-purchase edges (src < dst, co-occurring in at
    least 2 orders) — built by per-basket pair generation (collect the
    sorted part set per order, expand the upper triangle map-side)
    instead of the naive self-join, so the (order, part) frame is
    scanned once and the quadratic term stays bounded by basket size.

    Reference parity: the graph the reference's co-occurrence style
    rollups imply; cited by ``hits_hub_authority`` (batch 23) and
    ``triangle_count_clustering`` (batch 24)."""
    # No pre-distinct (r13): collect_set already dedups per basket, so
    # the former (l_orderkey, l_partkey).distinct() was a second full
    # shuffle of the same projection for nothing — one exchange, not two
    # (the part_co_occurrence spelling, now shared here).
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(
                        x.alias("src"), y.alias("dst")
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.src", "p.dst")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
