"""Aggregations / indicators (SURVEY §2.5: A1-A7) and the status sort (O1).

All hash aggregations with automatic partial (map-side) + final combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.scalars import status_sort_key


def count_by_status(reports: DataFrame, status_col: str) -> DataFrame:
    """A3 — counts by status (``base.py:978-992``)."""
    return reports.groupBy(status_col).agg(F.count("*").alias("n"))


def catalog_indicators(dataset_reports: DataFrame, distribution_reports: DataFrame) -> DataFrame:
    """A5 — the 7-metric indicator record (``base.py:1007-1018``) per
    ``catalog_id``: datasets / datasets_ok / datasets_error /
    distributions / distributions_ok / distributions_error /
    distributions_percentage.

    One grouped aggregation per report frame (conditional sums), joined
    on the catalog. A catalog gets a record only when its distribution
    report has rows; one without datasets reads ``datasets`` 0 and null
    dataset sums, as an aggregate over an empty frame would.
    """
    ds = dataset_reports.groupBy("catalog_id").agg(
        F.count("*").alias("datasets"),
        F.sum(F.when(F.col("dataset_status") == "OK", 1).otherwise(0)).alias(
            "datasets_ok"
        ),
        F.sum(F.when(F.col("dataset_status") == "ERROR", 1).otherwise(0)).alias(
            "datasets_error"
        ),
    )
    dist = distribution_reports.groupBy("catalog_id").agg(
        F.count("*").alias("distributions"),
        F.sum(
            F.when(F.col("distribution_status") == "OK", 1).otherwise(0)
        ).alias("distributions_ok"),
        F.sum(
            F.when(F.col("distribution_status") == "ERROR", 1).otherwise(0)
        ).alias("distributions_error"),
    )
    return dist.join(F.broadcast(ds), "catalog_id", "left").select(
        "catalog_id",
        F.coalesce("datasets", F.lit(0)).alias("datasets"),
        "datasets_ok",
        "datasets_error",
        "distributions",
        "distributions_ok",
        "distributions_error",
        F.coalesce(
            F.round(
                100.0 * F.col("distributions_ok") / F.col("distributions"), 3
            ),
            F.lit(0.0),
        ).alias("distributions_percentage"),
    )


def sort_reports_by_status(reports: DataFrame) -> DataFrame:
    """O1 — categorical sort ERROR < WARNING < OK (``base.py:903-913``),
    with identifier tiebreak for determinism (the reference's intra-group
    order is pandas-stable-sort incidental; SURVEY §7 hard part (c))."""
    return reports.orderBy(
        status_sort_key(F.col("distribution_status")),
        F.col("distribution_identifier"),
    )
