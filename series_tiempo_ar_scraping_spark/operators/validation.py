"""Validation operators (SURVEY §2.10) — the reference's core
"query" semantics, recast as DataFrame expressions.

Data validation (V4, V6) reproduces series-tiempo-ar's time-series
checks (invoked at ``base.py:251-264``, ``processors.py:147-150``) as
window/aggregate expressions on the long observations frame. Metadata
validation (V1) runs in plain Python over the driver's metadata rows:
``operators/schema_rules.py``.

Nothing throws: violations are rows in an error frame (V7,
``base.py:198-207``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.calendar import with_series_checks

# ---------------------------------------------------------------------------
# V4/V6 — time-series data validation
# ---------------------------------------------------------------------------

def validate_observations(obs: DataFrame) -> DataFrame:
    """V4 — per-series semantic validation on the long frame: time index
    parses, strictly increasing, duplicate-free, spacing conforms to the
    declared frequency, series not entirely null.

    Returns one row per series with counts + a status column. Parity with
    series-tiempo-ar ``validate_distribution`` (``base.py:251-264``) but
    set-based: every series of every distribution in one pass.
    """
    flagged = with_series_checks(obs)
    per_series = flagged.groupBy(
        "catalog_id", "dataset_id", "distribution_id", "series_id"
    ).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.col("is_duplicate_ts").cast("int")).alias("n_duplicate_ts"),
        F.sum(F.col("is_out_of_order").cast("int")).alias("n_out_of_order"),
        F.sum(F.col("has_gap").cast("int")).alias("n_gaps"),
        F.sum(F.col("value").isNotNull().cast("int")).alias("n_values"),
        F.sum(F.col("ts").isNull().cast("int")).alias("n_null_ts"),
    )
    return per_series.withColumn(
        "series_status",
        F.when(
            (F.col("n_duplicate_ts") > 0)
            | (F.col("n_out_of_order") > 0)
            | (F.col("n_null_ts") > 0)
            | (F.col("n_values") == 0),
            F.lit("ERROR"),
        )
        .when(F.col("n_gaps") > 0, F.lit("WARNING"))
        .otherwise(F.lit("OK")),
    )


def trim_warnings(table_ends: DataFrame) -> DataFrame:
    """V6 — trimmed-table warning (``base.py:165-182``): scraping reports
    ``table_end`` (last row with data) vs ``end`` (last row where a date
    was detected); ``table_end > end`` ⇒ WARNING with the reference's
    message shape."""
    return table_ends.filter(F.col("table_end") > F.col("end")).select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        F.lit("WARNING").alias("status"),
        F.concat(
            F.lit("Distribution ends at row "),
            F.col("table_end").cast("string"),
            F.lit(" but no date detected at row "),
            (F.col("end") + 1).cast("string"),
        ).alias("note"),
    )
