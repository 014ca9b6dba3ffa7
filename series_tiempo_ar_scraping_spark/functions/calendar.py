"""Frequency / calendar arithmetic (SURVEY §4 custom-work item 2).

The reference delegates frequency conformity to series-tiempo-ar's
validators (invoked at ``base.py:251-264``); here the same semantics are
Catalyst expressions over the long-form observations table:

- a period is identified by its **start date** (``indice_tiempo`` contract,
  ``base.py:272-276``);
- the expected next timestamp for a series of frequency code ``Y/S/Q/M`` is
  ``add_months(ts, months)``; for ``D`` it is ``date_add(ts, 1)``;
- gap detection / monotonicity are window expressions over
  ``Window.partitionBy(series_id).orderBy(ts)``.

Window-over-series partitions scale: series counts are large (millions) and
per-series row counts bounded (one obs per period), so the shuffle is
well-distributed and no single partition explodes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import FREQ_CODE_MONTHS


def expected_next_ts(ts: Column, freq_code: Column) -> Column:
    """Next period start for a frequency code (Y/S/Q/M/D)."""
    expr = F.when(freq_code == "D", F.date_add(ts, 1))
    for code, months in FREQ_CODE_MONTHS.items():
        expr = expr.when(freq_code == code, F.add_months(ts, months))
    return expr


_SERIES_KEY = ["catalog_id", "dataset_id", "distribution_id", "series_id"]


def series_window(obs: DataFrame | None = None) -> Window:
    """Per-series window over the FULL identity key. ``series_id`` alone
    is the column title on the CSV/TXT routes — NOT unique across
    distributions — so partitioning only by it would interleave two
    distributions' same-titled columns into one window and fire false
    duplicate/out-of-order/gap flags on valid data. When a frame is
    passed, only its present key columns are used (test frames may carry
    a bare series_id)."""
    if obs is None:
        keys = _SERIES_KEY
    else:
        keys = [k for k in _SERIES_KEY if k in obs.columns]
    return Window.partitionBy(*keys).orderBy("ts")


def with_series_checks(obs: DataFrame) -> DataFrame:
    """Annotate a long observations frame with per-row validation flags
    (V4 semantics — series-tiempo-ar ``validate_distribution`` invoked at
    ``base.py:251-264``):

    - ``is_duplicate_ts``: same (series_id, ts) seen before (index must be
      duplicate-free);
    - ``is_out_of_order``: lag(ts) >= ts (index must be strictly increasing
      — always false after an orderBy window, kept for raw-ingest frames);
    - ``has_gap``: lag-based spacing differs from declared frequency.
    """
    w = series_window(obs)
    prev_ts = F.lag("ts").over(w)
    return (
        obs.withColumn("prev_ts", prev_ts)
        .withColumn(
            "is_duplicate_ts",
            F.coalesce(F.col("prev_ts") == F.col("ts"), F.lit(False)),
        )
        .withColumn(
            "is_out_of_order",
            F.coalesce(F.col("prev_ts") > F.col("ts"), F.lit(False)),
        )
        .withColumn(
            "has_gap",
            F.coalesce(
                (~F.col("is_duplicate_ts"))
                & (
                    expected_next_ts(F.col("prev_ts"), F.col("freq_code"))
                    != F.col("ts")
                ),
                F.lit(False),
            ),
        )
        .drop("prev_ts")
    )
