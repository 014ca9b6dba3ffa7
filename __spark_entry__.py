"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the engine's full catalog (one entry per
implemented SURVEY §2 operator / extension) for the DuckDB correctness
gate at sf0.01. Importing this module loads the catalog through
``series_tiempo_ar_scraping_spark.registry.load_queries``, which puts the
driver-gate names first and fails if any of them is unregistered.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from series_tiempo_ar_scraping_spark.registry import (  # noqa: E402
    ORACLES,
    load_queries,
)

QUERIES = load_queries()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return dict(ORACLES)
