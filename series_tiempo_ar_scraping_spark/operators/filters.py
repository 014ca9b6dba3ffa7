"""Filters / projections / routing (SURVEY §2.3: F1-F8).

All but F2 are plain Catalyst filter expressions — pushdown-able,
prune-able, and folded into the local relations planning builds. F2
filters metadata-plane rows the driver already holds, on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import (
    EXCEL_EXTENSIONS,
    METHOD_CSV,
    METHOD_EXCEL,
    METHOD_TXT,
    METHOD_UNKNOWN,
    TXT_EXTENSIONS,
)
from series_tiempo_ar_scraping_spark.functions.scalars import (
    file_extension,
    strip_spaces,
)
from series_tiempo_ar_scraping_spark.session import local_frame


def time_series_distributions(distributions: DataFrame, fields: DataFrame) -> DataFrame:
    """F2 — distributions having a ``time_index`` field
    (``base.py:478-487,519-528`` → ``get_distributions(only_time_series=True)``).

    A semi-join on (catalog, distribution), null keys matching nothing
    (distribution ids are catalog-scoped), over collected rows: on the
    local relations ``CatalogPipeline.plan`` builds, both collects and
    the result, itself a local relation, run no Spark job.
    """
    keys = ["catalog_id", "distribution_id"]
    ts_keys = {
        tuple(r)
        for r in fields.filter(F.col("specialType") == "time_index")
        .select(*keys)
        .collect()
    }
    rows = [
        r for r in distributions.collect()
        if None not in (k := (r.catalog_id, r.distribution_id))
        and k in ts_keys
    ]
    return local_frame(distributions.sparkSession, rows, distributions.schema)


def filter_distribution_id(df: DataFrame, distribution_id: str | None) -> DataFrame:
    """F3 — CLI ``--distribution-id-filter`` (``base.py:483-486``,
    ``main.py:62-66``); no-op when None."""
    if distribution_id is None:
        return df
    return df.filter(F.col("distribution_id") == F.lit(distribution_id))


def with_method(distributions: DataFrame) -> DataFrame:
    """F5 — scraping-method routing column (``base.py:123-153`` routing +
    series-tiempo-ar ``get_ts_distributions_by_method`` at
    ``base.py:539-572``): ``downloadURL`` present → csv; else by
    ``scrapingFileURL`` extension txt → txt, xls/xlsx → excel.
    """
    ext = file_extension(F.col("scrapingFileURL"))
    return distributions.withColumn(
        "method",
        F.when(F.col("downloadURL").isNotNull(), METHOD_CSV)
        .when(ext.isin(*TXT_EXTENSIONS), METHOD_TXT)
        .when(ext.isin(*EXCEL_EXTENSIONS), METHOD_EXCEL)
        .otherwise(METHOD_UNKNOWN),
    )


def value_fields(fields: DataFrame) -> DataFrame:
    """F6 — non-time-index fields (``processors.py:167-198``)."""
    return fields.filter(
        F.col("specialType").isNull() | (F.col("specialType") != "time_index")
    )


def clean_field_keyspace(fields: DataFrame) -> DataFrame:
    """F8 — strip spaces from every field title / id (``base.py:940-948``)."""
    return fields.withColumn("title", strip_spaces(F.col("title"))).withColumn(
        "field_id", strip_spaces(F.col("field_id"))
    )
