"""Validation operators (SURVEY §2.10: V1-V8) — the reference's core
"query" semantics, recast as rule-driven DataFrame expressions.

Metadata validation (V1-V3) reproduces the JSON-Schema-driven checks the
reference delegates to pydatajson (``base.py:434-453``, schemas in
``config/schemas/``): each rule is one boolean expression column; rows
failing any rule become error rows. Data validation (V4, V6) reproduces
series-tiempo-ar's time-series checks (invoked at ``base.py:251-264``,
``processors.py:147-150``) as window/aggregate expressions on the long
observations frame.

Nothing throws: violations are rows in an error frame (V7,
``base.py:198-207``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import (
    CELL_COORD_REGEX,
    FREQ_ISO_TO_CODE,
)
from series_tiempo_ar_scraping_spark.functions.calendar import with_series_checks
from series_tiempo_ar_scraping_spark.sources.catalog_json import SCHEMAS

# ---------------------------------------------------------------------------
# V1 — metadata rules
# ---------------------------------------------------------------------------

EMAIL_REGEX = r"^[^@\s]+@[^@\s]+\.[^@\s]+$"
URI_REGEX = r"^https?://\S+$"

# Rules compile over the normalized frames' columns (``SCHEMAS``): a
# schema property without a column yields no rule, and a column no
# schema declares (the ids, ``source``, the scraping keys) gets none.


def catalog_rules() -> dict[str, Column]:
    """Catalog rules compiled from ``config/schemas/catalog.json`` —
    every ``required``/``format``/``pattern``/``minLength`` the schema
    declares becomes one expression rule (reference delegates the same
    document to pydatajson at ``base.py:434-441``)."""
    from series_tiempo_ar_scraping_spark.operators.schema_rules import (
        compile_rules,
    )

    return compile_rules("catalog", SCHEMAS["catalogs"].names)


def dataset_rules() -> dict[str, Column]:
    """Dataset rules compiled from ``config/schemas/dataset.json``
    (required title/description/publisher/superTheme/accrualPeriodicity/
    issued; accrualPeriodicity + temporal patterns; email/uri/date
    formats)."""
    from series_tiempo_ar_scraping_spark.operators.schema_rules import (
        compile_rules,
    )

    return compile_rules("dataset", SCHEMAS["datasets"].names)


def distribution_rules() -> dict[str, Column]:
    """Distribution rules compiled from
    ``config/schemas/distribution.json``, plus the engine's routing
    prerequisite (``base.py:123-153``: some source URL must exist —
    operational, not schema-expressible)."""
    from series_tiempo_ar_scraping_spark.operators.schema_rules import (
        compile_rules,
    )

    rules = compile_rules("distribution", SCHEMAS["distributions"].names)
    rules["distribution_has_source_url"] = (
        F.col("downloadURL").isNotNull()
        | F.col("scrapingFileURL").isNotNull()
    )
    return rules


def field_rules() -> dict[str, Column]:
    """Field rules: BASE rules compiled from ``config/schemas/field.json``
    (title required + minLength, type enum — the reference validates the
    same document via pydatajson, ``base.py:434-441``), plus the
    scraping-extension rules, which stay explicit because they are
    instance-data extensions (``tests/project/mock/test1.json:52-60``),
    not schema: time-index frequency in the supported set
    (``processors.py:230-238``) is a cross-column conditional, and the
    A1-coordinate checks (``processors.py:223-228``) guard scraping-only
    keys that are not part of the public data.json field schema."""
    from series_tiempo_ar_scraping_spark.operators.schema_rules import (
        compile_rules,
    )

    freqs = list(FREQ_ISO_TO_CODE)
    rules = compile_rules("field", SCHEMAS["fields"].names)
    rules.update(
        {
            "field_time_index_frequency": (
                F.col("specialType").isNull()
                | (F.col("specialType") != "time_index")
            )
            | F.col("specialTypeDetail").isin(freqs),
            "field_identifier_cell_coord": F.col(
                "scrapingIdentifierCell"
            ).isNull()
            | F.col("scrapingIdentifierCell").rlike(CELL_COORD_REGEX),
            "field_data_start_cell_coord": F.col(
                "scrapingDataStartCell"
            ).isNull()
            | F.col("scrapingDataStartCell").rlike(CELL_COORD_REGEX),
        }
    )
    return rules


def apply_rules(df: DataFrame, rules: dict[str, Column], id_cols: list[str]) -> DataFrame:
    """Evaluate every rule; emit one error row per (row, violated rule).

    One projection + one explode — a single pass over the frame regardless
    of rule count (no per-rule scans)."""
    checks = F.array(
        *[
            F.when(~F.coalesce(ok, F.lit(False)), F.lit(name))
            for name, ok in rules.items()
        ]
    )
    return (
        df.select(*id_cols, F.explode(F.filter(checks, lambda x: x.isNotNull())).alias("rule"))
        .withColumn("status", F.lit("ERROR"))
    )


def validate_metadata(frames: dict[str, DataFrame]) -> DataFrame:
    """V1 — full metadata validation; returns the unified error frame
    (entity, ids, rule). Parity with ``validate_catalog(only_errors=True,
    fmt='list')`` at ``base.py:434-441``."""
    cat_errs = apply_rules(frames["catalogs"], catalog_rules(), ["catalog_id"]).select(
        F.lit("catalog").alias("entity"),
        "catalog_id",
        F.lit(None).cast("string").alias("dataset_id"),
        F.lit(None).cast("string").alias("distribution_id"),
        "rule",
    )
    ds_errs = apply_rules(
        frames["datasets"], dataset_rules(), ["catalog_id", "dataset_id"]
    ).select(
        F.lit("dataset").alias("entity"),
        "catalog_id",
        "dataset_id",
        F.lit(None).cast("string").alias("distribution_id"),
        "rule",
    )
    dist_errs = apply_rules(
        frames["distributions"],
        distribution_rules(),
        ["catalog_id", "dataset_id", "distribution_id"],
    ).select(F.lit("distribution").alias("entity"), "catalog_id", "dataset_id", "distribution_id", "rule")
    fld_errs = apply_rules(
        frames["fields"],
        field_rules(),
        ["catalog_id", "dataset_id", "distribution_id"],
    ).select(F.lit("field").alias("entity"), "catalog_id", "dataset_id", "distribution_id", "rule")
    return cat_errs.unionByName(ds_errs).unionByName(dist_errs).unionByName(fld_errs)


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
