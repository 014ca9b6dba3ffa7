"""Query catalog, batch 3 — remaining SURVEY §2 surface + Spark-free
extensions (pivot presentation, unpivot, per-group top-k, rollup,
sessionization, metadata-rule validation on literal fixtures).

Metadata/ETL operators are oracle-checked here via inline VALUES fixtures:
the driver's DuckDB gate only pre-registers the synthetic tables, so rule
validation and frequency mapping are verified on literal rows embedded
identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.schema_rules import (
    validate_metadata,
)
from series_tiempo_ar_scraping_spark.functions.scalars import freq_iso_to_code
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table, local_frame
from series_tiempo_ar_scraping_spark.sources.catalog_json import SCHEMAS

# ---------------------------------------------------------------------------
# Pivot / unpivot (J1 presentation + inverse)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@register(
    "pivot_monthly_region_revenue",
    oracle=f"""
    SELECT
      date_trunc('month', o.o_orderdate) AS month,
      {", ".join(
        "CAST(ROUND(SUM(CASE WHEN r.r_name = '" + r + "' THEN "
        "CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4))) "
        "ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS " + r.lower().replace(" ", "_")
        for r in _REGIONS
      )}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
)
def pivot_monthly_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/K1 — the wide 'presentation pivot' (long series → one column per
    key), exactly the reference's wide-CSV shape (``base.py:266-279``)
    at fact scale. Explicit pivot values → no discovery scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    joined = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("r_name"),
            revenue.alias("rev"),
        )
    )
    out = joined.groupBy("month").pivot("r_name", values=_REGIONS).agg(
        F.round(F.sum(F.coalesce(F.col("rev"), F.lit(0).cast("decimal(12,2)"))), 2)
        .cast("double")
    )
    for reg in _REGIONS:
        out = out.withColumnRenamed(reg, reg.lower().replace(" ", "_"))
    # pivot leaves NULL where a (month, region) has no rows; the CASE-based
    # oracle yields 0.0 — align on 0.0 (the wide-CSV contract uses blanks,
    # but this query models the summed-measure pivot)
    return out.select(
        "month",
        *[
            F.coalesce(F.col(reg.lower().replace(" ", "_")), F.lit(0.0)).alias(
                reg.lower().replace(" ", "_")
            )
            for reg in _REGIONS
        ],
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey < 100
    )
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 melt — wide → long via ``stack`` (the ingest-side inverse of the
    pivot; same operator the CSV reader uses, distribution_csv.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) as (measure, val)"
        ),
    )


# ---------------------------------------------------------------------------
# Metadata-rule validation on literal fixtures (V1 in the oracle gate)
# ---------------------------------------------------------------------------

_FIELD_COLUMNS = (
    "distribution_id", "field_id", "title", "type", "specialType",
    "specialTypeDetail", "scrapingIdentifierCell", "scrapingDataStartCell",
)
_FIELD_FIXTURE = [
    ("d1", "f1", "serie_a", "number", None, None, "B8", "B9"),
    ("d1", "f2", "indice_tiempo", "date", "time_index", "R/P3M", None, "A9"),
    ("d2", "f3", "", "number", None, None, "C8", "C9"),  # empty title
    ("d2", "f4", "serie_b", "float", None, None, "D8", "D9"),  # bad type
    ("d3", "f5", "indice_tiempo", "date", "time_index", "R/P2M", None, "A2"),  # bad freq
    ("d3", "f6", "serie_c", "number", None, None, "8B", "E2"),  # bad coord
]

_FIELD_FIXTURE_SQL = ", ".join(
    "("
    + ", ".join(
        "NULL" if v is None else f"'{v}'"
        for v in row
    )
    + ")"
    for row in _FIELD_FIXTURE
)


@register(
    "meta_field_validation",
    oracle=f"""
    WITH fields(distribution_id, field_id, title, type, specialType,
                specialTypeDetail, scrapingIdentifierCell, scrapingDataStartCell) AS (
      VALUES {_FIELD_FIXTURE_SQL}
    )
    SELECT distribution_id, rule, 'ERROR' AS status FROM (
      SELECT distribution_id,
        CASE WHEN NOT (title IS NOT NULL)
             THEN 'field_title_required' END AS r1,
        CASE WHEN NOT (title IS NULL OR length(title) >= 1)
             THEN 'field_title_format' END AS r1b,
        CASE WHEN NOT (type IS NULL OR type IN ('date', 'number', 'string'))
             THEN 'field_type_enum' END AS r2,
        CASE WHEN NOT ((specialType IS NULL OR specialType != 'time_index')
                       OR specialTypeDetail IN ('R/P1Y','R/P6M','R/P3M','R/P1M','R/P1D'))
             THEN 'field_time_index_frequency' END AS r3,
        CASE WHEN NOT (scrapingIdentifierCell IS NULL
                       OR regexp_matches(scrapingIdentifierCell, '^[A-Za-z]+(\\d+)$'))
             THEN 'field_identifier_cell_coord' END AS r4,
        CASE WHEN NOT (scrapingDataStartCell IS NULL
                       OR regexp_matches(scrapingDataStartCell, '^[A-Za-z]+(\\d+)$'))
             THEN 'field_data_start_cell_coord' END AS r5
      FROM fields
    ) t, LATERAL (SELECT UNNEST([r1, r1b, r2, r3, r4, r5]) AS rule) u
    WHERE rule IS NOT NULL
    """,
)
def meta_field_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 — rule-driven metadata validation (pydatajson JSON-Schema checks
    recast as Python predicates, ``base.py:434-441``) exercised through
    the engine's actual ``validate_metadata`` on a literal fixture of
    field rows (other columns null) containing each violation class."""
    rows = [
        {**dict.fromkeys(SCHEMAS["fields"].names), **dict(zip(_FIELD_COLUMNS, r))}
        for r in _FIELD_FIXTURE
    ]
    return local_frame(
        spark,
        [(e.distribution_id, e.rule, "ERROR")
         for e in validate_metadata({"fields": rows})],
        "distribution_id string, rule string, status string",
    )


_FREQ_FIXTURE = ["R/P1Y", "R/P6M", "R/P3M", "R/P1M", "R/P1D", "R/P2M", "eventual"]


@register(
    "freq_code_mapping",
    oracle=f"""
    WITH freqs(freq) AS (VALUES {", ".join(f"('{f}')" for f in _FREQ_FIXTURE)})
    SELECT freq,
      CASE freq WHEN 'R/P1Y' THEN 'Y' WHEN 'R/P6M' THEN 'S' WHEN 'R/P3M' THEN 'Q'
                WHEN 'R/P1M' THEN 'M' WHEN 'R/P1D' THEN 'D' END AS code
    FROM freqs
    """,
)
def freq_code_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — ISO duration → frequency code through the engine expression
    (unknown → NULL per V7; reference raises KeyError,
    ``processors.py:230-238``)."""
    df = spark.createDataFrame([(f,) for f in _FREQ_FIXTURE], "freq string")
    return df.select("freq", freq_iso_to_code(F.col("freq")).alias("code"))


# ---------------------------------------------------------------------------
# Window extensions: per-group top-k, rollup, sessionization
# ---------------------------------------------------------------------------

@register(
    "topk_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranked window (SURVEY §2.7: absent from the
    reference, free in Spark; total order via key tiebreak)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "rollup_order_indicators",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_order_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical indicator roll-up (SURVEY §2.5 'absent' list —
    grouping sets/rollup as an engine extension of A5)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout): boundary flags via lag,
    session ids via running sum — the batch shape of a session window
    (streaming variant: ``session_window``/``applyInPandasWithState``).

    One shuffle on user_id; both windows share the same partitioning so
    Catalyst reuses the sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-safe gap that matches DuckDB date_diff('second',…): timestamp_diff
    # truncates elapsed time, date_diff counts second-boundary crossings —
    # truncate both operands to the second so the two semantics coincide.
    prev_ts = F.lag("ts").over(w)
    gap_s = F.timestamp_diff(
        "SECOND", F.date_trunc("second", prev_ts), F.date_trunc("second", F.col("ts"))
    )
    flagged = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_ts.isNull() | (gap_s > 1800), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "customers_above_nation_avg",
    oracle="""
    WITH nation_avg AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_nationkey, COUNT(*) AS n_above
    FROM customer c JOIN nation_avg a ON a.c_nationkey = c.c_nationkey
    WHERE c.c_acctbal > a.avg_bal
    GROUP BY c.c_nationkey
    """,
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate pattern (decorrelated by hand into a join —
    the plan Catalyst would produce for the subquery form)."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.groupBy("c_nationkey").agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(14,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_above"))
    )
