"""Batch-50 queries: JSON-path semantics parity battery,
co-occurrence lift against the independence null, and the
overdispersion index.

Families (each entry hash-oracled; determinism per the established
recipes):

- JSON-path parity: each engine extracts with ITS OWN JSON functions
  (get_json_object vs json_extract_string) from a deterministically
  constructed document — missing keys, nested paths, array indexing,
  numeric round-trips — and the hash gate pins that both engines
  honor the same contract (the JSON sibling of
  ``null_semantics_audit``: the traps a pandas-reference migrant
  hits first).
- Null-model lift: observed part co-occurrence vs the independence
  expectation n_a·n_b/N — the statistic that separates 'these parts
  travel together' from 'these parts are simply popular', which raw
  co-occurrence counts (``part_co_occurrence``) cannot.
- Overdispersion: per-series variance-to-mean ratio of daily counts —
  D far above 1 says the counts are NOT Poisson (bursts), the first
  check before any rate-based alerting or sampling-error math.

Reference parity: the migration-contract, basket-analytics, and
count-diagnostics lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# JSON-path semantics parity battery
# ---------------------------------------------------------------------------

# the constructed document exercises: top-level int, nested object,
# array of strings, and a string value with spaces
_JSON_DOC_SQL = (
    "'{{\"k\": ' || CAST(event_id % 100 AS VARCHAR)"
    " || ', \"nested\": {{\"x\": ' || CAST(user_id % 10 AS VARCHAR)"
    " || '}}, \"tags\": [\"' || event_type || '\", \"t2\"],"
    " \"s\": \"a b\"}}'"
)


@register(
    "json_path_semantics_audit",
    oracle=f"""
    WITH j AS (
      SELECT event_id, user_id, event_type,
             {_JSON_DOC_SQL.replace('{{', '{').replace('}}', '}')} AS doc
      FROM events
    )
    SELECT 'missing_key_is_null' AS trap,
           CAST(SUM(CASE WHEN json_extract_string(doc, '$.absent')
                              IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM j
    UNION ALL
    SELECT 'top_level_int_roundtrip',
           CAST(SUM(CASE WHEN json_extract_string(doc, '$.k')
                              = CAST(event_id % 100 AS VARCHAR)
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM j
    UNION ALL
    SELECT 'nested_path',
           CAST(SUM(CASE WHEN json_extract_string(doc, '$.nested.x')
                              = CAST(user_id % 10 AS VARCHAR)
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM j
    UNION ALL
    SELECT 'array_index',
           CAST(SUM(CASE WHEN json_extract_string(doc, '$.tags[1]')
                              = 't2' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM j
    UNION ALL
    SELECT 'string_with_spaces',
           CAST(SUM(CASE WHEN json_extract_string(doc, '$.s') = 'a b'
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM j
    """,
)
def json_path_semantics_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JSON-path semantics parity battery: a JSON document constructed
    per event (top-level int, nested object, string array, a value
    with spaces) is probed by EACH ENGINE'S OWN extraction function —
    Spark ``get_json_object``, DuckDB ``json_extract_string`` — and
    five contract rows count how many rows honor each behavior:
    missing keys are NULL (never empty string), scalars round-trip
    unquoted, nested dotted paths resolve, ``[i]`` indexes arrays,
    embedded spaces survive. All five must pass on every row for the
    hash to match — making the cross-engine JSON contract itself the
    thing under test (the JSON sibling of ``null_semantics_audit``,
    and the behaviors the reference's pandas ``json_normalize`` users
    depend on, base.py's data.json handling).

    Scale shape: one map-side construct+extract pass, one 5-counter
    aggregate, zero joins. Determinism: exact counts over
    deterministic documents."""
    events = load_table(spark, sf_dir, "events")
    doc = F.expr(
        "concat('{\"k\": ', CAST(event_id % 100 AS STRING),"
        " ', \"nested\": {\"x\": ', CAST(user_id % 10 AS STRING),"
        " '}, \"tags\": [\"', event_type, '\", \"t2\"],"
        " \"s\": \"a b\"}')"
    )
    j = events.select(
        "event_id", "user_id", "event_type", doc.alias("doc")
    )

    def trap(name: str, cond: F.Column) -> DataFrame:
        return j.agg(
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.count("*").cast("long").alias("n_rows"),
        ).select(F.lit(name).alias("trap"), "n_pass", "n_rows")

    g = F.get_json_object
    return (
        trap(
            "missing_key_is_null",
            g(F.col("doc"), "$.absent").isNull(),
        )
        .unionAll(
            trap(
                "top_level_int_roundtrip",
                g(F.col("doc"), "$.k")
                == (F.col("event_id") % 100).cast("string"),
            )
        )
        .unionAll(
            trap(
                "nested_path",
                g(F.col("doc"), "$.nested.x")
                == (F.col("user_id") % 10).cast("string"),
            )
        )
        .unionAll(
            trap(
                "array_index",
                g(F.col("doc"), "$.tags[1]") == "t2",
            )
        )
        .unionAll(
            trap(
                "string_with_spaces",
                g(F.col("doc"), "$.s") == "a b",
            )
        )
    )


# ---------------------------------------------------------------------------
# Co-occurrence lift vs the independence null
# ---------------------------------------------------------------------------

_CL_MIN_SUPPORT = 3  # pairs seen in at least this many orders
_CL_TOP = 30


@register(
    "cooccurrence_null_lift",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey % 200 AS item
      FROM lineitem
    ),
    n_orders AS (
      SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM lines
    ),
    item_n AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM lines GROUP BY 1
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM lines a JOIN lines b
        ON b.okey = a.okey AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.n_both,
           ia.n_item AS n_a, ib.n_item AS n_b,
           CAST(p.n_both * o.n * 1000000
                // (ia.n_item * ib.n_item) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN item_n ia ON ia.item = p.item_a
    JOIN item_n ib ON ib.item = p.item_b
    CROSS JOIN n_orders o
    WHERE p.n_both >= {_CL_MIN_SUPPORT}
    ORDER BY lift_micro DESC, item_a, item_b
    LIMIT {_CL_TOP}
    """,
)
def cooccurrence_null_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Co-occurrence lift against the independence null: for item
    pairs sharing an order (items = partkey mod 200 — the engine's
    standard basket granularity), observed joint order count over the
    expectation n_a·n_b/N if the items were independent —
    lift = P(a,b)/(P(a)·P(b)). Lift ≈ 1e6 means 'both merely popular';
    the report keeps the top-30 by lift above a support floor. This
    is the statistic raw co-occurrence counts cannot give (popular
    pairs dominate any count ranking), and the lift column
    ``association_rules_lift`` computes per RULE, here produced for
    the symmetric pair census.

    Scale shape: pair generation is the per-order self-join (bounded
    by lines-per-order, never all-items); item margins and the 1-row
    N broadcast join onto the bounded pair frame; TopK via
    TakeOrdered. Determinism: exact counts, truncating DIV, total
    ordering."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = (
        li.select(
            F.col("l_orderkey").alias("okey"),
            (F.col("l_partkey") % 200).alias("item"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = lines.agg(
        F.countDistinct("okey").cast("long").alias("n")
    )
    item_n = lines.groupBy("item").agg(
        F.count("*").cast("long").alias("n_item")
    )
    a = lines.alias("a")
    b = lines.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.okey") == F.col("a.okey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= _CL_MIN_SUPPORT)
    )
    ia = item_n.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
    )
    ib = item_n.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        # no broadcast hint on per-item counts: item cardinality
        # grows with the corpus — AQE decides (r12 audit)
        pairs.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_both * n * 1000000 DIV (n_a * n_b)"
                " AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "item_a", "item_b")
        .limit(_CL_TOP)
    )


# ---------------------------------------------------------------------------
# Overdispersion index
# ---------------------------------------------------------------------------


@register(
    "overdispersion_index",
    oracle="""
    WITH daily AS (
      SELECT event_type AS series_id,
             date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT series_id,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS total,
           CAST(SUM(c) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro,
           CAST((SUM(c * c) * COUNT(*) - SUM(c) * SUM(c)) * 1000000
                // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_micro,
           CAST((SUM(c * c) * COUNT(*) - SUM(c) * SUM(c)) * 1000000
                // (COUNT(*) * SUM(c)) AS BIGINT)
             AS dispersion_micro
    FROM daily GROUP BY 1
    """,
)
def overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion index of the daily count series: per series, the
    population variance-to-mean ratio D = Var/Mean of daily event
    counts — D ≈ 1e6 is Poisson (what independent arrivals give),
    D ≫ 1e6 is bursty (clustered traffic), D ≪ 1e6 is regular
    (rate-limited). The first diagnostic before ANY rate-based
    alerting, sampling-error bar, or capacity model assumes Poisson
    arithmetic — and on bursty data ``slo_burn_rate_alerts``'
    thresholds need widening by exactly this factor. All moments are
    exact integer sums; variance and dispersion use the n²-scaled
    identity (Σc²·n − (Σc)²) so no intermediate division loses
    precision before the final micro DIV.

    Scale shape: one daily aggregate, one per-series moment rollup —
    two shuffles of shrinking frames. Determinism: exact integer
    moments, truncating DIV."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count("*").cast("long").alias("c"))
    return daily.groupBy("series_id").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
        F.expr("CAST(SUM(c) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "mean_micro"
        ),
        F.expr(
            "CAST((SUM(c * c) * COUNT(*) - SUM(c) * SUM(c)) * 1000000"
            " DIV (COUNT(*) * COUNT(*)) AS BIGINT)"
        ).alias("var_micro"),
        F.expr(
            "CAST((SUM(c * c) * COUNT(*) - SUM(c) * SUM(c)) * 1000000"
            " DIV (COUNT(*) * SUM(c)) AS BIGINT)"
        ).alias("dispersion_micro"),
    )
