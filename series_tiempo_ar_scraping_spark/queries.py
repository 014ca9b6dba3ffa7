"""Query catalog, first module — the engine's headline queries with DuckDB
oracles.

Every entry maps a SURVEY §2 operator (or an LLM-pipeline extension) onto
the driver-generated tables (TESTDATA.md). Entries register into
``registry`` (see its docstring for the determinism rules); the later
``queries_*`` modules extend the catalog, and ``registry.load_queries()``
loads them all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.scalars import (
    cell_coord_row,
    file_extension,
    missing_to_null,
    strip_spaces,
    url_basename,
)
from series_tiempo_ar_scraping_spark.registry import (
    _PRICE_DEC,
    _RATE_DEC,
    DEC,
    det_round,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table


def _revenue_dec() -> F.Column:
    price = F.col("l_extendedprice").cast(_PRICE_DEC)
    disc = F.col("l_discount").cast(_RATE_DEC)
    return price * (F.lit(1) - disc)


# ---------------------------------------------------------------------------
# Aggregation core (SURVEY A3-A5, X10) — flagship
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
      CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100 AS DOUBLE) AS avg_qty,
      CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100 AS DOUBLE) AS avg_price,
      CAST(FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS DOUBLE) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary — the engine's A3/A4/A5
    indicator aggregations (``base.py:978-1018``) at fact-table scale.

    Scale notes: single hash aggregate, partial+final combine; decimal sums
    for exactness; predicate pushes to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_PRICE_DEC)
    price = F.col("l_extendedprice").cast(_PRICE_DEC)
    disc = F.col("l_discount").cast(_RATE_DEC)
    tax = F.col("l_tax").cast(_RATE_DEC)
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            det_round(F.sum(qty).cast("double") / F.count("*"), 2).alias("avg_qty"),
            det_round(F.sum(price).cast("double") / F.count("*"), 2).alias("avg_price"),
            det_round(F.sum(disc).cast("double") / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return out


@register(
    "q03_revenue_topk",
    oracle="""
    SELECT
      o.o_orderkey,
      CAST(o.o_orderdate AS DATE) AS o_orderdate,
      o.o_orderpriority,
      CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q03_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k revenue orders for one market segment (SURVEY §2.7 notes the
    reference has no top-k; Spark's ``TakeOrderedAndProject`` makes it free).

    Scale notes: lineitem→orders is the real shuffle, on the join key.
    Customer is NOT force-broadcast: below the autoBroadcastJoinThreshold
    it broadcasts anyway; at 100 TB (10⁸ customers) forcing it would OOM
    executors — size-based selection + AQE pick the right strategy at
    either scale. Top-k never materializes the full sort
    (per-partition heaps + driver merge).
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q05_region_revenue",
    oracle="""
    SELECT
      n.n_name,
      CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query (J2 chain — metadata-dim lookups at fact scale,
    ``base.py:119-121,313-314`` recast relationally).

    Scale notes: nation/region are bounded dims (≤25 rows at ANY scale) →
    explicit broadcast; customer/supplier grow with the data, so join
    selection stays size-based (auto-broadcast when small, shuffle hash
    when not — forcing a 10⁸-row broadcast would OOM a real cluster).
    Only lineitem⋈orders is an unavoidable fact-fact shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (F1, F2)
# ---------------------------------------------------------------------------

@register(
    "semi_orders_with_big_lineitem",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
    )
    GROUP BY o_orderpriority
    """,
)
def semi_orders_with_big_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 semantics (time-series-distribution filter, ``base.py:478-487``)
    as a semi-join: orders having at least one qualifying child row."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "anti_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    GROUP BY c_mktsegment
    """,
)
def anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 semantics (harvestable filter = anti-join vs error set,
    ``base.py:455-463``)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Filters / routing / scalar suite (F3-F5, X1-X8)
# ---------------------------------------------------------------------------

@register(
    "filter_purchase_events",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value > 100
    """,
)
def filter_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — equality/range predicate, pushdown-able to the parquet scan
    (``base.py:483-486``; verify with .explain → PushedFilters)."""
    return (
        load_table(spark, sf_dir, "events")
        # threshold chosen to SELECT rows at every scale factor — a
        # predicate matching nothing compares empty-vs-empty and
        # verifies neither pushdown nor the comparison
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("event_id", "user_id", "value")
    )


_ROUTE_URL_SQL = """
      source || '/file_' || CAST(doc_id AS VARCHAR) ||
      CASE doc_id % 4 WHEN 0 THEN '.csv' WHEN 1 THEN '.txt'
                      WHEN 2 THEN '.xlsx' ELSE '.bin' END
"""


@register(
    "route_distribution_method",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, {_ROUTE_URL_SQL} AS url FROM documents
    )
    SELECT
      CASE lower(split_part(url, '.', -1))
        WHEN 'csv' THEN 'csv' WHEN 'txt' THEN 'txt'
        WHEN 'xlsx' THEN 'excel' WHEN 'xls' THEN 'excel'
        ELSE 'unknown' END AS method,
      COUNT(*) AS n,
      COUNT(DISTINCT split_part(url, '/', -1)) AS n_files
    FROM urls
    GROUP BY 1
    """,
)
def route_distribution_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 + X3/X4 — scraping-method routing by file extension
    (``base.py:123-153``) over synthesized URLs, plus basename dedup (A1,
    ``base.py:546-572``)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.col("source"),
        F.lit("/file_"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, ".csv")
        .when(F.col("doc_id") % 4 == 1, ".txt")
        .when(F.col("doc_id") % 4 == 2, ".xlsx")
        .otherwise(".bin"),
    )
    ext = file_extension(url)
    method = (
        F.when(ext == "csv", "csv")
        .when(ext == "txt", "txt")
        .when(ext.isin("xls", "xlsx"), "excel")
        .otherwise("unknown")
    )
    return (
        docs.select(
            method.alias("method"), url_basename(url).alias("basename")
        )
        .groupBy("method")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("basename").alias("n_files"),
        )
    )


@register(
    "scalar_suite",
    oracle="""
    SELECT
      doc_id,
      CAST(regexp_extract('A' || CAST(doc_id + 5 AS VARCHAR), '^[A-Za-z]+(\\d+)$', 1) AS INTEGER) AS coord_row,
      replace(substr(text, 1, 24), ' ', '') AS squeezed,
      CASE doc_id % 5
        WHEN 0 THEN CAST(NULL AS DOUBLE)
        WHEN 1 THEN CAST(NULL AS DOUBLE)
        WHEN 2 THEN 1234.5
        WHEN 3 THEN CAST(NULL AS DOUBLE)
        ELSE 42.0 END AS cleansed
    FROM documents
    """,
)
def scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (coord parse) + X6 (space strip) + X8 (missing-token → null) in
    one projection; the Spark side uses the real engine expressions, the
    oracle states the expected results directly."""
    docs = load_table(spark, sf_dir, "documents")
    token = (
        F.when(F.col("doc_id") % 5 == 0, "s.d.")
        .when(F.col("doc_id") % 5 == 1, "")
        .when(F.col("doc_id") % 5 == 2, "1234.5")
        .when(F.col("doc_id") % 5 == 3, "x")
        .otherwise("42")
    )
    coord = F.concat(F.lit("A"), (F.col("doc_id") + 5).cast("string"))
    return docs.select(
        "doc_id",
        cell_coord_row(coord).alias("coord_row"),
        strip_spaces(F.substring("text", 1, 24)).alias("squeezed"),
        missing_to_null(token).alias("cleansed"),
    )


# ---------------------------------------------------------------------------
# Distincts, unions, status aggregations (A1-A5, O1, U1/U2)
# ---------------------------------------------------------------------------

@register(
    "distinct_doc_sources",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def distinct_doc_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/U2 — dedup before download (``base.py:546-572``)."""
    return load_table(spark, sf_dir, "documents").select("lang", "source").distinct()


@register(
    "count_by_status",
    oracle="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
)
def count_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — count-by-status indicator (``base.py:978-992``)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "ok_percentage_by_priority",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(FLOOR(100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / COUNT(*) * 1000 + 0.5) / 1000 AS DOUBLE) AS ok_pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def ok_percentage_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — OK-percentage with zero-division guard (``base.py:994-1005``)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            det_round(
                100.0
                * F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
                / F.count("*"),
                3,
            ).alias("ok_pct")
        )
    )


@register(
    "indicator_assembly",
    oracle="""
    SELECT
      COUNT(*) AS distributions,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS distributions_ok,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS distributions_error,
      CAST(FLOOR(100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / COUNT(*) * 1000 + 0.5) / 1000 AS DOUBLE) AS distributions_percentage
    FROM orders
    """,
)
def indicator_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — the multi-metric indicator record in one aggregation pass
    (``base.py:1007-1018``)."""
    return load_table(spark, sf_dir, "orders").agg(
        F.count("*").alias("distributions"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "distributions_ok"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias(
            "distributions_error"
        ),
        det_round(
            100.0
            * F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            / F.count("*"),
            3,
        ).alias("distributions_percentage"),
    )


@register(
    "status_sort",
    oracle="""
    SELECT
      o_orderpriority,
      CASE o_orderpriority
        WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1 ELSE 2 END AS sort_key,
      COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def status_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — expression-keyed categorical sort (``base.py:903-913``); the
    sort key is materialized as a column (row hashing is order-insensitive,
    so the *key* is the checkable artifact)."""
    key = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 0)
        .when(F.col("o_orderpriority") == "2-HIGH", 1)
        .otherwise(2)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .withColumn("sort_key", key)
        .orderBy("sort_key", "o_orderpriority")
    )


@register(
    "union_segments",
    oracle="""
    SELECT DISTINCT c_custkey, c_mktsegment FROM (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
      UNION ALL
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 — unionByName + distinct (``processors.py:139-140`` concat /
    ``base.py:519-528`` set-dedup)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_mktsegment"
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# Series alignment / full-outer (J1) and windows / validation (V4, §2.6)
# ---------------------------------------------------------------------------

@register(
    "align_daily_activity",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), e AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT COALESCE(o.d, e.d) AS d, o.n_orders, e.n_events
    FROM o FULL OUTER JOIN e ON o.d = e.d
    """,
)
def align_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the ``pd.concat(axis=1)`` alignment (``processors.py:139-140``)
    as an explicit full-outer equi-join on the time index: union of
    timestamps, NULLs where one side is absent."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        o.join(e, on="d", how="full_outer")
        .select("d", "n_orders", "n_events")
    )


@register(
    "series_gap_check",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT
      user_id,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN ts = prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate_ts,
      CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
      MAX(CASE WHEN prev_ts IS NOT NULL
               THEN CAST(date_diff('second', prev_ts, ts) AS BIGINT) END) AS max_gap_s
    FROM ordered
    GROUP BY user_id
    """,
)
def series_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 — monotonic / duplicate-free / gap checks per series recast as
    window + aggregate (series-tiempo-ar ``validate_distribution`` invoked
    at ``base.py:251-264``); events stands in as (user_id=series, ts).

    Scale notes: window partitions by series key — well-distributed, no
    global sort; the reference validates one pandas frame at a time, this
    validates every series in one pass."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load_table(spark, sf_dir, "events").withColumn(
        "prev_ts", F.lag("ts").over(w)
    )
    # timestampdiff TRUNCATES elapsed time, while DuckDB date_diff('second',…)
    # counts second-boundary crossings — they disagree whenever a gap's
    # sub-second parts straddle a boundary (1800.886 s → 1800 vs 1801).
    # date_trunc('second') on BOTH operands makes timestampdiff count
    # boundary crossings too; it stays NTZ-safe (numeric casts are not).
    gap_s = F.expr(
        "timestampdiff(SECOND, date_trunc('second', prev_ts), date_trunc('second', ts))"
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("ts") == F.col("prev_ts"), 1).otherwise(0)).alias(
            "n_duplicate_ts"
        ),
        F.sum(F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)).alias(
            "n_out_of_order"
        ),
        F.max(
            F.when(F.col("prev_ts").isNotNull(), gap_s)
        ).alias("max_gap_s"),
    )


@register(
    "rolling_value_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w * 100 + 0.5) / 100 AS DOUBLE) AS roll_avg
    FROM events
    WHERE event_type = 'view'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 extension — rolling mean over a per-series ordered window (the
    natural Spark home for the reference's per-series computations)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            "user_id",
            det_round(
                F.sum(F.col("value").cast(_PRICE_DEC)).over(w).cast("double")
                / F.count("*").over(w),
                2,
            ).alias("roll_avg"),
        )
    )


@register(
    "tumbling_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — tumbling-window aggregation; the batch shape of the
    streaming layer (same ``window()`` call works under readStream with a
    watermark — see streaming/events.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").start.alias("bucket"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


@register(
    "resample_gapfill_daily",
    oracle="""
    WITH agg AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM agg GROUP BY 1
    ), cal AS (
      SELECT s.event_type, CAST(gs.g AS DATE) AS d
      FROM spans s, LATERAL (
        SELECT UNNEST(generate_series(CAST(s.lo AS TIMESTAMP), CAST(s.hi AS TIMESTAMP), INTERVAL 1 DAY)) AS g
      ) gs
    )
    SELECT cal.event_type, cal.d, COALESCE(agg.n, 0) AS n
    FROM cal LEFT JOIN agg ON agg.event_type = cal.event_type AND agg.d = cal.d
    """,
)
def resample_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + gap-fill (frequency-conformity machinery, V4 /
    SURVEY §4 custom-work 2): per key, a generated daily calendar between
    min and max, left-joined to the observed counts, absent days → 0.

    Built on ``sequence()`` + ``explode`` — JVM-side, bounded per key."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    spans = agg.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    cal = spans.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d"),
    )
    return cal.join(agg, on=["event_type", "d"], how="left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )


@register(
    "asof_last_click_before_purchase",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT MAX(c.ts) FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join — absent from both the reference and core
    Spark (SURVEY §2.4 'absent' list); implemented scalably as union + sorted
    window with last-non-null carry-forward, NOT a per-row range join.

    Scale notes: one shuffle on user_id, linear scan per partition —
    survives arbitrary fact sizes; the correlated-subquery oracle is the
    spec, not the plan."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(1).alias("is_click")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.lit(0).alias("is_click"),
        "event_id",
    )
    unioned = clicks.withColumn("event_id", F.lit(None).cast("long")).unionByName(
        purchases
    )
    # Order clicks before purchases at equal ts so `<=` semantics hold.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ev_ts"), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_click") == 1, F.col("ev_ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_click") == 0).select(
        "event_id", "user_id", F.col("ev_ts").alias("ts"), "last_click_ts"
    )

