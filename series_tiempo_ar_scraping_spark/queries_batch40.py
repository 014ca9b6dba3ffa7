"""Batch-40 queries: value-RANGE window frames, bag-semantics set
operations (INTERSECT ALL / EXCEPT ALL), and the three-valued-logic
audit battery.

Families (each entry hash-oracled; determinism per the established
recipes):

- RANGE frame by VALUE: every other window in the catalog frames by
  ROWS or by time; this one frames by a numeric distance (orders
  within ±$50 of each order's price) — the local-density window that
  needs RANGE BETWEEN <value> PRECEDING AND <value> FOLLOWING, a
  distinct executor code path (frame bounds found by value search,
  not offset).
- INTERSECT ALL / EXCEPT ALL: the BAG-semantics set operations
  (multiplicity min(m, n) and m − n), which the DISTINCT variants the
  catalog already exercises (``customers_in_both_years``,
  ``union_segments``) do NOT cover — and the classic place engines
  disagree silently.
- NULL semantics audit: the three-valued-logic battery — NOT IN vs
  NOT EXISTS over a NULL-bearing subquery, <> vs IS DISTINCT FROM,
  NULL grouping — each as a counted row, so any engine divergence or
  future regression in NULL handling breaks the hash.

Reference parity: the reference's pandas semantics (NaN-tolerant) are
exactly where these traps live; the audit battery is the SQL-side
contract a migrating user needs stated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# RANGE frame by value
# ---------------------------------------------------------------------------

_RV_BAND = 5000  # +/- $50 in cents


@register(
    "range_value_frame_stats",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey,
             o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    dens AS (
      SELECT o_orderkey, priority, cents,
             CAST(COUNT(*) OVER w - 1 AS BIGINT) AS n_neighbors,
             CAST(SUM(cents) OVER w - cents AS BIGINT)
               AS neighbor_cents
      FROM o
      WINDOW w AS (PARTITION BY priority ORDER BY cents
                   RANGE BETWEEN {_RV_BAND} PRECEDING
                   AND {_RV_BAND} FOLLOWING)
    )
    SELECT priority,
           CAST(MAX(n_neighbors) AS BIGINT) AS max_neighbors,
           CAST(SUM(n_neighbors) AS BIGINT) AS total_neighbor_links,
           CAST(SUM(CASE WHEN n_neighbors = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_isolated,
           CAST(SUM(neighbor_cents) // greatest(SUM(n_neighbors), 1)
                AS BIGINT) AS mean_neighbor_cents
    FROM dens GROUP BY 1
    """,
)
def range_value_frame_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price-density window: for every order, the count and value sum
    of OTHER orders in the same priority within ±$50 of its price —
    a RANGE BETWEEN <value> PRECEDING/FOLLOWING frame (bounds located
    by VALUE on the sorted partition, not by row offset — the one
    window frame kind the catalog didn't exercise), rolled up per
    priority (max density, isolated-order count, mean neighbor
    value). The windowed form of a band self-join: the sort-based
    frame does in O(n log n) what the naive ±band self-join does in
    O(n²) — the same scale argument as ``range_join_purchase_context``
    but expressed as a frame, which keeps it single-pass and
    shuffle-co-located with the priority partitioning.

    Scale shape: one window pass per priority partition (sorted once),
    one rollup; no joins. Determinism: exact cents, exact counts,
    truncating DIV."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("cents")
        .rangeBetween(-_RV_BAND, _RV_BAND)
    )
    dens = o.select(
        "priority",
        (F.count("*").over(w) - 1).cast("long").alias("n_neighbors"),
        (F.sum("cents").over(w) - F.col("cents"))
        .cast("long")
        .alias("neighbor_cents"),
    )
    return dens.groupBy("priority").agg(
        F.max("n_neighbors").cast("long").alias("max_neighbors"),
        F.sum("n_neighbors").cast("long").alias("total_neighbor_links"),
        F.sum(F.when(F.col("n_neighbors") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_isolated"),
        F.expr(
            "CAST(SUM(neighbor_cents)"
            " DIV greatest(SUM(n_neighbors), 1) AS BIGINT)"
        ).alias("mean_neighbor_cents"),
    )


# ---------------------------------------------------------------------------
# INTERSECT ALL / EXCEPT ALL (bag semantics)
# ---------------------------------------------------------------------------


@register(
    "set_ops_bag_semantics",
    oracle="""
    WITH fh AS (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderstatus = 'F'
    ),
    oh AS (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderstatus = 'O'
    ),
    i AS (SELECT custkey FROM fh INTERSECT ALL SELECT custkey FROM oh),
    x AS (SELECT custkey FROM fh EXCEPT ALL SELECT custkey FROM oh)
    SELECT 'intersect_all' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_keys
    FROM i
    UNION ALL
    SELECT 'except_all',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT custkey) AS BIGINT)
    FROM x
    UNION ALL
    SELECT 'intersect_distinct',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT custkey FROM fh INTERSECT SELECT custkey FROM oh)
    UNION ALL
    SELECT 'except_distinct',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT custkey FROM fh EXCEPT SELECT custkey FROM oh)
    """,
)
def set_ops_bag_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bag-semantics set operations, proven against their DISTINCT
    twins in one report: the fulfilled-order customer bag INTERSECT
    ALL / EXCEPT ALL the open-order customer bag (multiplicities
    min(m,n) and m−n — a customer with 3 'F' and 2 'O' orders
    contributes 2 rows to the intersection and 1 to the difference),
    beside the set-semantics counts. This is the operator pair
    ``customers_in_both_years`` (distinct-only) does not cover, and a
    classic engine-divergence spot — hash-gating both multiplicity
    columns pins the bag algebra itself.

    Scale shape: Spark plans INTERSECT ALL/EXCEPT ALL as counted
    aggregates + a generate (no pairwise join): two groupBys on the
    same key reuse one shuffle under AQE. Determinism: exact counts.
    """
    orders = load_table(spark, sf_dir, "orders")
    fh = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    oh = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )

    def stats(df: DataFrame, op: str, distinct_twin: bool) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            (
                F.count("*")
                if distinct_twin
                else F.countDistinct("custkey")
            )
            .cast("long")
            .alias("n_keys"),
        ).select(F.lit(op).alias("op"), "n_rows", "n_keys")

    return (
        stats(fh.intersectAll(oh), "intersect_all", False)
        .unionAll(stats(fh.exceptAll(oh), "except_all", False))
        .unionAll(stats(fh.intersect(oh), "intersect_distinct", True))
        .unionAll(stats(fh.subtract(oh), "except_distinct", True))
    )


# ---------------------------------------------------------------------------
# NULL / three-valued-logic audit battery
# ---------------------------------------------------------------------------


@register(
    "null_semantics_audit",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN NULL
                  ELSE c_nationkey END AS nk
      FROM customer
    ),
    probe AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 7 = 0 THEN NULL
                  ELSE n_nationkey END AS pk
      FROM nation
    )
    SELECT 'not_in_with_nulls' AS trap,
           CAST((SELECT COUNT(*) FROM c
                 WHERE nk NOT IN (SELECT pk FROM probe)) AS BIGINT)
             AS n_rows
    UNION ALL
    SELECT 'not_exists_same_predicate',
           CAST((SELECT COUNT(*) FROM c
                 WHERE NOT EXISTS (SELECT 1 FROM probe
                                   WHERE probe.pk = c.nk)) AS BIGINT)
    UNION ALL
    SELECT 'neq_null_comparison',
           CAST((SELECT COUNT(*) FROM c WHERE nk <> 3) AS BIGINT)
    UNION ALL
    SELECT 'is_distinct_from',
           CAST((SELECT COUNT(*) FROM c
                 WHERE nk IS DISTINCT FROM 3) AS BIGINT)
    UNION ALL
    SELECT 'null_group_rows',
           CAST((SELECT COUNT(*) FROM c WHERE nk IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'null_groups_counted_once',
           CAST((SELECT COUNT(*) FROM
                 (SELECT nk FROM c GROUP BY nk) WHERE nk IS NULL)
                AS BIGINT)
    """,
)
def null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic audit battery, each trap a counted row:
    (1) NOT IN against a NULL-bearing list returns ZERO rows — the
    single most-reported SQL migration bug — while (2) NOT EXISTS
    with the identical predicate returns the intuitive complement;
    (3) ``<>`` drops NULL rows where (4) IS DISTINCT FROM keeps them;
    (5/6) GROUP BY collects all NULLs into ONE group. Pinning all six
    counts in one hash-gated report makes the engine's NULL contract
    explicit — the reference's pandas semantics (NaN != NaN in joins,
    NaN groups dropped by default) differ on several of these, which
    is exactly what a migrating user needs stated (base.py's
    fillna/dropna call sites).

    Scale shape: every trap is a filtered count over the same planted-
    NULL projection (the NOT IN compiles to a null-aware anti join —
    broadcast here; the 25-row probe side always broadcasts).
    Determinism: exact counts over deterministic planted NULLs."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    c = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    ).localCheckpoint(eager=False)
    probe = nat.select(
        F.when(F.col("n_nationkey") % 7 == 0, None)
        .otherwise(F.col("n_nationkey"))
        .alias("pk")
    ).localCheckpoint(eager=False)
    c.createOrReplaceTempView("_nsa_c")
    probe.createOrReplaceTempView("_nsa_probe")

    def row(trap: str, sql: str) -> DataFrame:
        return spark.sql(
            f"SELECT '{trap}' AS trap, CAST(({sql}) AS BIGINT) AS n_rows"
        )

    return (
        row(
            "not_in_with_nulls",
            "SELECT COUNT(*) FROM _nsa_c"
            " WHERE nk NOT IN (SELECT pk FROM _nsa_probe)",
        )
        .unionAll(
            row(
                "not_exists_same_predicate",
                "SELECT COUNT(*) FROM _nsa_c c"
                " WHERE NOT EXISTS (SELECT 1 FROM _nsa_probe p"
                " WHERE p.pk = c.nk)",
            )
        )
        .unionAll(
            row(
                "neq_null_comparison",
                "SELECT COUNT(*) FROM _nsa_c WHERE nk <> 3",
            )
        )
        .unionAll(
            row(
                "is_distinct_from",
                "SELECT COUNT(*) FROM _nsa_c"
                " WHERE NOT (nk <=> 3)",
            )
        )
        .unionAll(
            row(
                "null_group_rows",
                "SELECT COUNT(*) FROM _nsa_c WHERE nk IS NULL",
            )
        )
        .unionAll(
            row(
                "null_groups_counted_once",
                "SELECT COUNT(*) FROM"
                " (SELECT nk FROM _nsa_c GROUP BY nk) WHERE nk IS NULL",
            )
        )
    )
