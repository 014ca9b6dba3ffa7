"""Batch-47 queries: A/A-test calibration, order-statistic median
confidence intervals, and the quantile treatment effect.

Families (each entry hash-oracled; determinism per the established
recipes):

- A/A calibration: run the two-sample z machinery on EIGHT splits
  known to be null (both arms drawn from the same population by
  independent seeded hashes) — the meta-test that validates the
  experimentation stack itself: if A/A rejects much more often than
  α, every A/B verdict from the same stack is suspect.
- Median CI by order statistics: the distribution-free confidence
  interval for the median — ranks n/2 ∓ z/2·√n, values read off the
  sorted sample — the robust-uncertainty row that needs NO normality
  assumption (the robust sibling of ``wilson_rate_intervals``).
- Quantile treatment effect: the difference of ARM MEDIANS under a
  seeded assignment — the causal-lane row that survives heavy tails
  where ``stratified_treatment_effect``'s mean difference is hostage
  to outliers (see ``hill_tail_index`` for when that matters).

Reference parity: the statistics/eval lane — calibration, robust
uncertainty, robust effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# A/A-test calibration
# ---------------------------------------------------------------------------

_AA_SEEDS = tuple(range(9101, 9109))  # eight independent null splits


def _aa_split_sql(seed: int) -> str:
    h = _hex60_seeded(str(seed), "CAST(user_id AS VARCHAR)")
    return f"""
      SELECT {seed} AS seed,
             CAST(COUNT(*) - SUM(arm) AS BIGINT) AS n0,
             CAST(SUM(arm) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               AS s0,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END)
                  AS BIGINT) AS q0,
             CAST(SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END)
                  AS BIGINT) AS q1
      FROM (
        SELECT CAST({h} % 2 AS INTEGER) AS arm,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY user_id, 1
      )
    """


_AA_Z_EXPR = """(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
  / sqrt(
      (CAST(q0 AS DOUBLE) / n0
       - (CAST(s0 AS DOUBLE) / n0) * (CAST(s0 AS DOUBLE) / n0)) / n0
      + (CAST(q1 AS DOUBLE) / n1
         - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)) / n1
    )"""


@register(
    "aa_test_calibration",
    oracle=f"""
    WITH splits AS (
      {' UNION ALL '.join(_aa_split_sql(s) for s in _AA_SEEDS)}
    ),
    scored AS (
      SELECT seed, n0, n1,
             CAST(FLOOR(({_AA_Z_EXPR}) * 1000 + 0.5) AS BIGINT)
               AS z_milli
      FROM splits
    )
    SELECT seed, n0, n1, z_milli,
           CAST(CASE WHEN ABS(z_milli) > 1960 THEN 1 ELSE 0 END
                AS INT) AS rejected,
           CAST(SUM(CASE WHEN ABS(z_milli) > 1960 THEN 1 ELSE 0 END)
                  OVER () AS BIGINT) AS total_rejections
    FROM scored
    """,
)
def aa_test_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test calibration: the Welch-style two-sample z statistic on
    per-user activity, computed for EIGHT independent seeded splits of
    the SAME population — every null by construction, so at α = 0.05
    the expected rejection count is 0.4 and more than a couple flags a
    broken stack (dependent units, bad variance, hash bias). This is
    the meta-row every experimentation platform publishes before
    anyone trusts ``ab_test_mean_diff`` or ``sprt_sequential_test``
    verdicts. Moments are EXACT integer sums (Σy, Σy²); the z is one
    fixed double op tree over them, milli-floored.

    Scale shape: one per-user rollup feeds eight 1-row split
    aggregates (each a conditional-sum pass over the same frame —
    at fleet scale these fold into ONE aggregate with 8×4 conditional
    counters); the verdicts live on an 8-row frame. Determinism:
    hash splits, exact moments, fixed op tree, milli flooring."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("y")
    ).localCheckpoint(eager=False)
    out = None
    for seed in _AA_SEEDS:
        arm = (
            hash64_seeded(F.col("user_id").cast("string"), seed) % 2
        ).cast("int")
        split = per_user.select(arm.alias("arm"), "y").agg(
            (F.count("*") - F.sum("arm")).cast("long").alias("n0"),
            F.sum("arm").cast("long").alias("n1"),
            F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
            .cast("long")
            .alias("s0"),
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
            .cast("long")
            .alias("s1"),
            F.sum(
                F.when(
                    F.col("arm") == 0, F.col("y") * F.col("y")
                ).otherwise(0)
            )
            .cast("long")
            .alias("q0"),
            F.sum(
                F.when(
                    F.col("arm") == 1, F.col("y") * F.col("y")
                ).otherwise(0)
            )
            .cast("long")
            .alias("q1"),
        ).select(F.lit(seed).alias("seed"), "*")
        out = split if out is None else out.unionAll(split)
    scored = out.select(
        "seed",
        "n0",
        "n1",
        F.floor(F.expr(_AA_Z_EXPR) * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("z_milli"),
    )
    w = Window.partitionBy()
    return scored.select(
        "seed",
        "n0",
        "n1",
        "z_milli",
        F.expr(
            "CAST(CASE WHEN ABS(z_milli) > 1960 THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("rejected"),
        F.sum(
            F.expr("CASE WHEN ABS(z_milli) > 1960 THEN 1 ELSE 0 END")
        )
        .over(w)
        .cast("long")
        .alias("total_rejections"),
    )


# ---------------------------------------------------------------------------
# Median confidence interval by order statistics
# ---------------------------------------------------------------------------


@register(
    "median_ci_order_stats",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey)
               AS rn
      FROM orders
    ),
    stats AS (
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
             (COUNT(*) + 1) // 2 AS r_med,
             greatest((COUNT(*) + 1) // 2
                      - CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))
                                   * 98 / 100) AS BIGINT), 1) AS r_lo,
             least((COUNT(*) + 1) // 2
                   + CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))
                                * 98 / 100) AS BIGINT),
                   COUNT(*)) AS r_hi
      FROM o GROUP BY 1
    )
    SELECT s.priority, s.n,
           m.cents AS median_cents,
           lo.cents AS ci_lo_cents,
           hi.cents AS ci_hi_cents
    FROM stats s
    JOIN o m ON m.priority = s.priority AND m.rn = s.r_med
    JOIN o lo ON lo.priority = s.priority AND lo.rn = s.r_lo
    JOIN o hi ON hi.priority = s.priority AND hi.rn = s.r_hi
    """,
)
def median_ci_order_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free 95% confidence interval for the median order
    value per priority, by ORDER STATISTICS: the lower median sits at
    rank (n+1)÷2, and the CI endpoints at ranks (n+1)÷2 ∓
    ⌊0.98·√n⌋ (the binomial normal approximation z/2·√n with
    z = 1.96) — values read straight off the sorted sample, no
    normality assumed anywhere. The robust-uncertainty twin of
    ``wilson_rate_intervals`` (rates) for a LOCATION statistic, and
    the interval that stays honest under the heavy tails
    ``hill_tail_index`` diagnoses.

    Scale shape: one rank window per priority partition, a 5-row
    stats frame, three rank-lookup joins against the ranked frame
    (equi-joins on (priority, rn) — at fleet scale these are the
    bounded side of a broadcast). Determinism: exact cents,
    (price, orderkey) total order, IEEE sqrt floored to an integer
    rank offset."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.row_number()
        .over(
            Window.partitionBy("o_orderpriority").orderBy(
                "o_totalprice", "o_orderkey"
            )
        )
        .alias("rn"),
    ).localCheckpoint(eager=False)
    stats = o.groupBy("priority").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("(COUNT(*) + 1) DIV 2").alias("r_med"),
        F.expr(
            "greatest((COUNT(*) + 1) DIV 2"
            " - CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))"
            " * 98 / 100) AS BIGINT), 1)"
        ).alias("r_lo"),
        F.expr(
            "least((COUNT(*) + 1) DIV 2"
            " + CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))"
            " * 98 / 100) AS BIGINT), COUNT(*))"
        ).alias("r_hi"),
    )
    j = o.join(F.broadcast(stats), "priority")
    return j.groupBy("priority").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(F.col("rn") == F.col("r_med"), F.col("cents"))
        )
        .cast("long")
        .alias("median_cents"),
        F.max(
            F.when(F.col("rn") == F.col("r_lo"), F.col("cents"))
        )
        .cast("long")
        .alias("ci_lo_cents"),
        F.max(
            F.when(F.col("rn") == F.col("r_hi"), F.col("cents"))
        )
        .cast("long")
        .alias("ci_hi_cents"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effect
# ---------------------------------------------------------------------------

_QTE_SEED = 5151


@register(
    "quantile_treatment_effect",
    oracle=f"""
    WITH assigned AS (
      SELECT o_orderpriority AS priority,
             CAST({_hex60_seeded(str(_QTE_SEED),
                                 'CAST(o_custkey AS VARCHAR)')} % 2
                  AS INTEGER) AS arm,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT priority, arm, cents,
             row_number() OVER (PARTITION BY priority, arm
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY priority, arm) AS n
      FROM assigned
    ),
    med AS (
      SELECT priority, arm, n, cents AS med_cents
      FROM ranked WHERE rn = (n + 1) // 2
    )
    SELECT a.priority,
           a.n AS n_control, b.n AS n_treated,
           a.med_cents AS median_control_cents,
           b.med_cents AS median_treated_cents,
           CAST(b.med_cents - a.med_cents AS BIGINT) AS qte_cents
    FROM med a JOIN med b
      ON b.priority = a.priority AND a.arm = 0 AND b.arm = 1
    """,
)
def quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effect at the median, per priority: orders
    assigned to arms by a seeded customer hash, each arm's exact
    (lower) median order value read off its rank order, and the
    effect as the MEDIAN DIFFERENCE — the causal estimate that is
    immune to the heavy tail that can swing
    ``stratified_treatment_effect``'s mean difference (one whale
    order moves a mean, never a median). On this null assignment the
    QTE should hover near zero — asserted in tests, making the entry
    double as a calibration row for the quantile machinery.

    Scale shape: one rank window per (priority, arm) partition, the
    median selection is a rank filter (no sort survives the
    window), a 10-row median frame self-joined on priority.
    Determinism: hash arms, exact cents, total rank order."""
    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (
            hash64_seeded(
                F.col("o_custkey").cast("string"), _QTE_SEED
            )
            % 2
        )
        .cast("int")
        .alias("arm"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    wpa = Window.partitionBy("priority", "arm")
    ranked = assigned.select(
        "priority",
        "arm",
        "cents",
        F.row_number()
        .over(wpa.orderBy("cents", "o_orderkey"))
        .alias("rn"),
        F.count("*").over(wpa).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) DIV 2")
    ).select("priority", "arm", "n", F.col("cents").alias("med_cents"))
    a = med.filter(F.col("arm") == 0).select(
        "priority",
        F.col("n").alias("n_control"),
        F.col("med_cents").alias("median_control_cents"),
    )
    b = med.filter(F.col("arm") == 1).select(
        "priority",
        F.col("n").alias("n_treated"),
        F.col("med_cents").alias("median_treated_cents"),
    )
    return a.join(b, "priority").select(
        "priority",
        "n_control",
        "n_treated",
        "median_control_cents",
        "median_treated_cents",
        (
            F.col("median_treated_cents")
            - F.col("median_control_cents")
        )
        .cast("long")
        .alias("qte_cents"),
    )
