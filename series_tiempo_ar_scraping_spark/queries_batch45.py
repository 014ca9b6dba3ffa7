"""Batch-45 queries: max-min fair allocation (water-filling), SLO
multiwindow burn-rate alerts, and the sessionization-gap parameter
sweep.

Families (each entry hash-oracled; determinism per the established
recipes):

- Max-min fairness (progressive filling): allocate a fixed ingestion
  budget across sources so no source can gain without a smaller one
  losing — the closed form needs ONE sort + prefix sums (the water
  level is where cumulative demand crosses capacity), not the naive
  iterative filling loop. The multi-tenant quota math every shared
  pipeline runs.
- Burn-rate alerts (the SRE workbook's multiwindow policy): per-hour
  error-budget burn over a 1 h and a trailing 6 h window, paging only
  when BOTH exceed their thresholds — fast windows catch cliffs,
  slow windows stop flapping.
- Session-gap sweep: session counts under 10/30/60-minute inactivity
  gaps from ONE lag pass (a session boundary at gap g is a superset
  of boundaries at g' > g, so all three counts are conditional sums
  over the same diffs) — the parameter-sensitivity table behind
  ``sessionize_events``'s fixed 30-minute choice.

Reference parity: the ops/capacity report lane over the same tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# Max-min fair allocation (water-filling)
# ---------------------------------------------------------------------------


@register(
    "maxmin_fair_allocation",
    oracle="""
    WITH demand AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS d
      FROM documents GROUP BY 1
    ),
    cap AS (
      SELECT CAST(SUM(d) // 2 AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(d) AS BIGINT) AS dmax
      FROM demand
    ),
    ranked AS (
      SELECT source, d,
             row_number() OVER (ORDER BY d, source) AS i,
             SUM(d) OVER (ORDER BY d, source
                          ROWS UNBOUNDED PRECEDING) AS prefix
      FROM demand
    ),
    feas AS (
      SELECT r.*, cap.c, cap.n, cap.dmax,
             CASE WHEN r.prefix + r.d * (cap.n - r.i) <= cap.c
                  THEN 1 ELSE 0 END AS feasible
      FROM ranked r CROSS JOIN cap
    ),
    lvl AS (
      SELECT MAX(CASE WHEN feasible = 1 THEN i ELSE 0 END) AS istar,
             MAX(c) AS c, MAX(n) AS n, MAX(dmax) AS dmax,
             MAX(CASE WHEN feasible = 1 THEN prefix ELSE 0 END)
               AS pstar
      FROM feas
    ),
    level AS (
      SELECT CASE WHEN istar >= n THEN dmax
                  ELSE (c - pstar) // (n - istar) END AS water,
             istar, c
      FROM lvl
    )
    SELECT f.source, f.d AS demand,
           CAST(least(f.d, l.water) AS BIGINT) AS allocation,
           CAST(CASE WHEN f.d <= l.water THEN 1 ELSE 0 END AS INT)
             AS fully_satisfied,
           CAST(l.water AS BIGINT) AS water_level
    FROM feas f CROSS JOIN level l
    """,
)
def maxmin_fair_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Max-min fair (water-filling) allocation of an ingestion budget
    of half the corpus across sources: sources demanding less than the
    water level get everything; the rest are capped at the level,
    which is computed in CLOSED FORM — sort demands, prefix-sum, find
    the largest rank i* where granting the i smallest demands in full
    stays feasible (prefix + d_i·(n−i) ≤ C), then
    level = (C − prefix_{i*}) ÷ (n − i*). One sort replaces the
    textbook's iterative progressive-filling loop — the fairness
    criterion of RFC 7806 / cluster schedulers, as a single window
    pass. Truncating DIV leaves < (n − i*) units unallocated, exactly
    like integer quota systems do.

    Scale shape: one groupBy builds the bounded demand frame; the
    sort/prefix window and the 1-row capacity broadcast run on
    |sources| rows. Determinism: exact counts, (d, source) total
    order, truncating DIV."""
    docs = load_table(spark, sf_dir, "documents")
    demand = (
        docs.groupBy("source")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    cap = demand.agg(
        F.expr("CAST(SUM(d) DIV 2 AS BIGINT)").alias("c"),
        F.count("*").cast("long").alias("n"),
        F.max("d").cast("long").alias("dmax"),
    )
    w = Window.orderBy("d", "source")
    ranked = demand.select(
        "source",
        "d",
        F.row_number().over(w).alias("i"),
        F.sum("d")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
    )
    feas = ranked.crossJoin(F.broadcast(cap)).withColumn(
        "feasible",
        F.expr(
            "CASE WHEN prefix + d * (n - i) <= c THEN 1 ELSE 0 END"
        ),
    )
    lvl = feas.agg(
        F.max(F.when(F.col("feasible") == 1, F.col("i")).otherwise(0)).alias(
            "istar"
        ),
        F.max("c").alias("c"),
        F.max("n").alias("n"),
        F.max("dmax").alias("dmax"),
        F.max(
            F.when(F.col("feasible") == 1, F.col("prefix")).otherwise(0)
        ).alias("pstar"),
    )
    level = lvl.select(
        F.expr(
            "CASE WHEN istar >= n THEN dmax"
            " ELSE (c - pstar) DIV (n - istar) END"
        ).alias("water")
    )
    return feas.crossJoin(F.broadcast(level)).select(
        "source",
        F.col("d").alias("demand"),
        F.expr("CAST(least(d, water) AS BIGINT)").alias("allocation"),
        F.expr(
            "CAST(CASE WHEN d <= water THEN 1 ELSE 0 END AS INT)"
        ).alias("fully_satisfied"),
        F.col("water").cast("long").alias("water_level"),
    )


# ---------------------------------------------------------------------------
# SLO multiwindow burn-rate alerts
# ---------------------------------------------------------------------------

_SLO_BUDGET_MICRO = 150000  # 15% error budget
_SLO_FAST = 2000000  # page when 1h burn >= 2x budget...
_SLO_SLOW = 1000000  # ...AND 6h burn >= 1x budget


@register(
    "slo_burn_rate_alerts",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                       date_trunc('hour', ts)) AS h_idx,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                      END) AS BIGINT) AS n_err
      FROM events GROUP BY 1, 2
    ),
    rates AS (
      SELECT hour, n, n_err,
             n_err * 1000000 // n AS rate_micro,
             SUM(n_err) OVER w6 * 1000000 // SUM(n) OVER w6
               AS rate6_micro
      FROM hourly
      WINDOW w6 AS (ORDER BY h_idx RANGE BETWEEN 5 PRECEDING
                    AND CURRENT ROW)
    )
    SELECT hour, n, n_err,
           CAST(rate_micro * 1000000 // {_SLO_BUDGET_MICRO} AS BIGINT)
             AS burn_1h_micro,
           CAST(rate6_micro * 1000000 // {_SLO_BUDGET_MICRO} AS BIGINT)
             AS burn_6h_micro,
           CAST(CASE WHEN rate_micro * 1000000
                          // {_SLO_BUDGET_MICRO} >= {_SLO_FAST}
                      AND rate6_micro * 1000000
                          // {_SLO_BUDGET_MICRO} >= {_SLO_SLOW}
                     THEN 1 ELSE 0 END AS INT) AS page
    FROM rates
    """,
)
def slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow error-budget burn-rate alerting (the SRE workbook
    policy): per hour, the error rate as a multiple of a 15% budget
    over the 1-hour window AND the trailing 6-hour window; a PAGE
    fires only when the fast window burns ≥ 2× budget and the slow
    window ≥ 1× — the fast window catches cliffs within the hour, the
    slow window suppresses one-hour flaps. The streaming deployment of
    the same policy is ``streaming_anomaly_scores``' lane; this is the
    batch backfill an SRE runs to tune the thresholds against history.

    The 6-hour window is TIME-based (RANGE over an epoch-hour index,
    r10 — closes the r9 COVERAGE edge): an hour with zero traffic
    simply contributes nothing, rather than silently stretching the
    "6-hour" window to the last 6 OBSERVED hours the way a ROWS frame
    does on gappy data — the difference between an SRE page policy and
    one that mis-fires after an ingestion outage.

    Scale shape: ONE hourly aggregate of the fact table, one trailing
    window over the bounded hourly frame. Determinism: exact counts,
    truncating DIV at both normalization steps."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    hourly = hourly.withColumn(
        "h_idx",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP '1970-01-01 00:00:00',"
            " hour)"
        ),
    )
    w6 = Window.orderBy("h_idx").rangeBetween(-5, 0)
    rates = (
        hourly.withColumn("s_err6", F.sum("n_err").over(w6))
        .withColumn("s_n6", F.sum("n").over(w6))
        .select(
            "hour",
            "n",
            "n_err",
            F.expr("n_err * 1000000 DIV n").alias("rate_micro"),
            F.expr("s_err6 * 1000000 DIV s_n6").alias("rate6_micro"),
        )
    )
    return rates.select(
        "hour",
        "n",
        "n_err",
        F.expr(
            f"CAST(rate_micro * 1000000 DIV {_SLO_BUDGET_MICRO}"
            " AS BIGINT)"
        ).alias("burn_1h_micro"),
        F.expr(
            f"CAST(rate6_micro * 1000000 DIV {_SLO_BUDGET_MICRO}"
            " AS BIGINT)"
        ).alias("burn_6h_micro"),
        F.expr(
            f"CAST(CASE WHEN rate_micro * 1000000"
            f" DIV {_SLO_BUDGET_MICRO} >= {_SLO_FAST}"
            f" AND rate6_micro * 1000000"
            f" DIV {_SLO_BUDGET_MICRO} >= {_SLO_SLOW}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("page"),
    )


# ---------------------------------------------------------------------------
# Sessionization-gap parameter sweep
# ---------------------------------------------------------------------------

_GAPS_MIN = (10, 30, 60)


@register(
    "session_gap_sweep",
    oracle=f"""
    WITH diffs AS (
      SELECT user_id,
             date_diff('microsecond',
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
    )
    SELECT g.gap_minutes,
           CAST(t.n_users
                + SUM(CASE WHEN d.gap_us
                                > CAST(g.gap_minutes AS BIGINT)
                                  * 60000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(t.n_events * 1000000
                // (t.n_users
                    + SUM(CASE WHEN d.gap_us
                                    > CAST(g.gap_minutes AS BIGINT)
                                      * 60000000
                               THEN 1 ELSE 0 END)) AS BIGINT)
             AS events_per_session_micro
    FROM diffs d
    CROSS JOIN (SELECT unnest(ARRAY{list(_GAPS_MIN)}) AS gap_minutes) g
    CROSS JOIN tot t
    WHERE d.gap_us IS NOT NULL
    GROUP BY 1, t.n_users, t.n_events
    """,
)
def session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-gap sensitivity sweep: session counts and mean
    session sizes under 10/30/60-minute inactivity gaps, all from ONE
    lag pass — a boundary at gap g is also a boundary at every
    smaller g, so the three counts are conditional sums over the same
    per-user event diffs (n_sessions = n_users + #{{diffs > g}}). The
    parameter-sensitivity table that justifies (or indicts) the fixed
    30-minute gap ``sessionize_events`` and the streaming sessionizer
    use: a count that cliff-drops between 10 and 30 minutes means the
    choice matters. Diffs travel as exact MICROSECONDS (boundary-
    counting date_diff semantics never enter).

    Scale shape: one lag window per user partition, then the sweep is
    a 3-row broadcast against the diffs — one aggregate, no rescan
    per gap (the ``watermark_delay_sweep`` idiom). Determinism: exact
    micros, exact counts, truncating DIV."""
    events = load_table(spark, sf_dir, "events")
    diffs = events.select(
        F.expr(
            "timestampdiff(MICROSECOND,"
            " LAG(ts) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id), ts)"
        ).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    tot = events.agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    gaps = spark.createDataFrame(
        [(g,) for g in _GAPS_MIN], "gap_minutes int"
    )
    return (
        diffs.crossJoin(F.broadcast(gaps))
        .crossJoin(F.broadcast(tot))
        .groupBy("gap_minutes", "n_users", "n_events")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us")
                    > F.col("gap_minutes").cast("long") * 60000000,
                    1,
                ).otherwise(0)
            ).alias("n_bounds")
        )
        .select(
            "gap_minutes",
            (F.col("n_users") + F.col("n_bounds"))
            .cast("long")
            .alias("n_sessions"),
            F.expr(
                "CAST(n_events * 1000000 DIV (n_users + n_bounds)"
                " AS BIGINT)"
            ).alias("events_per_session_micro"),
        )
    )
