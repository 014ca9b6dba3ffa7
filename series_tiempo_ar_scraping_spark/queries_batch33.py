"""Batch-33 queries: Markov next-event prediction accuracy,
post-stratified treatment-effect estimation, and k-fold
cross-validation of an empirical rate model.

Families (each entry hash-oracled; determinism per the established
recipes):

- Markov next-event accuracy: the transition-matrix family EVALUATED
  — fit argmax next-event predictions per state on even users' event
  transitions, score top-1 accuracy on odd users. Ties break
  lexicographically (deterministic argmax, the engine's standard
  rank-order trick).
- Post-stratified ATE: difference in mean outcome between treated
  (signed-up) and control users, reweighted by activity stratum —
  the discrete-covariate form of inverse-propensity weighting, exact
  in integer arithmetic (the causal-lane sibling of
  ``did_order_value_estimator``).
- K-fold cross-validation: the per-priority failure-rate model of
  ``score_calibration_bins`` fitted on 4/5 of orders and Brier-scored
  on the held-out fifth, rotated over all 5 folds IN ONE PASS (every
  fold's fit is a conditional sum, so no per-fold rescan) — the model
  -selection primitive.

Reference parity: extends the reference's indicator lane with the
eval reports a modeling team reads (accuracy, effect, generalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Markov next-event top-1 accuracy
# ---------------------------------------------------------------------------


@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT user_id, event_type AS prev, next_type AS nxt
      FROM seq WHERE next_type IS NOT NULL
    ),
    fitted AS (
      SELECT prev, nxt AS predicted_next
      FROM (
        SELECT prev, nxt,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY COUNT(*) DESC, nxt) AS rk
        FROM trans WHERE user_id % 2 = 0
        GROUP BY prev, nxt
      ) WHERE rk = 1
    )
    SELECT t.prev,
           max(f.predicted_next) AS predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.nxt = f.predicted_next THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t.nxt = f.predicted_next THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_micro
    FROM trans t JOIN fitted f ON f.prev = t.prev
    WHERE t.user_id % 2 = 1
    GROUP BY t.prev
    """,
)
def markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The event-transition matrix, EVALUATED as a predictor: fit the
    per-state argmax next-event (ties break to the lexicographically
    smallest successor — the deterministic argmax) on EVEN users'
    transitions, then score top-1 accuracy per state on ODD users.
    Event order within a user is (ts, event_id) — event_id makes the
    sequence total even under timestamp ties. The eval row that tells
    you whether 'users who click then mostly view' is signal or noise.

    Scale shape: one lead() window per user partition (co-partitioned
    with the groupBys that follow), a bounded fitted frame (states x
    states at most) joined BROADCAST onto the test transitions, one
    rollup per state. Determinism: exact counts, rank-order argmax,
    truncating division."""
    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("next_type"),
    )
    trans = seq.filter(F.col("next_type").isNotNull()).select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.col("next_type").alias("nxt"),
    )
    fitted = (
        trans.filter(F.col("user_id") % 2 == 0)
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("prev").orderBy(
                    F.col("cnt").desc(), F.col("nxt")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("predicted_next"))
    )
    test = trans.filter(F.col("user_id") % 2 == 1)
    return (
        test.join(F.broadcast(fitted), "prev")
        .groupBy("prev")
        .agg(
            F.max("predicted_next").alias("predicted_next"),
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("nxt") == F.col("predicted_next"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(SUM(CASE WHEN nxt = predicted_next THEN 1 ELSE 0"
                " END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("accuracy_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Post-stratified treatment effect (discrete-covariate IPW)
# ---------------------------------------------------------------------------


_ATE_SEED = 7777  # deterministic hash assignment (the A/B split)


@register(
    "stratified_treatment_effect",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST({_hex60_seeded(str(_ATE_SEED),
                                 'CAST(user_id AS VARCHAR)')} % 2
                  AS INTEGER) AS treated,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    strat AS (
      SELECT least(n_events // 20, 4) AS stratum, treated, y
      FROM per_user
    ),
    cells AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(treated) AS BIGINT) AS n_treated,
             CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END)
                  AS BIGINT) AS y1,
             CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END)
                  AS BIGINT) AS y0
      FROM strat GROUP BY 1
    ),
    eff AS (
      SELECT stratum, n_users, n_treated,
             CAST(n_treated * 1000000 // n_users AS BIGINT)
               AS propensity_micro,
             CASE WHEN n_treated > 0 AND n_treated < n_users
                  THEN CAST(y1 * 1000000 // n_treated
                            - y0 * 1000000 // (n_users - n_treated)
                            AS BIGINT) END AS stratum_effect_micro
      FROM cells
    )
    SELECT stratum, n_users, n_treated, propensity_micro,
           stratum_effect_micro,
           CASE WHEN SUM(CASE WHEN stratum_effect_micro IS NOT NULL
                              THEN n_users ELSE 0 END) OVER () > 0
                THEN CAST(SUM(CASE WHEN stratum_effect_micro IS NOT NULL
                              THEN n_users * stratum_effect_micro
                              ELSE 0 END) OVER ()
                     // SUM(CASE WHEN stratum_effect_micro IS NOT NULL
                                 THEN n_users ELSE 0 END) OVER ()
                     AS BIGINT) END AS ate_micro
    FROM eff
    """,
)
def stratified_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-stratified average treatment effect on a hash-randomized
    assignment: treated = seeded md5 of user_id mod 2 (the
    deterministic A/B split — every real user in the fixture both
    signs up and errors, so no organic binary exposure varies),
    outcome = purchase count, strata = activity buckets (total events
    DIV 20, capped) used as variance-reduction covariates: within
    each stratum the treated-vs-control mean difference, then the
    n-weighted average over strata where BOTH arms exist. The
    estimator pipeline is exactly the observational post-
    stratification / discrete-IPW shape; on a randomized assignment
    it doubles as the stratified A/B readout. The causal-lane sibling
    of ``did_order_value_estimator``: that one differences over time,
    this one adjusts over a covariate.

    Scale shape: one per-user rollup (groupBy user_id — the natural
    partitioning of an events table), one bounded 5-stratum
    aggregate, window arithmetic over the bounded stratum frame.
    Determinism: md5 assignment, integer outcomes (purchase COUNTS,
    not double values), exact sums, truncating micro divisions;
    single-arm strata yield NULL effects and drop out of the
    weighted ATE identically in both engines (all-single-arm yields
    NULL ATE, not a division error)."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
        F.count("*").cast("long").alias("n_events"),
    ).select(
        (
            hash64_seeded(F.col("user_id").cast("string"), _ATE_SEED) % 2
        )
        .cast("integer")
        .alias("treated"),
        "y",
        "n_events",
    )
    cells = (
        per_user.select(
            F.least(F.expr("n_events DIV 20"), F.lit(4)).alias(
                "stratum"
            ),
            "treated",
            "y",
        )
        .groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("treated").cast("long").alias("n_treated"),
            F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
            .cast("long")
            .alias("y1"),
            F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
            .cast("long")
            .alias("y0"),
        )
    )
    eff = cells.select(
        "stratum",
        "n_users",
        "n_treated",
        F.expr("CAST(n_treated * 1000000 DIV n_users AS BIGINT)").alias(
            "propensity_micro"
        ),
        F.when(
            (F.col("n_treated") > 0)
            & (F.col("n_treated") < F.col("n_users")),
            F.expr(
                "CAST(y1 * 1000000 DIV n_treated"
                " - y0 * 1000000 DIV (n_users - n_treated) AS BIGINT)"
            ),
        ).alias("stratum_effect_micro"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return eff.select(
        "stratum",
        "n_users",
        "n_treated",
        "propensity_micro",
        "stratum_effect_micro",
        F.expr(
            "CASE WHEN SUM(CASE WHEN stratum_effect_micro IS NOT NULL"
            " THEN n_users ELSE 0 END)"
            " OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING) > 0 THEN"
            " CAST(SUM(CASE WHEN stratum_effect_micro IS NOT NULL"
            " THEN n_users * stratum_effect_micro ELSE 0 END)"
            " OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING)"
            " DIV SUM(CASE WHEN stratum_effect_micro IS NOT NULL"
            " THEN n_users ELSE 0 END)"
            " OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING) AS BIGINT) END"
        ).alias("ate_micro"),
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation of the per-priority rate model
# ---------------------------------------------------------------------------

_CV_K = 5


def _kfold_oracle() -> str:
    # per fold f: fit counts are sums over orders with key % K != f,
    # all expressible as (total - fold) from ONE grouped pass
    return f"""
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderkey % {_CV_K} AS BIGINT) AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    cell AS (
      SELECT priority, fold,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS x
      FROM base GROUP BY 1, 2
    ),
    tot AS (
      SELECT priority,
             CAST(SUM(n) AS BIGINT) AS n_all,
             CAST(SUM(x) AS BIGINT) AS x_all
      FROM cell GROUP BY 1
    ),
    scored AS (
      SELECT c.fold, c.n, c.x,
             CAST((t.x_all - c.x) * 1000000 // NULLIF(t.n_all - c.n, 0)
                  AS BIGINT) AS score_micro
      FROM cell c JOIN tot t USING (priority)
    ),
    per_fold AS (
      SELECT fold,
             CAST(SUM(n) AS BIGINT) AS n_test,
             CAST(SUM(x * (score_micro - 1000000)
                        * (score_micro - 1000000)
                      + (n - x) * score_micro * score_micro)
                  AS BIGINT) AS sq
      FROM scored GROUP BY 1
    )
    SELECT fold, n_test,
           CAST(sq // (n_test * 1000000) AS BIGINT) AS brier_micro,
           CAST(SUM(sq) OVER () // (SUM(n_test) OVER () * 1000000)
                AS BIGINT) AS cv_brier_micro
    FROM per_fold
    """


@register("kfold_cv_rate_model", oracle=_kfold_oracle())
def kfold_cv_rate_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the per-priority failure-rate model
    in ONE PASS: per (priority, fold) cell keep (n, failures); fold
    f's fitted rate for a priority is the complement sum
    (total - cell)/(total_n - cell_n), so every fold's training fit
    falls out of one grouped aggregate — no per-fold rescan of the
    data (the leave-one-out trick of ``loo_source_contribution``
    applied to model fitting). Each held-out fold is Brier-scored
    exactly from its cell counts: within a cell every order shares
    the score s, so the squared-error sum is x*(s-1e6)^2 +
    (n-x)*s^2 in micro^2 — no per-row arithmetic at all. Output: per
    -fold Brier plus the pooled CV Brier (the generalization
    estimate; compare against ``score_calibration_bins``'s
    single-split Brier).

    Scale shape: one groupBy(priority, fold) over the scan (25 cells),
    everything downstream is arithmetic on the bounded cell frame;
    windows run over <= 5 rows. Determinism: exact integer counts;
    truncating divisions; squared micro terms stay below 2^63
    (n * 1e12 with n bounded by the cell count)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_orderkey") % _CV_K).cast("long").alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cell = base.groupBy("priority", "fold").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("x"),
    )
    scored = cell.select(
        "fold",
        "n",
        "x",
        F.expr(
            "CAST((SUM(x) OVER (PARTITION BY priority) - x) * 1000000"
            " DIV NULLIF(SUM(n) OVER (PARTITION BY priority) - n, 0)"
            " AS BIGINT)"
        ).alias("score_micro"),
    )
    per_fold = scored.groupBy("fold").agg(
        F.sum("n").cast("long").alias("n_test"),
        F.sum(
            F.expr(
                "x * (score_micro - 1000000) * (score_micro - 1000000)"
                " + (n - x) * score_micro * score_micro"
            )
        )
        .cast("long")
        .alias("sq"),
    )
    return per_fold.select(
        "fold",
        "n_test",
        F.expr("CAST(sq DIV (n_test * 1000000) AS BIGINT)").alias(
            "brier_micro"
        ),
        F.expr(
            "CAST(SUM(sq) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " UNBOUNDED FOLLOWING) DIV (SUM(n_test) OVER (ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * 1000000)"
            " AS BIGINT)"
        ).alias("cv_brier_micro"),
    )
