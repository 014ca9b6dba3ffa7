"""Batch-44 queries: off-policy bandit replay evaluation and the
pairwise-masking secure-aggregation proof.

Families (each entry hash-oracled; determinism per the established
recipes):

- Bandit replay (Li et al., WSDM 2011): evaluate a GREEDY arm-
  selection policy against uniformly-logged data by replay matching —
  the policy's choice at each step comes from running per-arm reward
  rates over the PRECEDING log (a cumulative window frame ending at
  -1 row), and only steps where the policy agrees with the logged arm
  contribute reward. The full-information variant (running stats over
  the whole log, standard for offline eval) keeps every step a pure
  window expression — no sequential state, so both engines replay the
  identical walk.
- Secure aggregation (Bonawitz et al., CCS 2017 shape): users in
  pairs add/subtract a shared pairwise mask before reporting; the
  server's per-stratum sums of MASKED values equal the true sums
  exactly (masks cancel within each complete pair) while every
  individual report is noise — the proof row carries both sums and
  the mask magnitude so the cancellation is hash-gated, not asserted.

Reference parity: the experimentation and privacy-collection report
lanes over the same events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Bandit replay evaluation
# ---------------------------------------------------------------------------

_BR_SEED = 2929  # the logged (uniform) arm assignment


@register(
    "bandit_replay_eval",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST({_hex60_seeded(str(_BR_SEED),
                                 'CAST(user_id AS VARCHAR)')} % 2
                  AS INTEGER) AS logged_arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS INTEGER) AS y
      FROM events GROUP BY 1
    ),
    walk AS (
      SELECT user_id, logged_arm, y,
             COALESCE(SUM(CASE WHEN logged_arm = 0 THEN 1 END)
                      OVER w, 0) AS n0,
             COALESCE(SUM(CASE WHEN logged_arm = 0 THEN y END)
                      OVER w, 0) AS s0,
             COALESCE(SUM(CASE WHEN logged_arm = 1 THEN 1 END)
                      OVER w, 0) AS n1,
             COALESCE(SUM(CASE WHEN logged_arm = 1 THEN y END)
                      OVER w, 0) AS s1
      FROM per_user
      WINDOW w AS (ORDER BY user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    chosen AS (
      SELECT user_id, logged_arm, y,
             CASE WHEN n0 = 0 THEN 0
                  WHEN n1 = 0 THEN 1
                  WHEN s1 * 1000000 // n1 > s0 * 1000000 // n0 THEN 1
                  ELSE 0 END AS policy_arm
      FROM walk
    )
    SELECT 'greedy' AS policy,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(CASE WHEN policy_arm = logged_arm THEN 1 ELSE 0
                    END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN policy_arm = logged_arm THEN y ELSE 0
                    END) AS BIGINT) AS n_rewards,
           CAST(SUM(CASE WHEN policy_arm = logged_arm THEN y ELSE 0
                    END) * 1000000
                // greatest(SUM(CASE WHEN policy_arm = logged_arm
                                     THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS reward_rate_micro
    FROM chosen
    UNION ALL
    SELECT 'logged',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(y) AS BIGINT),
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT)
    FROM chosen
    """,
)
def bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit evaluation by replay (Li et al. 2011): the
    logged policy assigned arms uniformly (seeded hash); the candidate
    GREEDY policy is evaluated counterfactually — at each step (users
    in id order) it picks the arm with the higher running empirical
    reward rate over the PRECEDING steps (unseen arm first, ties to
    arm 0), and only steps where it agrees with the log count, with
    their logged reward. The replayed reward rate is an unbiased
    estimate of the greedy policy's online rate because the log is
    uniform — the standard way to try a new policy WITHOUT an
    experiment. The 'logged' row is the uniform baseline in the same
    units.

    Scale shape: one per-user rollup, ONE cumulative window (frame
    ends at the previous row — the no-lookahead contract), one pass of
    integer comparisons, two rollup rows. The walk order is the
    monotonic user id, so at fleet scale the window is a plain
    running aggregate over the ingestion order. Determinism: hash
    arms, exact integer running rates, truncating DIV."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        (
            hash64_seeded(F.col("user_id").cast("string"), _BR_SEED)
            % 2
        )
        .cast("int")
        .alias("logged_arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("int")
        .alias("y"),
    )
    w = Window.orderBy("user_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    walk = per_user.select(
        "user_id",
        "logged_arm",
        "y",
        F.coalesce(
            F.sum(F.when(F.col("logged_arm") == 0, 1)).over(w),
            F.lit(0),
        ).alias("n0"),
        F.coalesce(
            F.sum(F.when(F.col("logged_arm") == 0, F.col("y"))).over(w),
            F.lit(0),
        ).alias("s0"),
        F.coalesce(
            F.sum(F.when(F.col("logged_arm") == 1, 1)).over(w),
            F.lit(0),
        ).alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("logged_arm") == 1, F.col("y"))).over(w),
            F.lit(0),
        ).alias("s1"),
    )
    chosen = walk.select(
        "logged_arm",
        "y",
        F.expr(
            "CASE WHEN n0 = 0 THEN 0 WHEN n1 = 0 THEN 1"
            " WHEN s1 * 1000000 DIV n1 > s0 * 1000000 DIV n0 THEN 1"
            " ELSE 0 END"
        ).alias("policy_arm"),
    ).localCheckpoint(eager=False)
    greedy = chosen.agg(
        F.count("*").cast("long").alias("n_steps"),
        F.sum(
            F.when(F.col("policy_arm") == F.col("logged_arm"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
        F.sum(
            F.when(
                F.col("policy_arm") == F.col("logged_arm"), F.col("y")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_rewards"),
        F.expr(
            "CAST(SUM(CASE WHEN policy_arm = logged_arm THEN y ELSE 0"
            " END) * 1000000 DIV greatest(SUM(CASE WHEN policy_arm ="
            " logged_arm THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("reward_rate_micro"),
    ).select(F.lit("greedy").alias("policy"), "*")
    logged = chosen.agg(
        F.count("*").cast("long").alias("n_steps"),
        F.count("*").cast("long").alias("n_matched"),
        F.sum("y").cast("long").alias("n_rewards"),
        F.expr(
            "CAST(SUM(y) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("reward_rate_micro"),
    ).select(F.lit("logged").alias("policy"), "*")
    return greedy.unionAll(logged)


# ---------------------------------------------------------------------------
# Secure-aggregation pairwise-masking proof
# ---------------------------------------------------------------------------

_SA_SEED = 7331
_SA_MASK_MOD = 1000000  # mask magnitude range


@register(
    "secure_agg_masking_proof",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id // 2 AS pair_id,
             CAST(user_id % 2 AS INTEGER) AS member,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    complete AS (
      SELECT pair_id FROM per_user
      GROUP BY 1 HAVING COUNT(*) = 2
    ),
    masked AS (
      SELECT u.pair_id, u.pair_id % 5 AS stratum, u.y,
             {_hex60_seeded(str(_SA_SEED),
                            'CAST(u.pair_id AS VARCHAR)')}
               % {_SA_MASK_MOD} AS mask,
             u.y + CASE WHEN u.member = 0 THEN 1 ELSE -1 END
               * ({_hex60_seeded(str(_SA_SEED),
                                 'CAST(u.pair_id AS VARCHAR)')}
                  % {_SA_MASK_MOD}) AS y_masked
      FROM per_user u JOIN complete c ON c.pair_id = u.pair_id
    )
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(y) AS BIGINT) AS true_sum,
           CAST(SUM(y_masked) AS BIGINT) AS masked_sum,
           CAST(CASE WHEN SUM(y) = SUM(y_masked) THEN 1 ELSE 0 END
                AS INT) AS sums_equal,
           CAST(SUM(mask) // COUNT(*) AS BIGINT) AS mean_mask
    FROM masked GROUP BY 1
    """,
)
def secure_agg_masking_proof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise-masking secure aggregation (the Bonawitz et al. 2017
    protocol core, demonstrated on real aggregates): adjacent-id users
    form pairs sharing one hash-derived mask; member 0 ADDS it to its
    purchase count, member 1 SUBTRACTS it, and the server only ever
    sees the masked reports — individually they are dominated by a
    mask up to 1e6, yet the per-stratum sums equal the true sums
    EXACTLY because strata are pair-aligned (stratum = pair_id % 5)
    and only complete pairs participate. The report hash-gates the
    cancellation (true_sum, masked_sum, equality flag) and the mask
    magnitude, turning 'the masks cancel' from an argument into a
    gated identity. Incomplete pairs are excluded exactly as the real
    protocol drops users who fail the mask-exchange round.

    Scale shape: one per-user rollup, one pair-completeness semi-join
    (co-partitioned on pair_id), one stratum aggregate. Determinism:
    hash masks, exact integer sums."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("y")
    ).select(
        "user_id",
        F.expr("user_id DIV 2").alias("pair_id"),
        (F.col("user_id") % 2).cast("int").alias("member"),
        "y",
    )
    complete = (
        per_user.groupBy("pair_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") == 2)
        .select("pair_id")
    )
    mask = hash64_seeded(
        F.col("pair_id").cast("string"), _SA_SEED
    ) % _SA_MASK_MOD
    masked = per_user.join(complete, "pair_id", "left_semi").select(
        (F.col("pair_id") % 5).alias("stratum"),
        "y",
        mask.alias("mask"),
        (
            F.col("y")
            + F.when(F.col("member") == 0, 1).otherwise(-1) * mask
        ).alias("y_masked"),
    )
    return masked.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("y").cast("long").alias("true_sum"),
        F.sum("y_masked").cast("long").alias("masked_sum"),
        F.expr(
            "CAST(CASE WHEN SUM(y) = SUM(y_masked) THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("sums_equal"),
        F.expr("CAST(SUM(mask) DIV COUNT(*) AS BIGINT)").alias(
            "mean_mask"
        ),
    )
