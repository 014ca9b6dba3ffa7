"""Batch-22 queries: watermark sizing and the Laplace-mechanism
histogram.

Families (each entry hash-oracled):

- Watermark delay sweep: for a ladder of candidate watermark delays,
  how many events the stream would DROP (arrive further behind the
  per-user running max than the delay) — turning batch 18's lateness
  profile into the decision table a streaming team reads to pick the
  delay (accept 0.1% loss at 5 minutes vs 0% at an hour of state).
- DP noisy histogram: the Laplace mechanism over a grouped count —
  noise drawn by inverse-CDF from a SEEDED hash-uniform so the entry
  is testable/oracle-able (production swaps the seeded hash for a
  CSPRNG draw; the mechanism arithmetic, sensitivity-1 scale, and
  utility accounting are the real parts). Completes the privacy lane
  beside ``k_anonymity_audit`` and the PII scrub.

Reference parity: decision-layer passes above batch 15/18's
governance censuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Watermark delay sweep
# ---------------------------------------------------------------------------

_WM_DELAYS_S = (60, 300, 600, 3600)


def _wm_oracle() -> str:
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN late_s > {d} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS d_{d}"
        for d in _WM_DELAYS_S
    )
    rows = " UNION ALL ".join(
        f"SELECT {d} AS delay_s, n_events, d_{d} AS n_dropped,"
        f" CAST(d_{d} * 1000000 // n_events AS BIGINT) AS drop_ppm"
        f" FROM agg"
        for d in _WM_DELAYS_S
    )
    return f"""
    WITH seq AS (
      SELECT date_trunc('second', ts) AS t,
             MAX(date_trunc('second', ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max
      FROM events
    ),
    l AS (
      SELECT CASE WHEN prior_max IS NULL OR prior_max <= t THEN 0
                  ELSE date_diff('second', t, prior_max) END AS late_s
      FROM seq
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events, {cols} FROM l
    )
    {rows}
    """


@register("watermark_delay_sweep", oracle=_wm_oracle())
def watermark_delay_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The watermark decision table: for candidate delays (1m, 5m,
    10m, 1h), how many events arrive further behind the per-user
    running max event time than the delay — i.e. how many a
    watermarked stateful stream would DROP at that setting. Batch 18's
    ``out_of_order_lateness_profile`` measures the distribution; this
    sweep reads it out at the exact candidate settings so the delay
    is picked from drop-rate vs state-size numbers, not intuition.

    Scale shape: the same single user-keyed running-max window the
    profile pays, then ONE conditional-sum aggregate wide over the
    delay ladder, fanned to long rows by a generator (no per-delay
    rescan). Determinism: the second-truncated timestampdiff recipe;
    drop_ppm is a truncating division of exact counts."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        F.date_trunc("second", F.col("ts")).alias("t"),
        F.max(F.date_trunc("second", F.col("ts"))).over(w).alias(
            "prior_max"
        ),
    )
    late = seq.select(
        F.when(
            F.col("prior_max").isNull()
            | (F.col("prior_max") <= F.col("t")),
            0,
        )
        .otherwise(
            F.expr("timestampdiff(SECOND, t, prior_max)").cast("long")
        )
        .alias("late_s")
    )
    agg = late.agg(
        F.count("*").cast("long").alias("n_events"),
        *[
            F.sum(F.when(F.col("late_s") > d, 1).otherwise(0))
            .cast("long")
            .alias(f"d_{d}")
            for d in _WM_DELAYS_S
        ],
    )
    rows = agg.select(
        "n_events",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("delay_s"),
                        F.col(f"d_{d}").alias("n_dropped"),
                    )
                    for d in _WM_DELAYS_S
                ]
            )
        ).alias("r"),
    )
    return rows.select(
        F.col("r.delay_s").alias("delay_s"),
        "n_events",
        F.col("r.n_dropped").alias("n_dropped"),
        F.expr(
            "CAST(r.n_dropped * 1000000 DIV n_events AS BIGINT)"
        ).alias("drop_ppm"),
    )


# ---------------------------------------------------------------------------
# DP noisy histogram (Laplace mechanism, seeded for testability)
# ---------------------------------------------------------------------------

# epsilon = 1 and sensitivity = 1 (each order contributes one count)
# => Laplace scale b = 1. Noise in MICRO units.
_DP_SEED = 53


def _dp_lap_sql(key: str) -> str:
    """Inverse-CDF Laplace draw from the seeded hash-uniform: with
    u in (0,1), lap = -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|).
    The uniform is an exact rational (hash % 1e6 + 0.5) / 1e6; the ln
    is micro-floored per the entropy recipe."""
    h = _hex60_seeded(_DP_SEED, key)
    u_num = f"(({h}) % 1000000)"  # 0..999999
    # 2|u - 1/2| = |2*u_num + 1 - 1000000| / 1000000  (exact ints)
    absq = f"abs(2 * {u_num} + 1 - 1000000)"
    sign = f"CASE WHEN 2 * {u_num} + 1 >= 1000000 THEN -1 ELSE 1 END"
    return (
        f"CAST({sign} * FLOOR(-ln((1000000 - {absq}) / 1000000.0)"
        f" * -1000000 + 0.5) AS BIGINT)"
    )


@register(
    "dp_noisy_histogram",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS true_count
      FROM orders GROUP BY 1
    )
    SELECT priority, true_count,
           {_dp_lap_sql("priority")} AS noise_micro,
           CAST(true_count * 1000000 + {_dp_lap_sql("priority")}
                AS BIGINT) AS noisy_count_micro,
           CAST(abs({_dp_lap_sql("priority")}) AS BIGINT)
             AS abs_err_micro
    FROM c
    """,
)
def dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Laplace mechanism over a grouped count (epsilon = 1,
    sensitivity = 1 => scale b = 1): per priority, the true count,
    an inverse-CDF Laplace draw in micro units, the noisy release,
    and the utility error. The noise uniform comes from the repo's
    SEEDED 60-bit hash so the entry is deterministic and
    hash-oracle-able — production swaps that one line for a CSPRNG
    draw; the mechanism arithmetic (inverse CDF, sensitivity scaling,
    utility accounting) is the real, reusable part. Completes the
    privacy lane beside ``k_anonymity_audit`` and the PII scrub.

    Scale shape: one grouped count (map-side combinable), noise
    applied on the bounded group frame — the mechanism costs nothing
    at any scale. Determinism: the uniform is an exact rational of
    the seeded hash; ln of ONE division, micro-floored (the entropy
    recipe); everything else is exact integers."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(F.count("*").cast("long").alias("true_count"))
    u_num = hash64_seeded(F.col("priority"), _DP_SEED) % 1000000
    two_q = 2 * u_num + 1 - 1000000
    absq = F.abs(two_q)
    sign = F.when(two_q >= 0, -1).otherwise(1)
    lap = (
        sign
        * F.floor(
            -F.log((F.lit(1000000) - absq) / F.lit(1000000.0))
            * F.lit(-1000000)
            + F.lit(0.5)
        )
    ).cast("long")
    return c.select(
        "priority",
        "true_count",
        lap.alias("noise_micro"),
        (F.col("true_count") * 1000000 + lap)
        .cast("long")
        .alias("noisy_count_micro"),
        F.abs(lap).cast("long").alias("abs_err_micro"),
    )
