"""Batch-35 queries: one exact-integer ALS sweep (rank-1 matrix
factorization — the 13th iterative family), the Qini uplift curve,
and top-p vocabulary coverage per source.

Families (each entry hash-oracled; determinism per the established
recipes):

- Rank-1 ALS: the alternating-least-squares sweep on the implicit
  user×event-type count matrix, in exact milli-integer arithmetic —
  each half-step is a CLOSED-FORM groupBy (u = Σrv/Σv², v = Σru/Σu²),
  which is precisely the BSP shape a distributed recommender runs per
  sweep. The matrix-factorization lane the catalog was missing.
- Qini uplift curve: the uplift-model evaluation the stratified-ATE
  lane reads next — cumulative incremental responders at each score
  decile vs the control-scaled baseline (Radcliffe 2007).
- Top-p vocabulary coverage: per source, the smallest head vocabulary
  covering 90% of token mass — the tokenizer-budget readout that
  pairs with ``vocab_size_oov_curve`` (which fixes vocab and measures
  OOV; this fixes mass and measures vocab).

Reference parity: extends the reference's indicator lane with the
recommender-, uplift- and tokenizer-planning reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Rank-1 ALS sweep (13th iterative family)
# ---------------------------------------------------------------------------


@register(
    "als_rank1_factors",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    v0 AS (
      SELECT DISTINCT event_type, CAST(1000 AS BIGINT) AS v FROM r
    ),
    u AS (
      SELECT r.user_id,
             SUM(r.cnt * v0.v) * 1000000 // NULLIF(SUM(v0.v * v0.v), 0) AS u
      FROM r JOIN v0 ON v0.event_type = r.event_type
      GROUP BY 1
    ),
    v1 AS (
      SELECT r.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             SUM(r.cnt * u.u) * 1000000 // NULLIF(SUM(u.u * u.u), 0) AS v_milli
      FROM r JOIN u ON u.user_id = r.user_id
      GROUP BY 1
    )
    SELECT v1.event_type, v1.n_users,
           CAST(v1.v_milli AS BIGINT) AS v_milli,
           CAST(SUM(ABS(r.cnt * 1000 - (u.u * v1.v_milli) // 1000))
                // COUNT(*) AS BIGINT) AS mae_milli
    FROM r
    JOIN u ON u.user_id = r.user_id
    JOIN v1 ON v1.event_type = r.event_type
    GROUP BY 1, 2, 3
    """,
)
def als_rank1_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternating-least-squares sweep of a rank-1 factorization of
    the implicit user×event-type count matrix (Koren/Bell/Volinsky
    2009 shape), in exact milli-integer arithmetic: initialize every
    item factor v=1.000, solve users in closed form u = Σ(r·v)/Σ(v²),
    then items v = Σ(r·u)/Σ(u²), then report per-item factors and the
    mean absolute reconstruction error |r − u·v|. The 13th iterative
    family: each ALS half-step is ONE hash aggregate over the ratings
    co-grouped by the side being solved — exactly how a fleet-scale
    recommender alternates (no driver loop per entity, one BSP round
    per half-step).

    Scale shape: ratings = one groupBy of the fact table; the u-step
    joins ratings to the BROADCAST 5-row item frame and aggregates by
    user; the v-step equi-joins ratings to user factors on user_id
    (co-partitioned with the ratings groupBy output, so AQE reuses the
    shuffle) and aggregates by item. Determinism: counts exact, factor
    updates truncating-DIV milli ints, MAE exact integer."""
    events = load_table(spark, sf_dir, "events")
    # the ratings frame feeds four references (item init, u-step,
    # v-step, error rollup) — checkpoint it so the fact scan and the
    # (user, item) aggregate run once
    r = (
        events.groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    v0 = (
        r.select("event_type")
        .distinct()
        .withColumn("v", F.lit(1000).cast("long"))
    )
    u = (
        r.join(F.broadcast(v0), "event_type")
        .groupBy("user_id")
        .agg(
            F.expr(
                "SUM(cnt * v) * 1000000 DIV NULLIF(SUM(v * v), 0)"
            ).alias("u")
        )
    )
    ru = r.join(u, "user_id")
    v1 = ru.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr(
            "SUM(cnt * u) * 1000000 DIV NULLIF(SUM(u * u), 0)"
        ).alias(
            "v_milli"
        ),
    )
    return (
        ru.join(F.broadcast(v1), "event_type")
        .groupBy("event_type", "n_users", "v_milli")
        .agg(
            F.expr(
                "CAST(SUM(ABS(cnt * 1000 - (u * v_milli) DIV 1000))"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("mae_milli")
        )
        .select(
            "event_type",
            "n_users",
            F.col("v_milli").cast("long").alias("v_milli"),
            "mae_milli",
        )
    )


# ---------------------------------------------------------------------------
# Qini uplift curve (decile cumulative incremental responders)
# ---------------------------------------------------------------------------

_QINI_SEED = 4242  # deterministic hash treatment assignment


@register(
    "qini_uplift_curve",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST({_hex60_seeded(str(_QINI_SEED),
                                 'CAST(user_id AS VARCHAR)')} % 2
                  AS INTEGER) AS treated,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS INTEGER) AS y,
             CAST(COUNT(*) AS BIGINT) AS score
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT treated, y,
             ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM per_user
    ),
    per_decile AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(treated) AS BIGINT) AS t,
             CAST(SUM(treated * y) AS BIGINT) AS ty,
             CAST(COUNT(*) - SUM(treated) AS BIGINT) AS c,
             CAST(SUM((1 - treated) * y) AS BIGINT) AS cy
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n,
             SUM(t) OVER w AS ct, SUM(ty) OVER w AS cty,
             SUM(c) OVER w AS cc, SUM(cy) OVER w AS ccy
      FROM per_decile
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, n,
           CAST(ct AS BIGINT) AS cum_treated,
           CAST(cc AS BIGINT) AS cum_control,
           CAST(cty AS BIGINT) AS cum_treated_resp,
           CAST(ccy AS BIGINT) AS cum_control_resp,
           CASE WHEN ct > 0 AND cc > 0 THEN
             CAST(cty * 1000000 // ct - ccy * 1000000 // cc AS BIGINT)
           END AS uplift_micro,
           CASE WHEN cc > 0 THEN
             CAST(cty * 1000 - (ccy * ct * 1000) // cc AS BIGINT)
           END AS qini_milli
    FROM cum
    """,
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007): users split into treatment/
    control by seeded hash, ranked by a targeting score (activity
    volume — score desc, user_id tiebreak makes the order total),
    bucketed into deciles; each decile reports the CUMULATIVE
    incremental responders qini = cum_treated_resp −
    cum_control_resp·(cum_treated/cum_control) and the per-rate uplift
    difference. The eval that tells you whether targeting the top
    deciles actually buys incremental conversions — the curve the
    ``stratified_treatment_effect`` point estimate expands into.

    Scale shape: one per-user rollup, ONE global ntile window (a
    single total-order sort — at fleet scale the decile boundary comes
    from equidepth quantiles instead, see
    ``equidepth_partition_boundaries``), a 10-row cumulative frame.
    Determinism: hash treatment, exact counts, truncating DIV."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        (
            hash64_seeded(F.col("user_id").cast("string"), _QINI_SEED)
            % 2
        )
        .cast("int")
        .alias("treated"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("int")
        .alias("y"),
        F.count("*").cast("long").alias("score"),
    )
    ranked = per_user.select(
        "treated",
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), "user_id"))
        .alias("decile"),
    )
    per_decile = ranked.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("treated").cast("long").alias("t"),
        F.sum(F.col("treated") * F.col("y")).cast("long").alias("ty"),
        (F.count("*") - F.sum("treated")).cast("long").alias("c"),
        F.sum((1 - F.col("treated")) * F.col("y"))
        .cast("long")
        .alias("cy"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_decile.select(
        "decile",
        "n",
        F.sum("t").over(w).alias("ct"),
        F.sum("ty").over(w).alias("cty"),
        F.sum("c").over(w).alias("cc"),
        F.sum("cy").over(w).alias("ccy"),
    )
    return cum.select(
        "decile",
        "n",
        F.col("ct").cast("long").alias("cum_treated"),
        F.col("cc").cast("long").alias("cum_control"),
        F.col("cty").cast("long").alias("cum_treated_resp"),
        F.col("ccy").cast("long").alias("cum_control_resp"),
        F.when(
            (F.col("ct") > 0) & (F.col("cc") > 0),
            F.expr(
                "CAST(cty * 1000000 DIV ct - ccy * 1000000 DIV cc"
                " AS BIGINT)"
            ),
        ).alias("uplift_micro"),
        F.when(
            F.col("cc") > 0,
            F.expr(
                "CAST(cty * 1000 - (ccy * ct * 1000) DIV cc"
                " AS BIGINT)"
            ),
        ).alias("qini_milli"),
    )


# ---------------------------------------------------------------------------
# Top-p vocabulary coverage per source
# ---------------------------------------------------------------------------


@register(
    "topp_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT source, unnest({_toks_of_norm('text')}) AS token
            FROM documents)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, freq,
             row_number() OVER (PARTITION BY source
                                ORDER BY freq DESC, token) AS rk,
             SUM(freq) OVER (PARTITION BY source
                             ORDER BY freq DESC, token
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM tf
    ),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(freq) AS BIGINT) AS total_tokens
      FROM tf GROUP BY 1
    )
    SELECT t.source, t.vocab_size, t.total_tokens,
           CAST(MIN(CASE WHEN r.cum * 10 >= t.total_tokens * 9
                         THEN r.rk END) AS BIGINT) AS k90,
           CAST(MIN(CASE WHEN r.cum * 10 >= t.total_tokens * 9
                         THEN r.rk END) * 1000000
                // t.vocab_size AS BIGINT) AS k90_vocab_share_micro,
           CAST(SUM(CASE WHEN r.rk <= 10 THEN r.freq ELSE 0 END)
                * 1000000 // t.total_tokens AS BIGINT)
             AS top10_mass_micro
    FROM ranked r JOIN tot t ON t.source = r.source
    GROUP BY 1, 2, 3
    """,
)
def topp_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-p vocabulary coverage: the smallest head
    vocabulary k90 whose cumulative frequency reaches 90% of the
    source's token mass (rank order freq desc with lexicographic
    tiebreak — total, so the cumsum is deterministic), plus the mass
    captured by the top-10 tokens. The tokenizer-budget planning row:
    a source whose k90 is tiny is template-heavy (cheap to cover,
    low information); one whose k90 approaches its vocabulary needs
    byte-fallback. Complements ``vocab_size_oov_curve`` (fixed vocab →
    OOV rate) by inverting the question (fixed mass → vocab size).

    Scale shape: one token-count aggregate (map-side combine does the
    heavy lifting), one window pass per source partition, one bounded
    per-source rollup. The 90% test multiplies instead of divides
    (cum·10 ≥ total·9) so it stays in exact integers. Determinism:
    exact counts, total rank order, truncating DIV."""
    docs = load_table(spark, sf_dir, "documents")
    # the term-frequency frame feeds both the window pass and the
    # totals — checkpoint so tokenization happens once
    tf = (
        docs.select(
            "source",
            F.explode(TX.tokens(TX.normalize_text("text"))).alias(
                "token"
            ),
        )
        .groupBy("source", "token")
        .agg(F.count("*").cast("long").alias("freq"))
        .localCheckpoint(eager=False)
    )
    order = [F.col("freq").desc(), F.col("token")]
    wr = Window.partitionBy("source").orderBy(*order)
    wc = wr.rowsBetween(Window.unboundedPreceding, 0)
    ranked = tf.select(
        "source",
        "freq",
        F.row_number().over(wr).alias("rk"),
        F.sum("freq").over(wc).alias("cum"),
    )
    tot = tf.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("freq").cast("long").alias("total_tokens"),
    )
    joined = ranked.join(F.broadcast(tot), "source")
    return joined.groupBy(
        "source", "vocab_size", "total_tokens"
    ).agg(
        F.min(
            F.when(
                F.col("cum") * 10 >= F.col("total_tokens") * 9,
                F.col("rk"),
            )
        )
        .cast("long")
        .alias("k90"),
        F.expr(
            "CAST(MIN(CASE WHEN cum * 10 >= total_tokens * 9"
            " THEN rk END) * 1000000 DIV vocab_size AS BIGINT)"
        ).alias("k90_vocab_share_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN rk <= 10 THEN freq ELSE 0 END)"
            " * 1000000 DIV total_tokens AS BIGINT)"
        ).alias("top10_mass_micro"),
    )
