"""Batch-25 queries: ranking-quality evaluation, seasonal structure,
robust outlier detection, and the streaming upsert view.

Families (each entry hash-oracled; determinism per the established
recipes — exact integers end to end, truncating/floored divisions via
the shared spellings):

- Average precision (AP): the ranking-eval companion of the MWU
  AUC — precision accumulated at every positive's rank under a
  tie-broken total order, plus P/R at a fixed cutoff. Rank and
  cumulative positives come from ONE packed two-phase prefix sum
  (never a global sort).
- Seasonal day-of-week decomposition: per-DOW level of the daily
  revenue series and the residual mass around it — the first stop of
  seasonality analysis, on a PORTABLE integer day-of-week (days since
  an anchor, mod 7) so neither engine's dayofweek numbering is
  trusted.
- MAD outlier detector: median / median-absolute-deviation flags per
  group — the robust twin of z-score outliers (one wild value cannot
  drag the threshold), exact lower-median semantics by integer rank.
- Streaming last-write-wins upsert view: the keyed-state shape a CDC
  consumer maintains — per user, the latest event wins under a packed
  (seconds, event_id) order key; readStream → complete-mode arg-max
  aggregate → memory sink, hash-matched against the batch argmax
  oracle.

Reference parity: extends the reference's indicator/report lane with
the evaluation, seasonality, robustness, and continuous-view passes a
fleet-scale analytics deployment runs on its own outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# Average precision (ranking eval)
# ---------------------------------------------------------------------------

_AP_K = 100
# rank fits well under 2^32 through sf10 (~15M orders), so the packed
# prefix (cum_pos * 2^32 + rank) stays inside bigint
_AP_PACK = 1 << 32


@register(
    "average_precision_report",
    oracle=f"""
    WITH s AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS score,
             o_orderkey AS okey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    r AS (
      SELECT pos,
             CAST(row_number() OVER (ORDER BY score DESC, okey)
                  AS BIGINT) AS rnk,
             CAST(SUM(pos) OVER (ORDER BY score DESC, okey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_pos
      FROM s
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pos = 1
                      THEN cum_pos * 1000000 // rnk ELSE 0 END)
                  AS BIGINT) AS ap_sum_micro,
             CAST(MAX(CASE WHEN rnk = {_AP_K} THEN cum_pos END)
                  AS BIGINT) AS pos_at_k
      FROM r
    )
    SELECT n, n_pos,
           CAST(ap_sum_micro // NULLIF(n_pos, 0) AS BIGINT) AS ap_micro,
           CAST(pos_at_k * 1000000 // {_AP_K} AS BIGINT)
             AS p_at_{_AP_K}_micro,
           CAST(pos_at_k * 1000000 // NULLIF(n_pos, 0) AS BIGINT)
             AS r_at_{_AP_K}_micro
    FROM t
    """,
)
def average_precision_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision of "order value predicts status F" as a
    ranked-retrieval problem: under the (score DESC, orderkey) total
    order, AP = mean over positives of precision-at-their-rank, plus
    precision/recall at a fixed cutoff of 100 — the ranking-eval
    companion of ``mannwhitney_u_doclen``'s AUC (AP weights the top of
    the ranking; AUC weights all pairs equally), and the metric a
    retrieval/reranker pipeline actually reports.

    Scale shape: rank and cumulative positives come from ONE packed
    two-phase prefix sum over the tie-broken order (prefix of
    pos * 2^32 + 1 decodes to both — ``operators/distributed``'s
    range-partition + carry, never a single-partition sort; the oracle
    may sort globally, DuckDB is welcome to). Determinism: the order
    is total (orderkey tiebreak), every precision is a truncating
    division of exact bigints, and the packed prefix fits bigint
    through sf10."""
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        (-F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .alias("neg_score"),
        F.col("o_orderkey").alias("okey"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    ).withColumn("packed", F.col("pos") * _AP_PACK + 1)
    pref = two_phase_prefix_sum(
        s, ["neg_score", "okey"], "packed", out_col="pfx"
    )
    r = pref.select(
        "pos",
        F.expr(f"pfx % {_AP_PACK}").alias("rnk"),
        F.expr(f"pfx DIV {_AP_PACK}").alias("cum_pos"),
    )
    t = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(
            F.when(
                F.col("pos") == 1,
                F.expr("cum_pos * 1000000 DIV rnk"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("ap_sum_micro"),
        F.max(
            F.when(F.col("rnk") == _AP_K, F.col("cum_pos"))
        )
        .cast("long")
        .alias("pos_at_k"),
    )
    return t.select(
        "n",
        "n_pos",
        F.expr("CAST(ap_sum_micro DIV NULLIF(n_pos, 0) AS BIGINT)").alias(
            "ap_micro"
        ),
        F.expr(f"CAST(pos_at_k * 1000000 DIV {_AP_K} AS BIGINT)")
        .alias(f"p_at_{_AP_K}_micro"),
        F.expr(
            "CAST(pos_at_k * 1000000 DIV NULLIF(n_pos, 0) AS BIGINT)"
        ).alias(
            f"r_at_{_AP_K}_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Seasonal day-of-week decomposition
# ---------------------------------------------------------------------------


@register(
    "seasonal_dow_decomposition",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    keyed AS (
      SELECT d, cents,
             CAST(date_diff('day', DATE '1992-01-01', d) % 7 AS BIGINT)
               AS dow
      FROM daily
    ),
    lvl AS (
      SELECT dow, cents,
             CAST(SUM(cents) OVER (PARTITION BY dow) AS BIGINT) AS s,
             CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS c
      FROM keyed
    ),
    res AS (
      SELECT dow, s // c AS mean_cents,
             abs(cents - s // c) AS ar
      FROM lvl
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(mean_cents) AS BIGINT) AS mean_cents,
           CAST(SUM(ar) AS BIGINT) AS sum_abs_resid,
           CAST(MAX(ar) AS BIGINT) AS max_abs_resid
    FROM res GROUP BY 1
    """,
)
def seasonal_dow_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-of-week seasonal level of daily order revenue and the
    residual mass around it — the first stop of seasonality analysis
    (a flat profile means no weekly cycle; a big Friday level with
    small residuals means a stable one). The day-of-week is PORTABLE
    integer arithmetic: days since 1992-01-01 mod 7 — Spark and DuckDB
    number ``dayofweek()`` differently (the batch-12 chi-square
    lesson), so neither engine's calendar enum is trusted.

    Scale shape: one daily aggregate (map-side combinable) collapses
    the fact table to ~|days| rows; the per-DOW level is a window on
    the 7-key partitioning and the final rollup groups by the same
    key, so nothing after the first shuffle is larger than the
    calendar. Determinism: exact cents; the level is one truncating
    division (same spelling both engines); residuals are exact
    absolute differences against that integer level."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    keyed = daily.select(
        "d",
        "cents",
        F.expr("datediff(d, DATE '1992-01-01') % 7")
        .cast("long")
        .alias("dow"),
    )
    w = Window.partitionBy("dow")
    lvl = keyed.select(
        "dow",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s"),
        F.count("*").over(w).cast("long").alias("c"),
    )
    res = lvl.select(
        "dow",
        F.expr("s DIV c").alias("mean_cents"),
        F.abs(F.col("cents") - F.expr("s DIV c")).alias("ar"),
    )
    return res.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("mean_cents").cast("long").alias("mean_cents"),
        F.sum("ar").cast("long").alias("sum_abs_resid"),
        F.max("ar").cast("long").alias("max_abs_resid"),
    )


# ---------------------------------------------------------------------------
# MAD outlier detector (robust statistics)
# ---------------------------------------------------------------------------


@register(
    "mad_outlier_detector",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    r1 AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    med AS (
      SELECT grp, CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                       AS BIGINT) AS med
      FROM r1 GROUP BY grp
    ),
    a AS (
      SELECT v.grp, v.cents, abs(v.cents - med.med) AS ad, med.med
      FROM v JOIN med ON med.grp = v.grp
    ),
    r2 AS (
      SELECT grp, ad, med,
             row_number() OVER (PARTITION BY grp ORDER BY ad) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM a
    ),
    mad AS (
      SELECT grp, CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN ad END)
                       AS BIGINT) AS mad
      FROM r2 GROUP BY grp
    )
    SELECT a.grp AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(a.med) AS BIGINT) AS median_cents,
           CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN a.ad > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM a JOIN mad ON mad.grp = a.grp
    GROUP BY 1
    """,
)
def mad_outlier_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per priority: lower median of order cents,
    lower median of absolute deviations from it (the MAD), and how many
    orders sit beyond 3 MADs — the robust twin of z-score flags (one
    wild value can drag a mean/stddev threshold arbitrarily; it moves a
    median by at most one rank). Exact LOWER-median semantics by
    integer rank ((n+1) DIV 2), so no midpoint average ever introduces
    a fraction.

    Scale shape: two ranking windows per group key (the unavoidable
    order statistics — both sort the SAME per-group partitions), two
    bounded median frames broadcast back, one conditional-sum rollup.
    At fleet scale the histogram-quantile sketch replaces the exact
    rank for the first pass per SCALE.md. Determinism: rank ties share
    the ranked value, so the value-at-rank is unique regardless of tie
    order; counts and medians are exact bigints."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    w1 = Window.partitionBy("grp").orderBy("cents")
    r1 = v.select(
        "grp",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    med = r1.groupBy("grp").agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents")
            )
        )
        .cast("long")
        .alias("med")
    )
    a = v.join(F.broadcast(med), "grp").select(
        "grp",
        "cents",
        F.abs(F.col("cents") - F.col("med")).alias("ad"),
        "med",
    )
    w2 = Window.partitionBy("grp").orderBy("ad")
    r2 = a.select(
        "grp",
        "ad",
        F.row_number().over(w2).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    mad = r2.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("ad"))
        )
        .cast("long")
        .alias("mad")
    )
    return (
        a.join(F.broadcast(mad), "grp")
        .groupBy(F.col("grp").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("med").cast("long").alias("median_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming last-write-wins upsert view
# ---------------------------------------------------------------------------

_LWW_USERS = 200
_LWW_ANCHOR = "1990-01-01 00:00:00"
# seconds-since-1990 (~1.1e9) * 1e8 + event_id stays far inside bigint
# as long as event ids stay under 1e8 (true through sf10)
_LWW_PACK = 100000000


@register(
    "streaming_lww_upsert_view",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             date_diff('second', TIMESTAMP '{_LWW_ANCHOR}',
                       date_trunc('second', ts)) * {_LWW_PACK}
               + event_id AS packed
      FROM events WHERE user_id < {_LWW_USERS}
    ),
    r AS (
      SELECT user_id, event_type, packed,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY packed DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM e
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           event_type AS last_event_type,
           CAST(packed AS BIGINT) AS last_packed
    FROM r WHERE rn = 1
    """,
)
def streaming_lww_upsert_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC consumer's keyed view, ON THE STREAM: events arrive as a
    file-source stream and a complete-mode aggregate maintains, per
    user, the latest event under a packed (seconds, event_id) order key
    — last-write-wins upsert, the state every materialized CDC view
    keeps. readStream → arg-max aggregate → memory sink (availableNow),
    hash-matched against the batch argmax oracle; the batch twin of the
    merge identity is ``cdc_apply_roundtrip``.

    Scale shape: the stream-side state is ONE row per key (max_by over
    a bigint — mergeable, so map-side partial aggregation bounds the
    shuffle), exactly how an update-mode sink to a KV store would run;
    the user_id < 200 filter bounds the TEST output, not the design.
    Determinism: the packed key is total (unique event_id breaks
    second-level ties) and exact bigint; the second-truncated
    timestampdiff recipe keeps both engines on identical seconds."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
    )

    stream = read_events_stream_native(spark, sf_dir)
    packed = (
        F.expr(
            f"timestampdiff(SECOND, TIMESTAMP '{_LWW_ANCHOR}', "
            "date_trunc('second', ts))"
        ).cast("long")
        * _LWW_PACK
        + F.col("event_id")
    )
    agg = (
        stream.filter(F.col("user_id") < _LWW_USERS)
        .select("user_id", "event_type", packed.alias("packed"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max_by("event_type", F.col("packed")).alias(
                "last_event_type"
            ),
            F.max("packed").cast("long").alias("last_packed"),
        )
    )
    name = "stream_lww_upsert_view"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "n_events", "last_event_type", "last_packed"
    )
