"""Batch-8 queries: time-series analytics on the engine's home domain.

Trend, anomaly and seasonality primitives over the per-type daily
series — the analyses a time-series portal runs over its whole corpus.
Determinism recipe (the repo standard): every aggregate is computed
EXACTLY (decimal sums for values, bigint sums for day indices), each
exact aggregate is cast to double once, and the closed-form combination
uses the identical expression tree in both engines — so single-rounded
doubles match bit-for-bit with no dependence on shuffle or fold order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import det_round, register
from series_tiempo_ar_scraping_spark.session import load_table

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _DAILY_SERIES_DDAY_SQL as _DAILY_SQL,
)


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Spark twin of sqlfrags._DAILY_SERIES_DDAY_SQL (the
    decimal-exact daily-series frame). queries_batch5 carries deliberate
    variants (double v, event-type filters) next to their own oracles —
    edit this and the fragment together."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("event_type").alias("series_id"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("dday"),
    ).agg(F.sum(F.col("value").cast("decimal(22,4)")).alias("v"))


@register(
    "series_linear_trend",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    agg AS (
      SELECT series_id,
             COUNT(*) AS n,
             CAST(SUM(dday) AS DOUBLE) AS sx,
             CAST(SUM(v) AS DOUBLE) AS sy,
             CAST(SUM(dday * v) AS DOUBLE) AS sxy,
             CAST(SUM(dday * dday) AS DOUBLE) AS sxx
      FROM daily GROUP BY 1
    )
    SELECT series_id, n,
           CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 1000000 + 0.5) / 1000000 AS DOUBLE) AS slope,
           CAST(FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n * 1000000 + 0.5) / 1000000 AS DOUBLE) AS intercept
    FROM agg
    WHERE n > 1 AND (n * sxx - sx * sx) > 0
    """,
)
def series_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend line in closed form: slope =
    (nΣxy − ΣxΣy)/(nΣxx − Σx²) from ONE grouped aggregate over the daily
    series — no iteration, no ML library, map-side combinable (this is
    how you fit a million series in one pass at 100 TB). The component
    sums are exact (decimal×int terms), so the final double arithmetic
    is identically rounded in both engines."""
    daily = _daily(spark, sf_dir)
    agg = daily.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum("dday").cast("double").alias("sx"),
        F.sum("v").cast("double").alias("sy"),
        F.sum(F.col("dday") * F.col("v")).cast("double").alias("sxy"),
        F.sum(F.col("dday") * F.col("dday")).cast("double").alias("sxx"),
    )
    n = F.col("n")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    # degenerate series (single distinct day) have no defined trend —
    # and engines disagree on double 0/0 (Spark NaN vs DuckDB NULL)
    return agg.filter((n > 1) & (denom > 0)).select(
        "series_id",
        "n",
        det_round(slope, 6).alias("slope"),
        det_round(intercept, 6).alias("intercept"),
    )


@register(
    "series_anomaly_zscore",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    stats AS (
      SELECT series_id,
             COUNT(*) AS n,
             CAST(SUM(v) AS DOUBLE) AS sy,
             CAST(SUM(v * v) AS DOUBLE) AS syy
      FROM daily GROUP BY 1
    ),
    z AS (
      SELECT d.series_id, d.dday, CAST(d.v AS DOUBLE) AS v,
             (CAST(d.v AS DOUBLE) - sy / n)
               / sqrt((syy - sy * sy / n) / n) AS zscore
      FROM daily d JOIN stats s USING (series_id)
      WHERE n > 1 AND (syy - sy * sy / n) > 0
    )
    SELECT series_id, dday, v,
           CAST(FLOOR(zscore * 10000 + 0.5) / 10000 AS DOUBLE) AS zscore
    FROM z
    WHERE zscore > 2.5 OR zscore < -2.5
    """,
)
def series_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point anomaly flagging: |z| > 2.5 against the series' own
    population mean/σ. Two passes — one grouped aggregate for the exact
    moment sums, one broadcast-join back — never a window carrying the
    whole series through a sort. The z expression combines exact sums
    cast once to double, so the >2.5 boundary decision is identical in
    both engines (no half-computed variance drift)."""
    daily = _daily(spark, sf_dir)
    stats = daily.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("sy"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("syy"),
    )
    n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
    z = (F.col("v").cast("double") - sy / n) / F.sqrt(
        (syy - sy * sy / n) / n
    )
    joined = daily.join(F.broadcast(stats), "series_id").filter(
        (n > 1) & ((syy - sy * sy / n) > 0)
    )
    return (
        joined.select(
            "series_id",
            "dday",
            F.col("v").cast("double").alias("v"),
            z.alias("zscore"),
        )
        .filter((F.col("zscore") > 2.5) | (F.col("zscore") < -2.5))
        .withColumn("zscore", det_round(F.col("zscore"), 4))
    )


@register(
    "series_seasonal_profile",
    oracle="""
    WITH monthly AS (
      SELECT event_type AS series_id,
             CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS month,
             SUM(CAST(value AS DECIMAL(22,4))) AS mv,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT series_id, SUM(mv) AS tv FROM monthly GROUP BY 1
    )
    SELECT m.series_id, m.month, m.n_events,
           CAST(m.mv AS DOUBLE) AS month_value,
           CAST(FLOOR(CAST(m.mv AS DOUBLE)
                 / NULLIF(CAST(t.tv AS DOUBLE), 0)
                 * 1000000 + 0.5) / 1000000 AS DOUBLE) AS share
    FROM monthly m JOIN tot t USING (series_id)
    """,
)
def series_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality fingerprint: each calendar month's share of the
    series total — the profile a frequency/periodicity validator (or a
    seasonal-adjustment step) consumes. Two bounded aggregates (≤12 rows
    per series after the first) and a broadcast join; exact decimal sums
    make the share division single-rounded identically."""
    e = load_table(spark, sf_dir, "events")
    monthly = e.groupBy(
        F.col("event_type").alias("series_id"),
        F.month("ts").cast("long").alias("month"),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)")).alias("mv"),
        F.count("*").alias("n_events"),
    )
    tot = monthly.groupBy("series_id").agg(F.sum("mv").alias("tv"))
    return monthly.join(F.broadcast(tot), "series_id").select(
        "series_id",
        "month",
        "n_events",
        F.col("mv").cast("double").alias("month_value"),
        det_round(
            F.col("mv").cast("double")
            / F.when(F.col("tv") != 0, F.col("tv").cast("double")),
            6,
        ).alias("share"),  # divisor guard (det_round is finite-only)
    )


# Exact power-of-two EWMA weights (alpha = 0.5): literals, not pow() —
# libm pow is not bit-identical across engines, literal halves are.
_PW = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625]
# normalization sum for frame length L: 2 - 2^(1-L), exact
_NRM = [1.0, 1.5, 1.75, 1.875, 1.9375, 1.96875, 1.984375]
_PW_SQL = "[" + ", ".join(str(x) for x in _PW) + "]"
_NRM_SQL = "[" + ", ".join(str(x) for x in _NRM) + "]"


@register(
    "rolling_ewma",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    framed AS (
      SELECT series_id, dday,
             list(CAST(v AS DOUBLE)) OVER (
               PARTITION BY series_id ORDER BY dday
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
             ) AS fr
      FROM daily
    )
    SELECT series_id, dday,
           CAST(FLOOR(
             list_sum(list_transform(generate_series(1, len(fr)),
               i -> fr[i] * ({_PW_SQL})[len(fr) - i + 1]))
             / ({_NRM_SQL})[len(fr)]
             * 1000000 + 0.5) / 1000000 AS DOUBLE) AS ewma_7d
    FROM framed
    """,
)
def rolling_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row exponentially-weighted moving average (α = ½) — composed
    from a bounded window frame + a fixed-coefficient fold, NOT a
    recursive scan: the weights are power-of-two literals (exact in
    IEEE double; ``pow()`` would not be cross-engine bit-stable) and
    the frame is ≤7 elements, so the per-row cost is constant and the
    only shuffle is the per-series sort every rolling operator shares.
    The recursive EWMA definition needs a sequential scan per series —
    at 100 TB you either bound the window like this (the tail weight
    beyond 7 halvings is < 1%) or run it as a stateful streaming op."""
    daily = _daily(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rowsBetween(-6, Window.currentRow)
    )
    pw = F.array(*[F.lit(x) for x in _PW])
    nrm = F.array(*[F.lit(x) for x in _NRM])
    framed = daily.select(
        "series_id",
        "dday",
        F.collect_list(F.col("v").cast("double")).over(w).alias("fr"),
    )
    L = F.size("fr")
    weighted = F.aggregate(
        F.zip_with(
            F.col("fr"),
            F.transform(
                F.col("fr"),
                lambda _, i: F.element_at(pw, L - i),
            ),
            lambda v, wt: v * wt,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return framed.select(
        "series_id",
        "dday",
        det_round(weighted / F.element_at(nrm, L), 6).alias("ewma_7d"),
    )


@register(
    "series_autocorr_lag1",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    pairs AS (
      SELECT a.series_id, a.v AS v0, b.v AS v1
      FROM daily a JOIN daily b
        ON b.series_id = a.series_id AND b.dday = a.dday + 1
    ),
    agg AS (
      SELECT series_id,
             COUNT(*) AS n,
             CAST(SUM(v0) AS DOUBLE) AS s0,
             CAST(SUM(v1) AS DOUBLE) AS s1,
             CAST(SUM(v0 * v1) AS DOUBLE) AS s01,
             CAST(SUM(v0 * v0) AS DOUBLE) AS s00,
             CAST(SUM(v1 * v1) AS DOUBLE) AS s11
      FROM pairs GROUP BY 1
    )
    SELECT series_id, n,
           CAST(FLOOR(
             (n * s01 - s0 * s1)
             / (sqrt(n * s00 - s0 * s0) * sqrt(n * s11 - s1 * s1))
             * 1000000 + 0.5) / 1000000 AS DOUBLE) AS autocorr_lag1
    FROM agg
    WHERE n > 1 AND (n * s00 - s0 * s0) > 0 AND (n * s11 - s1 * s1) > 0
    """,
)
def series_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per series (Pearson r over consecutive-day
    pairs): the pairing is an equi-join on (series, dday+1) — a hash
    join, NOT a per-series sort+lag window, so gaps pair nothing and
    nothing orders the full series. Moment sums are exact decimals cast
    once; the correlation combines them with the identical tree in both
    engines."""
    daily = _daily(spark, sf_dir)
    b = daily.select(
        "series_id",
        (F.col("dday") - 1).alias("dday"),
        F.col("v").alias("v1"),
    )
    pairs = daily.withColumnRenamed("v", "v0").join(
        b, ["series_id", "dday"]
    )
    agg = pairs.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum("v0").cast("double").alias("s0"),
        F.sum("v1").cast("double").alias("s1"),
        F.sum(F.col("v0") * F.col("v1")).cast("double").alias("s01"),
        F.sum(F.col("v0") * F.col("v0")).cast("double").alias("s00"),
        F.sum(F.col("v1") * F.col("v1")).cast("double").alias("s11"),
    )
    n = F.col("n")
    num = n * F.col("s01") - F.col("s0") * F.col("s1")
    d0 = n * F.col("s00") - F.col("s0") * F.col("s0")
    d1 = n * F.col("s11") - F.col("s1") * F.col("s1")
    return (
        agg.filter((n > 1) & (d0 > 0) & (d1 > 0))
        .select(
            "series_id",
            "n",
            det_round(num / (F.sqrt(d0) * F.sqrt(d1)), 6).alias(
                "autocorr_lag1"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Streaming twin: online anomaly scoring (stream-static enrichment).
# ---------------------------------------------------------------------------


@register(
    "streaming_anomaly_scores",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(value AS DECIMAL(22,4))
                      * CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS syy
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           CAST(FLOOR(
             (CAST(e.value AS DOUBLE) - sy / n)
             / sqrt((syy - sy * sy / n) / n)
             * 10000 + 0.5) / 10000 AS DOUBLE) AS zscore
    FROM events e JOIN stats s USING (event_type)
    WHERE n > 1 AND (syy - sy * sy / n) > 0
      AND ((CAST(e.value AS DOUBLE) - sy / n)
           / sqrt((syy - sy * sy / n) / n) > 3.0
           OR (CAST(e.value AS DOUBLE) - sy / n)
           / sqrt((syy - sy * sy / n) / n) < -3.0)
    """,
)
def streaming_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly scoring, the stream-static enrichment shape: the
    per-type moment statistics are a STATIC frame (in production, a
    periodically-refreshed history store) broadcast into every
    microbatch; each arriving event gets its z-score with zero streaming
    state — no watermark, no aggregation buffer, unbounded uptime. The
    drained availableNow output hash-matches the batch SQL twin. Exact
    decimal moments make the |z| > 3 boundary identical in both
    engines."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
    )

    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(22,4)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.col("value").cast("decimal(22,4)")
            * F.col("value").cast("decimal(22,4)")
        )
        .cast("double")
        .alias("syy"),
    )
    stream = read_events_stream_native(spark, sf_dir)
    n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
    z = (F.col("value").cast("double") - sy / n) / F.sqrt(
        (syy - sy * sy / n) / n
    )
    scored = (
        stream.join(F.broadcast(stats), "event_type")
        .filter((n > 1) & ((syy - sy * sy / n) > 0))
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            z.alias("zscore"),
        )
        .filter((F.col("zscore") > 3.0) | (F.col("zscore") < -3.0))
        .withColumn("zscore", det_round(F.col("zscore"), 4))
    )
    name = "streaming_anomaly_scores_sink"
    q = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name).localCheckpoint()
    q.stop()
    return result


@register(
    "interval_overlap_coactivity",
    oracle="""
    WITH iv AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS n_overlap_days
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1, 2
    """,
)
def interval_overlap_coactivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (range × range): per-user daily purchase
    activity intervals [first, last], paired when they overlap in time.
    The scale discipline is BIN-FIRST: intervals are keyed by the day
    they live in, so candidate pairs meet on a calendar-bin equi-join
    and the overlap inequality only prunes within bins — never a
    broadcast nested loop over the full interval × interval space (the
    same shape as the point-in-range entries, one level up). Output is
    the co-activity pair list with overlap-day counts."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    iv = e.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    a = iv.select(
        F.col("user_id").alias("user_a"), "day",
        F.col("s").alias("sa"), F.col("e").alias("ea"),
    )
    b = iv.select(
        F.col("user_id").alias("user_b"), "day",
        F.col("s").alias("sb"), F.col("e").alias("eb"),
    )
    pairs = a.join(b, "day").filter(
        (F.col("user_a") < F.col("user_b"))
        & (F.col("sa") <= F.col("eb"))
        & (F.col("sb") <= F.col("ea"))
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_overlap_days")
    )


@register(
    "series_cross_correlation",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    pairs AS (
      SELECT a.series_id AS series_a, b.series_id AS series_b,
             a.v AS va, b.v AS vb
      FROM daily a JOIN daily b
        ON a.dday = b.dday AND a.series_id < b.series_id
    ),
    agg AS (
      SELECT series_a, series_b,
             COUNT(*) AS n,
             CAST(SUM(va) AS DOUBLE) AS s0,
             CAST(SUM(vb) AS DOUBLE) AS s1,
             CAST(SUM(va * vb) AS DOUBLE) AS s01,
             CAST(SUM(va * va) AS DOUBLE) AS s00,
             CAST(SUM(vb * vb) AS DOUBLE) AS s11
      FROM pairs GROUP BY 1, 2
    )
    SELECT series_a, series_b, n,
           CAST(FLOOR(
             (n * s01 - s0 * s1)
             / (sqrt(n * s00 - s0 * s0) * sqrt(n * s11 - s1 * s1))
             * 1000000 + 0.5) / 1000000 AS DOUBLE) AS corr
    FROM agg
    WHERE n > 1 AND (n * s00 - s0 * s0) > 0 AND (n * s11 - s1 * s1) > 0
    """,
)
def series_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-movement matrix: Pearson r between every pair of
    series over their common days. The pairing joins the daily frame to
    itself on the DAY key (each day contributes |series|² pairs — fine
    because |series| is small relative to days; for thousands of series
    you'd pivot to a day×series matrix and let a block-matrix multiply
    do this), ordered a < b so each pair appears once. Exact decimal
    moment sums → identical double combination, as the batch standard."""
    daily = _daily(spark, sf_dir)
    a = daily.select(
        F.col("series_id").alias("series_a"), "dday", F.col("v").alias("va")
    )
    b = daily.select(
        F.col("series_id").alias("series_b"), "dday", F.col("v").alias("vb")
    )
    pairs = a.join(b, "dday").filter(F.col("series_a") < F.col("series_b"))
    agg = pairs.groupBy("series_a", "series_b").agg(
        F.count("*").alias("n"),
        F.sum("va").cast("double").alias("s0"),
        F.sum("vb").cast("double").alias("s1"),
        F.sum(F.col("va") * F.col("vb")).cast("double").alias("s01"),
        F.sum(F.col("va") * F.col("va")).cast("double").alias("s00"),
        F.sum(F.col("vb") * F.col("vb")).cast("double").alias("s11"),
    )
    n = F.col("n")
    num = n * F.col("s01") - F.col("s0") * F.col("s1")
    d0 = n * F.col("s00") - F.col("s0") * F.col("s0")
    d1 = n * F.col("s11") - F.col("s1") * F.col("s1")
    return (
        agg.filter((n > 1) & (d0 > 0) & (d1 > 0))
        .select(
            "series_a", "series_b", "n",
            det_round(num / (F.sqrt(d0) * F.sqrt(d1)), 6).alias("corr"),
        )
    )


@register(
    "series_gap_histogram",
    oracle=f"""
    WITH sparse AS (
      SELECT event_type AS series_id,
             date_diff('day', DATE '1992-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS dday
      FROM events WHERE event_id % 37 = 0
      GROUP BY 1, 2
    ),
    gaps AS (
      SELECT series_id,
             dday - lag(dday) OVER (
               PARTITION BY series_id ORDER BY dday
             ) - 1 AS gap_len
      FROM sparse
    )
    SELECT series_id, gap_len, COUNT(*) AS n_gaps
    FROM gaps WHERE gap_len > 0
    GROUP BY 1, 2
    """,
)
def series_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data profile: the distribution of gap lengths (runs of
    absent days) per series — what V4's boolean continuity check becomes
    when you need to *characterize* the holes rather than just flag
    them. One per-series lag window over the daily frame (the same sort
    every per-series operator shares) and a bounded aggregate. Runs over
    a deterministic SPARSE subsample (event_id % 37) — the full fixture
    has zero day gaps at every scale factor, which would make this an
    empty-vs-empty compare carrying no correctness signal."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 37 == 0
    )
    daily = e.groupBy(
        F.col("event_type").alias("series_id"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("dday"),
    ).agg(F.count("*").alias("_n")).drop("_n")
    from pyspark.sql import Window

    w = Window.partitionBy("series_id").orderBy("dday")
    gaps = daily.select(
        "series_id",
        (F.col("dday") - F.lag("dday").over(w) - 1).alias("gap_len"),
    )
    return (
        gaps.filter(F.col("gap_len") > 0)
        .groupBy("series_id", "gap_len")
        .agg(F.count("*").alias("n_gaps"))
    )


@register(
    "series_seasonal_decompose",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    tr AS (
      SELECT series_id, dday, v,
             CAST(SUM(v) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS trend
      FROM daily
      WINDOW w AS (PARTITION BY series_id ORDER BY dday
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT series_id, dday, v, trend,
             CAST(v AS DOUBLE) - trend AS detrended,
             dday % 7 AS dow
      FROM tr
    ),
    ranked AS (
      SELECT series_id, dow, detrended,
             ROW_NUMBER() OVER (PARTITION BY series_id, dow
                                ORDER BY detrended, dday) AS rn,
             COUNT(*) OVER (PARTITION BY series_id, dow) AS cnt
      FROM det
    ),
    seasonal AS (
      SELECT series_id, dow,
             MAX(CASE WHEN rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
                      THEN detrended END) AS seas
      FROM ranked GROUP BY 1, 2
    )
    SELECT d.series_id, d.dday,
           CAST(d.v AS DOUBLE) AS v,
           CAST(FLOOR(d.trend * 10000 + 0.5) / 10000 AS DOUBLE) AS trend,
           CAST(FLOOR(s.seas * 10000 + 0.5) / 10000 AS DOUBLE) AS seasonal,
           CAST(FLOOR((CAST(d.v AS DOUBLE) - d.trend - s.seas)
                 * 10000 + 0.5) / 10000 AS DOUBLE) AS residual
    FROM det d JOIN seasonal s
      ON s.series_id = d.series_id AND s.dow = d.dow
    """,
)
def series_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition (trend + seasonal + residual) — an
    operator Spark has no primitive for, composed STL-style from ones it
    does: trend is a 7-day centered moving average (window sum of EXACT
    decimals / count, so the division is single-rounded identically);
    the seasonal component is the per-(series, weekday-class) MEDIAN of
    the detrended values — an order statistic picked by rank selection
    with a dday tiebreak, deterministic where a mean of derived doubles
    would be fold-order-dependent (and median is the robust choice
    anyway); the residual is what remains. Costs: the per-series sort
    every rolling operator shares, a bounded median window, and a
    broadcast-sized seasonal join back (|series|·7 rows)."""
    daily = _daily(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "series_id",
        "dday",
        "v",
        (F.sum("v").over(w).cast("double") / F.count("*").over(w)).alias(
            "trend"
        ),
    )
    det = tr.select(
        "series_id",
        "dday",
        "v",
        "trend",
        (F.col("v").cast("double") - F.col("trend")).alias("detrended"),
        (F.col("dday") % 7).alias("dow"),
    )
    wr = Window.partitionBy("series_id", "dow").orderBy("detrended", "dday")
    wc = Window.partitionBy("series_id", "dow")
    ranked = det.select(
        "series_id",
        "dow",
        "detrended",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    seasonal = ranked.groupBy("series_id", "dow").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("cnt") + 1) / F.lit(2.0)).cast("bigint"),
                F.col("detrended"),
            )
        ).alias("seas")
    )
    return det.join(F.broadcast(seasonal), ["series_id", "dow"]).select(
        "series_id",
        "dday",
        F.col("v").cast("double").alias("v"),
        det_round(F.col("trend"), 4).alias("trend"),
        det_round(F.col("seas"), 4).alias("seasonal"),
        det_round(
            F.col("v").cast("double") - F.col("trend") - F.col("seas"), 4
        ).alias("residual"),
    )


@register(
    "series_holt_forecast",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_SQL}),
    base AS (
      SELECT series_id, CAST(v AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY dday) AS rn
      FROM daily
    ),
    holt(series_id, rn, l, b) AS (
      SELECT series_id, rn, v, CAST(0.0 AS DOUBLE) FROM base WHERE rn = 1
      UNION ALL
      SELECT n.series_id, n.rn,
             0.5 * n.v + 0.5 * (h.l + h.b),
             0.5 * ((0.5 * n.v + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
      FROM holt h JOIN base n
        ON n.series_id = h.series_id AND n.rn = h.rn + 1
    )
    SELECT series_id, MAX(rn) AS n,
           CAST(FLOOR(MAX_BY(l, rn) * 10000 + 0.5) / 10000 AS DOUBLE)
             AS level_end,
           CAST(FLOOR(MAX_BY(b, rn) * 10000 + 0.5) / 10000 AS DOUBLE)
             AS trend_end,
           CAST(FLOOR((MAX_BY(l, rn) + 7 * MAX_BY(b, rn)) * 10000 + 0.5)
                / 10000 AS DOUBLE) AS forecast_7d
    FROM holt GROUP BY series_id
    """,
)
def series_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level + trend) exponential smoothing with a 7-step
    forecast — an inherently SEQUENTIAL recursion, expressed as a
    per-series fold over the sorted observation array (series are
    bounded; a years-long series would chunk with carried state or run
    as a stateful stream). α = β = ½ makes every smoothing step
    exact-halves arithmetic: each update is one addition rounding,
    identical in both engines — the DuckDB oracle walks the SAME
    recursion via a recursive CTE and lands on the same bits. The only
    shuffle is the per-series collect; the fold is a single codegen'd
    higher-order expression per row."""
    daily = _daily(spark, sf_dir)
    pts = daily.groupBy("series_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("dday"), F.col("v").cast("double").alias("v"))
            )
        ).alias("pts")
    )
    first_v = F.element_at("pts", 1)["v"]
    rest = F.slice(F.col("pts"), 2, F.size("pts") - 1)

    def step(acc, x):
        new_l = F.lit(0.5) * x["v"] + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = (
            F.lit(0.5)
            * ((F.lit(0.5) * x["v"] + F.lit(0.5) * (acc["l"] + acc["b"]))
               - acc["l"])
            + F.lit(0.5) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    acc = F.aggregate(
        rest,
        F.struct(first_v.alias("l"), F.lit(0.0).alias("b")),
        step,
    )
    return pts.select(
        "series_id",
        F.size("pts").cast("bigint").alias("n"),
        det_round(acc["l"], 4).alias("level_end"),
        det_round(acc["b"], 4).alias("trend_end"),
        det_round(acc["l"] + F.lit(7) * acc["b"], 4).alias("forecast_7d"),
    )


@register(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, ts AS valid_from, event_id, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to,
           CAST(lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) IS NULL AS BIGINT) AS is_current
    FROM changes
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history: collapse each user's
    event stream into state intervals — a row per *change* of state with
    [valid_from, valid_to) bounds and a current-flag, the standard
    warehouse temporal model. Change detection is a lag window with a
    total order (ts, event_id tiebreak — SURVEY §7 hard part (c));
    interval closing is a lead over the change rows only (a frame
    already collapsed to changes, far smaller than the event stream).
    One per-user sort, reused by both windows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select(
        "user_id", F.col("ts").alias("valid_from"), "event_id", "event_type"
    )
    # event_id tiebreak: two state changes at the same timestamp must
    # close in a deterministic order (the repo's total-order rule)
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().cast("bigint").alias(
            "is_current"
        ),
    )


@register(
    "merge_sources_by_priority",
    oracle="""
    WITH src_a AS (
      SELECT event_type AS series_id, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS value,
             1 AS priority, 'primary' AS source
      FROM events WHERE event_id % 3 <> 0
      GROUP BY 1, 2
    ),
    src_b AS (
      SELECT event_type AS series_id, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS value,
             2 AS priority, 'fallback' AS source
      FROM events
      GROUP BY 1, 2
    ),
    unioned AS (SELECT * FROM src_a UNION ALL SELECT * FROM src_b)
    SELECT series_id, day,
           MAX_BY(value, -priority) AS value,
           MAX_BY(source, -priority) AS chosen_source,
           COUNT(*) AS n_sources
    FROM unioned GROUP BY 1, 2
    """,
)
def merge_sources_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source merge with precedence: several publishers carry the
    same series (a partial primary feed and a complete fallback here);
    per (series, day) the highest-priority available value wins via ONE
    hash aggregate with max_by on negated priority — no join, no window,
    no per-source branching, and adding a publisher is adding a UNION
    branch. The shape every multi-catalog consolidation (the reference
    federates many catalogs) needs at scale."""
    e = load_table(spark, sf_dir, "events")

    def daily(df, priority, source):
        return df.groupBy(
            F.col("event_type").alias("series_id"),
            F.date_trunc("day", "ts").alias("day"),
        ).agg(
            F.sum(F.col("value").cast("decimal(22,4)"))
            .cast("double")
            .alias("value"),
        ).select(
            "series_id", "day", "value",
            F.lit(priority).alias("priority"),
            F.lit(source).alias("source"),
        )

    src_a = daily(e.filter(F.col("event_id") % 3 != 0), 1, "primary")
    src_b = daily(e, 2, "fallback")
    unioned = src_a.unionByName(src_b)
    return unioned.groupBy("series_id", "day").agg(
        F.max_by("value", -F.col("priority")).alias("value"),
        F.max_by("source", -F.col("priority")).alias("chosen_source"),
        F.count("*").alias("n_sources"),
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, ts AS valid_from, event_id, event_type AS state
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    hist AS (
      SELECT user_id, state, valid_from,
             lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id
             ) AS valid_to
      FROM changes
    ),
    probes AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           h.state AS state_at_purchase,
           h.valid_from AS state_since
    FROM probes p JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.ts
     AND (h.valid_to IS NULL OR p.ts < h.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against the Type-2 history: enrich each
    purchase with the user's state AT that instant — the canonical
    bitemporal lookup every warehouse fact-load runs against its
    dimensions. Intervals are per-user and non-overlapping, so the join
    is an equi-join on user_id with the containment inequality pruning
    within each user's handful of intervals (never a cross-interval
    nested loop); exactly one history row matches per probe. Composes
    the scd2_user_state_history derivation verbatim."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select(
        "user_id", F.col("ts").alias("valid_from"), "event_id",
        F.col("event_type").alias("state"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    hist = changes.select(
        "user_id", "state", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = probes.join(
        hist,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("valid_from") <= F.col("p_ts"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to"))),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("state").alias("state_at_purchase"),
        F.col("valid_from").alias("state_since"),
    )
