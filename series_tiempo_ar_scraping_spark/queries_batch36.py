"""Batch-36 queries: skip-gram training pairs with a negative-sampling
table, a Simpson's-paradox detector, and the sampling-temperature
sweep over source mixture weights.

Families (each entry hash-oracled; determinism per the established
recipes):

- Skip-gram pairs: the word2vec data-prep step — positional (center,
  context) co-occurrence counts within a ±2 window plus the unigram^
  0.75 negative-sampling weight (Mikolov et al. 2013). The ^0.75 is
  computed as sqrt(sqrt(f³)): IEEE-754 requires sqrt to be CORRECTLY
  ROUNDED, so two nested sqrts of an exactly-representable integer are
  bit-identical on both engines — unlike pow(), which is only
  faithfully rounded and may differ in the last ulp.
- Simpson's paradox: per-segment success-rate direction vs the pooled
  direction — the aggregation trap every metrics review needs flagged
  before someone ships a conclusion off the pooled number.
- Temperature sweep: multinomial sampling weights n^(1/T) for
  T ∈ {1,2,4} (the multilingual-corpus balancing knob of
  Lample & Conneau 2019) — same nested-sqrt determinism trick.

Reference parity: extends the reference's indicator lane with the
training-data-prep and metrics-review reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _toks_of_norm

# ---------------------------------------------------------------------------
# Skip-gram (center, context) pairs + negative-sampling weights
# ---------------------------------------------------------------------------

_SG_TOP = 50  # report the head of the pair distribution


@register(
    "skipgram_training_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT t, len(t) AS m
      FROM (SELECT {_toks_of_norm('text')} AS t FROM documents)
      WHERE len(t) >= 2
    ),
    pos AS (
      SELECT t, m, unnest(generate_series(0, m - 2)) AS i FROM toks
    ),
    pairs AS (
      SELECT t[i + 1] AS center, t[i + 2] AS context FROM pos
      UNION ALL
      SELECT t[i + 1] AS center, t[i + 3] AS context
      FROM pos WHERE i + 2 <= m - 1
    ),
    pc AS (
      SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pairs GROUP BY 1, 2
    ),
    top AS (
      SELECT center, context, cnt FROM pc
      ORDER BY cnt DESC, center, context LIMIT {_SG_TOP}
    ),
    uni AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest({_toks_of_norm('text')}) AS token
            FROM documents)
      GROUP BY 1
    ),
    w AS (
      SELECT token,
             CAST(FLOOR(SQRT(SQRT(CAST(f * f * f AS DOUBLE))) * 1000
                        + 0.5) AS BIGINT) AS w75
      FROM uni
    ),
    z AS (SELECT CAST(SUM(w75) AS BIGINT) AS z FROM w)
    SELECT top.center, top.context, top.cnt,
           CAST(w.w75 * 1000000 // z.z AS BIGINT)
             AS center_neg_prob_micro
    FROM top JOIN w ON w.token = top.center CROSS JOIN z
    """,
)
def skipgram_training_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skip-gram training-pair extraction (word2vec data prep, Mikolov
    et al. 2013): forward (center, context) co-occurrences at
    distances 1 and 2 within each document's token sequence (the
    symmetric direction follows by transposition, so only forward
    pairs are materialized), counted corpus-wide; the head of the pair
    distribution ships with each center's NEGATIVE-SAMPLING weight
    f^0.75 / Z. The ^0.75 is sqrt(sqrt(f³)) — IEEE sqrt is correctly
    rounded, making the weight bit-identical cross-engine where pow()
    is not (f³ stays under 2^53 for any realistic token frequency, so
    the cast to double is exact).

    Scale shape: pair generation is MAP-SIDE (posexplode over each
    doc's own array — no join), one pair-count aggregate with partial
    combine, a TakeOrdered head, and the unigram table joined to the
    50-row head BROADCAST. Determinism: exact counts, total-order
    head, nested-sqrt micro weights, truncating DIV."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        TX.tokens(TX.normalize_text("text")).alias("t")
    ).filter(F.size("t") >= 2)
    pos = toks.select(
        "t", F.size("t").alias("m"), F.posexplode("t")
    ).select(
        "t",
        "m",
        F.col("pos").alias("i"),
    ).filter(F.col("i") <= F.col("m") - 2)
    # both distances come out of ONE pass: try_element_at is NULL past
    # the end (bracket indexing would THROW under ANSI mode), so
    # filtering nulls from the two-element context array is exactly
    # the d<=2 window — a union of two scans would read the corpus
    # twice for no reason. try_element_at is 1-based: 0-based i+1/i+2
    # become i+2/i+3.
    pairs = pos.select(
        F.expr("t[i]").alias("center"),
        F.explode(
            F.filter(
                F.array(
                    F.expr("try_element_at(t, i + 2)"),
                    F.expr("try_element_at(t, i + 3)"),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("context"),
    )
    pc = pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("cnt")
    )
    top = pc.orderBy(
        F.col("cnt").desc(), "center", "context"
    ).limit(_SG_TOP)
    uni = (
        docs.select(
            F.explode(TX.tokens(TX.normalize_text("text"))).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("f"))
    )
    # the weight table feeds the normalizer AND the head join —
    # checkpoint so the unigram pass over the corpus runs once
    w = uni.select(
        "token",
        F.floor(
            F.sqrt(F.sqrt((F.col("f") * F.col("f") * F.col("f")).cast("double")))
            * 1000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w75"),
    ).localCheckpoint(eager=False)
    z = w.agg(F.sum("w75").cast("long").alias("z"))
    return (
        top.join(w.withColumnRenamed("token", "center"), "center")
        .crossJoin(F.broadcast(z))
        .select(
            "center",
            "context",
            "cnt",
            F.expr("CAST(w75 * 1000000 DIV z AS BIGINT)").alias(
                "center_neg_prob_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox detector
# ---------------------------------------------------------------------------


@register(
    "simpson_paradox_detector",
    oracle="""
    WITH m AS (
      SELECT CAST(AVG(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS mean_cents
      FROM orders
    ),
    o AS (
      SELECT o_orderpriority AS priority,
             CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) >= m.mean_cents
                  THEN 1 ELSE 0 END AS hi,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders CROSS JOIN m
    ),
    seg AS (
      SELECT priority,
             CAST(SUM(hi) AS BIGINT) AS n_hi,
             CAST(COUNT(*) - SUM(hi) AS BIGINT) AS n_lo,
             CAST(SUM(hi * y) AS BIGINT) AS y_hi,
             CAST(SUM((1 - hi) * y) AS BIGINT) AS y_lo
      FROM o GROUP BY 1
    ),
    pool AS (
      SELECT CAST(SUM(y_hi) * 1000000 // NULLIF(SUM(n_hi), 0)
                  - SUM(y_lo) * 1000000 // NULLIF(SUM(n_lo), 0) AS BIGINT)
               AS pooled_gap_micro
      FROM seg
    )
    SELECT priority, n_hi, n_lo,
           CAST(y_hi * 1000000 // NULLIF(n_hi, 0) AS BIGINT) AS rate_hi_micro,
           CAST(y_lo * 1000000 // NULLIF(n_lo, 0) AS BIGINT) AS rate_lo_micro,
           CAST(y_hi * 1000000 // NULLIF(n_hi, 0)
                - y_lo * 1000000 // NULLIF(n_lo, 0) AS BIGINT)
             AS segment_gap_micro,
           p.pooled_gap_micro,
           CAST(CASE WHEN SIGN(y_hi * 1000000 // NULLIF(n_hi, 0)
                              - y_lo * 1000000 // NULLIF(n_lo, 0))
                          * SIGN(p.pooled_gap_micro) < 0
                     THEN 1 ELSE 0 END AS INT) AS reverses_pooled
    FROM seg CROSS JOIN pool p
    """,
)
def simpson_paradox_detector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox screen: the fulfilled-rate gap between
    high-value and low-value orders (split at the global mean price),
    computed POOLED and WITHIN each priority segment — any segment
    whose gap sign opposes the pooled sign is flagged, because a
    conclusion drawn from the pooled number would invert inside that
    segment (the Yule-Simpson aggregation trap; the reason the
    reference publishes per-catalog AND per-dataset indicator rates,
    generators/base.py report lane).

    Scale shape: one 1-row mean broadcast, ONE segment aggregate, the
    pooled gap derived from the segment frame (5 rows) instead of a
    second fact scan, broadcast back across segments. Determinism:
    exact cents, integer micro rates, SIGN on exact integers."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(12,2)") * 100
    ).cast("bigint")
    m = orders.agg(
        F.avg(cents).cast("bigint").alias("mean_cents")
    )
    o = orders.crossJoin(F.broadcast(m)).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(cents >= F.col("mean_cents"), 1).otherwise(0).alias("hi"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    # the 5-row segment frame feeds both the pooled gap and the output
    # — checkpoint so the fact scan runs once
    seg = o.groupBy("priority").agg(
        F.sum("hi").cast("long").alias("n_hi"),
        (F.count("*") - F.sum("hi")).cast("long").alias("n_lo"),
        F.sum(F.col("hi") * F.col("y")).cast("long").alias("y_hi"),
        F.sum((1 - F.col("hi")) * F.col("y"))
        .cast("long")
        .alias("y_lo"),
    ).localCheckpoint(eager=False)
    pool = seg.agg(
        F.expr(
            "CAST(SUM(y_hi) * 1000000 DIV NULLIF(SUM(n_hi), 0)"
            " - SUM(y_lo) * 1000000 DIV NULLIF(SUM(n_lo), 0) AS BIGINT)"
        ).alias("pooled_gap_micro")
    )
    return seg.crossJoin(F.broadcast(pool)).select(
        "priority",
        "n_hi",
        "n_lo",
        F.expr("CAST(y_hi * 1000000 DIV NULLIF(n_hi, 0) AS BIGINT)").alias(
            "rate_hi_micro"
        ),
        F.expr("CAST(y_lo * 1000000 DIV NULLIF(n_lo, 0) AS BIGINT)").alias(
            "rate_lo_micro"
        ),
        F.expr(
            "CAST(y_hi * 1000000 DIV NULLIF(n_hi, 0) - y_lo * 1000000 DIV NULLIF(n_lo, 0)"
            " AS BIGINT)"
        ).alias("segment_gap_micro"),
        "pooled_gap_micro",
        F.expr(
            "CAST(CASE WHEN SIGN(y_hi * 1000000 DIV NULLIF(n_hi, 0)"
            " - y_lo * 1000000 DIV NULLIF(n_lo, 0)) * SIGN(pooled_gap_micro) < 0"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("reverses_pooled"),
    )


# ---------------------------------------------------------------------------
# Sampling-temperature sweep over source mixture weights
# ---------------------------------------------------------------------------


@register(
    "mixture_temperature_sweep",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs,
             n_docs * 1000 AS w1,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000 + 0.5)
                  AS BIGINT) AS w2,
             CAST(FLOOR(SQRT(SQRT(CAST(n_docs AS DOUBLE))) * 1000
                        + 0.5) AS BIGINT) AS w4
      FROM s
    ),
    z AS (
      SELECT SUM(w1) AS z1, SUM(w2) AS z2, SUM(w4) AS z4,
             SUM(n_docs) AS n FROM w
    )
    SELECT w.source, w.n_docs,
           CAST(w.w1 * 1000000 // z.z1 AS BIGINT) AS weight_t1_micro,
           CAST(w.w2 * 1000000 // z.z2 AS BIGINT) AS weight_t2_micro,
           CAST(w.w4 * 1000000 // z.z4 AS BIGINT) AS weight_t4_micro,
           CAST((w.w2 * 1000000 // z.z2) * z.n // greatest(w.n_docs, 1)
                AS BIGINT) AS oversample_t2_micro
    FROM w CROSS JOIN z
    """,
)
def mixture_temperature_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampling-temperature sweep (Lample & Conneau 2019; the
    multilingual/multi-source corpus balancing knob): per-source
    multinomial weights proportional to n^(1/T) for T ∈ {1, 2, 4} —
    T=1 is proportional sampling, higher T flattens the mixture toward
    uniform so tail sources are seen more often — plus the implied
    oversampling factor (weight ÷ natural share) at T=2, the number a
    data loader turns into repeat epochs. n^(1/2) and n^(1/4) are
    sqrt / sqrt∘sqrt, correctly rounded by IEEE mandate, so the micro
    weights are bit-identical on both engines. The sweep
    ``corpus_mixture_reweighting`` reads next.

    Scale shape: one groupBy over the corpus, then a bounded
    source-count frame with one 1-row normalizer broadcast; nothing
    else touches the data. Determinism: exact counts, IEEE sqrt,
    micro flooring, truncating DIV."""
    docs = load_table(spark, sf_dir, "documents")
    # the source-count frame feeds the weights, the normalizer, and
    # the output — checkpoint so the corpus scan runs once
    s = (
        docs.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    w = s.select(
        "source",
        "n_docs",
        (F.col("n_docs") * 1000).alias("w1"),
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("w2"),
        F.floor(
            F.sqrt(F.sqrt(F.col("n_docs").cast("double"))) * 1000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w4"),
    )
    z = w.agg(
        F.sum("w1").alias("z1"),
        F.sum("w2").alias("z2"),
        F.sum("w4").alias("z4"),
        F.sum("n_docs").alias("n"),
    )
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.expr("CAST(w1 * 1000000 DIV z1 AS BIGINT)").alias(
            "weight_t1_micro"
        ),
        F.expr("CAST(w2 * 1000000 DIV z2 AS BIGINT)").alias(
            "weight_t2_micro"
        ),
        F.expr("CAST(w4 * 1000000 DIV z4 AS BIGINT)").alias(
            "weight_t4_micro"
        ),
        F.expr(
            "CAST((w2 * 1000000 DIV z2) * n DIV greatest(n_docs, 1)"
            " AS BIGINT)"
        ).alias("oversample_t2_micro"),
    )
