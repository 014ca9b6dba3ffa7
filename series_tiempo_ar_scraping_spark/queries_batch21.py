"""Batch-21 queries: conversion latency, source reputation, and
stratified minibatch assignment.

Families (each entry hash-oracled):

- Conversion-latency histogram: log2-bucketed seconds from first
  view to first subsequent purchase per user — the time-to-convert
  distribution growth analytics reads (log buckets because latencies
  span seconds to weeks); exact-integer bucketing via a power-of-two
  CASE ladder, no log() call at all.
- Source reputation score: the governance capstone — PII rate and
  repetition-flag rate per corpus source (composed BY REGISTRY from
  the batch-15 reports) folded into one integer penalty score and a
  rank; the per-source verdict a curation team acts on.
- Stratified minibatch assignment: deterministic round-robin shard
  assignment WITHIN each label (seeded-hash order), so every batch
  holds each label's count to within one — the balanced-shard pass a
  training pipeline runs before writing minibatch files.

Reference parity: extends the reference's per-catalog report rollups
with the decision-layer passes above the raw governance censuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.queries_batch15 import (
    gopher_repetition_report,
    pii_detection_report,
)
from series_tiempo_ar_scraping_spark.registry import ORACLES, register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Conversion-latency histogram (log2 buckets, no log())
# ---------------------------------------------------------------------------

_LAT_MAX_BUCKET = 21  # 2^20 s ~ 12 days; everything beyond pools here


def _log2_bucket_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} < {1 << b} THEN {b}"
        for b in range(_LAT_MAX_BUCKET)
    )
    return f"CASE {whens} ELSE {_LAT_MAX_BUCKET} END"


@register(
    "conversion_latency_histogram",
    oracle=f"""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                 THEN date_trunc('second', ts) END) AS tv,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN date_trunc('second', ts) END) AS tp
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT date_diff('second', tv, tp) AS secs
      FROM f WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp >= tv
    )
    SELECT {_log2_bucket_sql('secs')} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(secs) AS BIGINT) AS min_secs,
           CAST(MAX(secs) AS BIGINT) AS max_secs
    FROM d GROUP BY 1
    """,
)
def conversion_latency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution: seconds from each user's first
    view to their first purchase AT OR AFTER it, bucketed by
    floor(log2) — the latency histogram growth analytics reads (log
    buckets because conversion spans seconds to weeks). The bucket
    comes from a power-of-two CASE ladder: exact integer comparisons,
    no transcendental log() anywhere.

    Scale shape: one conditional-min aggregate per user (map-side
    combinable — no window, no join), then a 22-cell grouped count.
    Determinism: the second-truncated timestampdiff recipe; buckets
    and bounds are exact bigints."""
    events = load_table(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.date_trunc("second", F.col("ts")),
            )
        ).alias("tv"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.date_trunc("second", F.col("ts")),
            )
        ).alias("tp"),
    )
    d = f.filter(
        F.col("tv").isNotNull()
        & F.col("tp").isNotNull()
        & (F.col("tp") >= F.col("tv"))
    ).select(
        F.expr("timestampdiff(SECOND, tv, tp)").cast("long").alias(
            "secs"
        )
    )
    bucket = F.lit(_LAT_MAX_BUCKET)
    for b in range(_LAT_MAX_BUCKET - 1, -1, -1):
        bucket = F.when(F.col("secs") < (1 << b), b).otherwise(bucket)
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_users"),
        F.min("secs").cast("long").alias("min_secs"),
        F.max("secs").cast("long").alias("max_secs"),
    )


# ---------------------------------------------------------------------------
# Source reputation score (governance capstone)
# ---------------------------------------------------------------------------

_REP_W_PII = 300
_REP_W_REPET = 700


def _srs_oracle() -> str:
    """Composes the REGISTERED batch-15 report oracles."""
    return f"""
    WITH pii AS (
      SELECT source, n_docs,
             email_matches + phone_matches + ssn_matches AS pii_matches
      FROM ({ORACLES["pii_detection_report"]})
    ),
    rep AS (
      SELECT source,
             n_flagged_top_trigram + n_flagged_dup_mass
               + n_flagged_low_diversity AS repetition_flags
      FROM ({ORACLES["gopher_repetition_report"]})
    ),
    j AS (
      SELECT p.source, p.n_docs, p.pii_matches, r.repetition_flags,
             {_REP_W_PII} * (p.pii_matches * 1000 // p.n_docs)
               + {_REP_W_REPET} * (r.repetition_flags * 1000 // p.n_docs)
               AS penalty
      FROM pii p JOIN rep r ON r.source = p.source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(pii_matches AS BIGINT) AS pii_matches,
           CAST(repetition_flags AS BIGINT) AS repetition_flags,
           CAST(penalty AS BIGINT) AS penalty,
           CAST(greatest(0, 1000000 - penalty) AS BIGINT)
             AS reputation_score,
           CAST(rank() OVER (ORDER BY greatest(0, 1000000 - penalty)
                             DESC, source) AS BIGINT) AS reputation_rank
    FROM j
    """


@register("source_reputation_score", oracle=_srs_oracle())
def source_reputation_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The governance capstone: fold each corpus source's PII rate and
    repetition-flag rate (the batch-15 censuses, composed BY REGISTRY
    so this entry can never drift from them) into one integer penalty,
    a clamped reputation score, and a rank — the per-source verdict a
    curation team acts on when deciding what to re-crawl, de-weight,
    or drop. Weights are fixed integers (300 PII : 700 repetition
    per-mille rates).

    Scale shape: both component reports are source-keyed aggregates
    (bounded frames); the join and ranking window run on the ~|sources|
    rows, not on documents. Determinism: per-mille rates are
    truncating divisions of exact counts; the rank tiebreak is the
    source name."""
    pii = pii_detection_report(spark, sf_dir).select(
        "source",
        "n_docs",
        (
            F.col("email_matches")
            + F.col("phone_matches")
            + F.col("ssn_matches")
        ).alias("pii_matches"),
    )
    rep = gopher_repetition_report(spark, sf_dir).select(
        "source",
        (
            F.col("n_flagged_top_trigram")
            + F.col("n_flagged_dup_mass")
            + F.col("n_flagged_low_diversity")
        ).alias("repetition_flags"),
    )
    j = pii.join(rep, "source").select(
        "source",
        "n_docs",
        "pii_matches",
        "repetition_flags",
        F.expr(
            f"{_REP_W_PII} * (pii_matches * 1000 DIV n_docs) "
            f"+ {_REP_W_REPET} * (repetition_flags * 1000 DIV n_docs)"
        )
        .cast("long")
        .alias("penalty"),
    )
    score = F.greatest(F.lit(0), F.lit(1000000) - F.col("penalty"))
    w = Window.orderBy(score.desc(), "source")
    return j.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("pii_matches").cast("long").alias("pii_matches"),
        F.col("repetition_flags")
        .cast("long")
        .alias("repetition_flags"),
        "penalty",
        score.cast("long").alias("reputation_score"),
        F.rank().over(w).cast("long").alias("reputation_rank"),
    )


# ---------------------------------------------------------------------------
# Stratified minibatch assignment
# ---------------------------------------------------------------------------

_MB_BATCHES = 8


@register(
    "stratified_minibatch_assignment",
    oracle=f"""
    WITH h AS (
      SELECT lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_hex60_seeded(41, "CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rn
      FROM documents
    )
    SELECT CAST((rn - 1) % {_MB_BATCHES} AS BIGINT) AS batch_id,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY 1, 2
    """,
)
def stratified_minibatch_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Balanced training shards: within each label (lang), documents
    rank by a SEEDED hash (a deterministic shuffle) and deal
    round-robin into 8 minibatches — so every batch holds each
    label's count to within ONE of every other batch (the exact
    round-robin property, pinned by test). This is the
    label-stratified shard assignment a training pipeline runs before
    writing minibatch files; the hash order (not doc_id order) breaks
    any correlation between ingestion order and batch.

    Scale shape: one label-keyed ranking window (bounded partitions),
    then a (batches x labels)-bounded count. Determinism: the md5
    seeded-hash contract with a doc_id tiebreak; modulo on exact
    ranks."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash64_seeded(F.col("doc_id").cast("string"), 41), "doc_id"
    )
    h = docs.select(
        "lang", (F.row_number().over(w) - 1).alias("rn0")
    )
    return h.groupBy(
        (F.col("rn0") % _MB_BATCHES).cast("long").alias("batch_id"),
        "lang",
    ).agg(F.count("*").cast("long").alias("n_docs"))
