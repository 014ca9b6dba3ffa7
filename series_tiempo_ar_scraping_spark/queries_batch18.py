"""Batch-18 queries: retention governance and stream-ops analytics.

Families (each entry hash-oracled; determinism per the established
recipes — exact integers, decimal(38) fingerprint sums, the
second-truncated timestampdiff recipe for interval seconds):

- Retention / TTL purge audit: per event type, how many rows a
  TTL policy expires (anchored to the deterministic corpus max
  timestamp) and a commutative-sum fingerprint of the SURVIVORS —
  the dry-run a compliance team reads before a destructive purge.
- GDPR erasure audit: a deletion list (arithmetic key predicate)
  swept across every table that carries the key, with erased/survivor
  counts and survivor fingerprints per table — the right-to-be-
  forgotten accounting pass, the destructive sibling of the PII
  census (batch 15).
- Out-of-order lateness profile: per event type, how far events
  arrive BEHIND the per-user running max event time (arrival order =
  event_id) — the measurement that picks a streaming watermark delay:
  choose the delay that bounds n_out_of_order misses, instead of
  guessing.

Reference parity: extends the reference's report/validation lane with
the compliance and stream-tuning passes a fleet deployment runs
before destructive or continuous operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Retention / TTL purge audit
# ---------------------------------------------------------------------------

# (event_type, ttl_days); anything unlisted keeps the long default.
_TTL_DAYS = {"error": 7, "click": 30, "view": 30}
_TTL_DEFAULT = 365


def _ttl_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{et}' THEN {d}" for et, d in sorted(_TTL_DAYS.items())
    )
    return f"CASE event_type {whens} ELSE {_TTL_DEFAULT} END"


@register(
    "retention_purge_audit",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS anchor FROM events),
    f AS (
      SELECT event_type, event_id,
             CASE WHEN ts < mx.anchor
                       - to_days({_ttl_case_sql()})
                  THEN 1 ELSE 0 END AS expired
      FROM events, mx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(expired) AS BIGINT) AS n_expired,
           CAST(COUNT(*) - SUM(expired) AS BIGINT) AS n_survivors,
           CAST(CAST(SUM(CASE WHEN expired = 0 THEN
                 CAST({_hex60_seeded(17, "CAST(event_id AS VARCHAR)")}
                      AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
                AS VARCHAR) AS survivor_fingerprint
    FROM f GROUP BY 1
    """,
)
def retention_purge_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TTL purge DRY-RUN: per event type, rows a retention policy
    (7/30/365-day TTLs keyed by type, anchored at the corpus max
    timestamp so the report is reproducible) would delete, plus a
    commutative 60-bit-hash-sum fingerprint of the SURVIVOR set — the
    accounting a compliance team signs off before the destructive
    pass, and the proof artifact to re-check after it (the
    ``cdc_apply_roundtrip`` fingerprint discipline).

    Scale shape: one 1-row max-anchor aggregate broadcast back, then
    ONE conditional-sum scan per the expectation-suite contract — the
    policy CASE and the hash are map-side. Determinism: pure timestamp
    comparison against anchor-minus-interval (no day-counting
    semantics to reconcile), exact counts, decimal(38) hash sums
    exported as digit strings."""
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("anchor"))
    expr = None
    for et, d in sorted(_TTL_DAYS.items()):
        expr = (
            F.when(F.col("event_type") == et, d)
            if expr is None
            else expr.when(F.col("event_type") == et, d)
        )
    ttl = expr.otherwise(_TTL_DEFAULT)
    # make_interval needs the ttl column materialized first
    f = (
        events.crossJoin(F.broadcast(anchor))
        .withColumn("ttl_days", ttl)
        .select(
            "event_type",
            "event_id",
            F.when(
                F.col("ts")
                < F.expr("anchor - make_interval(0, 0, 0, ttl_days)"),
                1,
            )
            .otherwise(0)
            .alias("expired"),
        )
    )
    return f.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("expired").cast("long").alias("n_expired"),
        (F.count("*") - F.sum("expired"))
        .cast("long")
        .alias("n_survivors"),
        F.sum(
            F.when(
                F.col("expired") == 0,
                hash64_seeded(
                    F.col("event_id").cast("string"), 17
                ).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("survivor_fingerprint"),
    )


# ---------------------------------------------------------------------------
# GDPR erasure audit
# ---------------------------------------------------------------------------

_ERASE_MOD = 97
_ERASE_RESIDUE = 13
_ERASE_TABLES = (
    ("events", "user_id"),
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
)


def _gdpr_oracle() -> str:
    parts = []
    for table, key in _ERASE_TABLES:
        h = _hex60_seeded(23, f"CAST({key} AS VARCHAR)")
        parts.append(f"""
        SELECT '{table}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {key} % {_ERASE_MOD} = {_ERASE_RESIDUE}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_erased,
               CAST(COUNT(*) - SUM(CASE WHEN {key} % {_ERASE_MOD}
                        = {_ERASE_RESIDUE} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_survivors,
               CAST(CAST(SUM(CASE WHEN {key} IS NOT NULL
                         AND {key} % {_ERASE_MOD} <> {_ERASE_RESIDUE}
                    THEN CAST({h} AS DECIMAL(38,0)) ELSE 0 END)
                    AS DECIMAL(38,0)) AS VARCHAR) AS survivor_fingerprint
        FROM {table}
        """)
    return " UNION ALL ".join(parts)


@register("gdpr_erasure_audit", oracle=_gdpr_oracle())
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten accounting: one deletion predicate (the
    subjects whose key % 97 == 13 — arithmetic, so both engines name
    the same subjects) swept across EVERY table carrying a user key,
    reporting erased/survivor counts and a commutative hash-sum
    fingerprint of each table's survivor keys. This is the
    multi-table half the single-table purge audit doesn't cover:
    erasure must be consistent ACROSS tables or a join resurrects the
    subject.

    Scale shape: one conditional-sum scan per table (no joins — the
    predicate is pure arithmetic on the key), three independent
    subtrees under a union. Determinism: exact counts; NULL keys
    identify no subject, so they survive and stay out of the hash
    sum."""
    frames = []
    for table, key in _ERASE_TABLES:
        t = load_table(spark, sf_dir, table)
        erased = F.col(key) % _ERASE_MOD == _ERASE_RESIDUE
        frames.append(
            t.agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.when(erased, 1).otherwise(0))
                .cast("long")
                .alias("n_erased"),
                (
                    F.count("*")
                    - F.sum(F.when(erased, 1).otherwise(0))
                )
                .cast("long")
                .alias("n_survivors"),
                F.sum(
                    F.when(
                        F.col(key).isNotNull() & ~erased,
                        hash64_seeded(
                            F.col(key).cast("string"), 23
                        ).cast("decimal(38,0)"),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                )
                .cast("decimal(38,0)")
                .cast("string")
                .alias("survivor_fingerprint"),
            ).select(F.lit(table).alias("table_name"), "*")
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Out-of-order lateness profile (watermark tuning)
# ---------------------------------------------------------------------------


@register(
    "out_of_order_lateness_profile",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             date_trunc('second', ts) AS t,
             MAX(date_trunc('second', ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max
      FROM events
    ),
    l AS (
      SELECT event_type,
             CASE WHEN prior_max IS NULL OR prior_max <= t THEN 0
                  ELSE date_diff('second', t, prior_max) END AS late_s
      FROM seq
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(MAX(late_s) AS BIGINT) AS max_lateness_s,
           CAST(SUM(late_s) AS BIGINT) AS sum_lateness_s,
           CAST(SUM(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_beyond_10min
    FROM l GROUP BY 1
    """,
)
def out_of_order_lateness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How late do events actually arrive? Per event type: how many
    events land BEHIND the per-user running max event time (arrival
    order = event_id), the worst and total lateness in seconds, and
    how many would be DROPPED by a 10-minute watermark — the
    measurement that turns the streaming layer's watermark delay from
    a guess into a sized decision (pair with
    ``streaming_contract_violations``'s 1-hour delay).

    Scale shape: one running-max window keyed by user (the same
    sequence shuffle sessionization pays), then a types-bounded
    conditional-sum aggregate. Determinism: the second-truncated
    timestampdiff recipe (DuckDB date_diff counts boundary crossings,
    Spark timestampdiff truncates — identical on second-truncated
    operands); arrival order is the unique event_id."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("t"),
        F.max(F.date_trunc("second", F.col("ts"))).over(w).alias(
            "prior_max"
        ),
    )
    late = seq.select(
        "event_type",
        F.when(
            F.col("prior_max").isNull()
            | (F.col("prior_max") <= F.col("t")),
            0,
        )
        .otherwise(
            F.expr("timestampdiff(SECOND, t, prior_max)").cast("long")
        )
        .alias("late_s"),
    )
    return late.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_order"),
        F.max("late_s").cast("long").alias("max_lateness_s"),
        F.sum("late_s").cast("long").alias("sum_lateness_s"),
        F.sum(F.when(F.col("late_s") > 600, 1).otherwise(0))
        .cast("long")
        .alias("n_beyond_10min"),
    )
