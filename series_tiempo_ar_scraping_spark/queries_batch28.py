"""Batch-28 queries: overflow-risk accounting, backfill planning, and
the SCD Type-1 merge audit.

Families (each entry hash-oracled; determinism per the established
recipes):

- Overflow risk audit: the engine-internals pass behind SCALE.md's
  "DECIMAL(38) beyond sf-X" annotations — per numeric column, the
  worst-case sum (max |value| x rows, computed IN decimal(38) so the
  audit itself cannot overflow) and whether a bigint accumulator is
  safe. What turns per-entry overflow footnotes into a checked table.
- Backfill partition planner: batch 18's lateness measurement turned
  into the partition-level decision — per event DATE, how many events
  a given watermark would have dropped from that date's partition,
  i.e. exactly which daily partitions a backfill job must recompute.
- SCD Type-1 merge audit: MERGE INTO semantics (upsert, last write
  wins, no history) applied to the customer dimension with planted
  updates and inserts — inserted/updated/unchanged counts plus a
  commutative fingerprint of the post-merge state, the accounting row
  every warehouse MERGE job logs.

Reference parity: extends the reference's validation/report lane with
the capacity, scheduling, and warehouse-maintenance passes of a
fleet-scale deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Overflow risk audit
# ---------------------------------------------------------------------------

_BIGINT_MAX = (1 << 63) - 1

# (table, column, integer-representation SQL) — the exact units each
# catalog entry actually sums
_OVF_COLS = (
    ("lineitem", "l_extendedprice_cents",
     "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)", "lineitem"),
    ("lineitem", "l_quantity_int",
     "CAST(FLOOR(l_quantity + 0.5) AS BIGINT)", "lineitem"),
    ("orders", "o_totalprice_cents",
     "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)", "orders"),
    ("events", "value_micro",
     "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)", "events"),
)


def _ovf_oracle() -> str:
    parts = []
    for table, cname, expr, frm in _OVF_COLS:
        parts.append(f"""
        SELECT '{table}' AS table_name, '{cname}' AS column_name,
               n_rows, max_abs,
               CAST(worst AS VARCHAR) AS worst_sum,
               CAST(strlen(CAST(worst AS VARCHAR)) AS BIGINT) AS digits,
               CAST(CASE WHEN worst <= {_BIGINT_MAX} THEN 1 ELSE 0 END
                    AS INT) AS safe_in_bigint
        FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(MAX(abs({expr})) AS BIGINT) AS max_abs,
                 CAST(MAX(abs({expr})) AS DECIMAL(38,0))
                   * CAST(COUNT(*) AS DECIMAL(38,0)) AS worst
          FROM {frm}
        ) s
        """)
    return " UNION ALL ".join(parts)


@register("overflow_risk_audit", oracle=_ovf_oracle())
def overflow_risk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checked form of SCALE.md's overflow annotations: per numeric
    column (in the exact integer units the catalog sums it — cents,
    micro), the worst-case accumulator value max|v| x n computed IN
    decimal(38) so the audit itself cannot wrap, its digit count, and
    whether a bigint accumulator is safe at this scale. Run it at a
    new sf before trusting any bigint SUM — the entries that switch to
    DECIMAL(38) (Moran's I cross moments, CDC fingerprints) are
    exactly the ones this table flags first.

    Scale shape: one max/count aggregate per column (map-side
    combinable), scalar decimal arithmetic after — the audit costs one
    scan per table regardless of sf. Determinism: exact integer maxima
    and counts; the decimal(38) product is exact; the verdict is an
    integer compare against 2^63 - 1."""
    frames = []
    for table, cname, _, frm in _OVF_COLS:
        t = load_table(spark, sf_dir, frm)
        if cname == "l_extendedprice_cents":
            iexpr = F.floor(F.col("l_extendedprice") * 100 + 0.5)
        elif cname == "l_quantity_int":
            iexpr = F.floor(F.col("l_quantity") + 0.5)
        elif cname == "o_totalprice_cents":
            iexpr = F.floor(F.col("o_totalprice") * 100 + 0.5)
        else:
            iexpr = F.floor(F.col("value") * 1000000 + 0.5)
        agg = t.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.max(F.abs(iexpr.cast("long"))).cast("long").alias(
                "max_abs"
            ),
        )
        frames.append(
            agg.select(
                F.lit(table).alias("table_name"),
                F.lit(cname).alias("column_name"),
                "n_rows",
                "max_abs",
                (
                    F.col("max_abs").cast("decimal(38,0)")
                    * F.col("n_rows").cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .cast("string")
                .alias("worst_sum"),
            ).select(
                "*",
                F.length("worst_sum").cast("long").alias("digits"),
                F.when(
                    F.col("worst_sum").cast("decimal(38,0)")
                    <= F.lit(_BIGINT_MAX).cast("decimal(38,0)"),
                    1,
                )
                .otherwise(0)
                .cast("int")
                .alias("safe_in_bigint"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Backfill partition planner
# ---------------------------------------------------------------------------

_BF_WATERMARK_S = 600


@register(
    "backfill_partition_planner",
    oracle=f"""
    WITH seq AS (
      SELECT CAST(ts AS DATE) AS day,
             date_trunc('second', ts) AS t,
             MAX(date_trunc('second', ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max
      FROM events
    ),
    l AS (
      SELECT day,
             CASE WHEN prior_max IS NULL OR prior_max <= t THEN 0
                  ELSE date_diff('second', t, prior_max) END AS late_s
      FROM seq
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > {_BF_WATERMARK_S}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(CASE WHEN SUM(CASE WHEN late_s > {_BF_WATERMARK_S}
                          THEN 1 ELSE 0 END) > 0
                THEN 1 ELSE 0 END AS INT) AS needs_backfill
    FROM l GROUP BY 1
    """,
)
def backfill_partition_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which daily partitions does a backfill job have to recompute?
    Per event DATE: how many events a 600-second watermark would
    have dropped from that date's streaming output (arrive further
    behind the per-user running max than the delay — batch 18's
    lateness rule), and the resulting recompute flag. This is the
    partition-level decision table the nightly batch reads to repair
    the stream's daily aggregates — the operational consumer of
    ``watermark_delay_sweep``'s global trade-off numbers.

    Scale shape: the same single user-keyed running-max window the
    lateness profile pays, then a days-bounded conditional-sum
    aggregate keyed by the PARTITION column itself. Determinism: the
    second-truncated timestampdiff recipe; exact counts and an integer
    flag."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("second", F.col("ts")).alias("t"),
        F.max(F.date_trunc("second", F.col("ts"))).over(w).alias(
            "prior_max"
        ),
    )
    late = seq.select(
        "day",
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
    dropped = F.sum(
        F.when(F.col("late_s") > _BF_WATERMARK_S, 1).otherwise(0)
    ).cast("long")
    return late.groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        dropped.alias("n_dropped"),
        F.when(dropped > 0, 1).otherwise(0).cast("int").alias(
            "needs_backfill"
        ),
    ).select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        "n_dropped",
        "needs_backfill",
    )


# ---------------------------------------------------------------------------
# SCD Type-1 merge audit
# ---------------------------------------------------------------------------

_SCD1_SEED = 79
# planted change set: every key % 11 == 3 gets a new mktsegment
# (update); keys +50000 for key % 13 == 0 are brand new (insert)
_SCD1_UPDATES_SQL = """
      SELECT c_custkey AS k, 'SEGMENT-NEW' AS seg
      FROM customer WHERE c_custkey % 11 = 3
      UNION ALL
      SELECT c_custkey + 50000 AS k, 'SEGMENT-INS' AS seg
      FROM customer WHERE c_custkey % 13 = 0
"""


@register(
    "scd1_upsert_merge",
    oracle=f"""
    WITH upd AS ({_SCD1_UPDATES_SQL}),
    merged AS (
      SELECT COALESCE(u.k, c.c_custkey) AS k,
             COALESCE(u.seg, c.c_mktsegment) AS seg,
             CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                  WHEN u.k IS NULL THEN 'unchanged'
                  ELSE 'updated' END AS action
      FROM customer c FULL OUTER JOIN upd u ON u.k = c.c_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN action = 'inserted' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted,
           CAST(SUM(CASE WHEN action = 'updated' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN action = 'unchanged' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unchanged,
           CAST(CAST(SUM(CAST({_hex60_seeded(
               _SCD1_SEED, "CAST(k AS VARCHAR) || '|' || seg"
           )} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
             AS merged_fingerprint
    FROM merged
    """,
)
def scd1_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD Type 1 — upsert, last write wins, no
    history) applied to the customer dimension with a planted change
    set (key%11==3 segment updates, key%13==0 brand-new keys at
    +50000): inserted/updated/unchanged counts plus a commutative
    fingerprint of the ENTIRE post-merge (key, segment) state — the
    accounting row every warehouse MERGE job logs, and the Type-1
    sibling of ``scd2_user_state_history`` (which keeps history) and
    ``cdc_apply_roundtrip`` (which proves the delta algebra).

    Scale shape: ONE full-outer join on the dimension key (the merge's
    inherent shuffle; at fleet scale the change set is the small side
    and broadcasts), then a single conditional-sum aggregate with a
    map-side-combinable fingerprint. Determinism: the action
    classification is pure NULL-pattern logic on the join; counts are
    exact; the fingerprint is the decimal(38) hash-sum discipline over
    the merged state itself."""
    cust = load_table(spark, sf_dir, "customer")
    upd = (
        cust.filter(F.col("c_custkey") % 11 == 3)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("SEGMENT-NEW").alias("seg"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 50000).alias("k"),
                F.lit("SEGMENT-INS").alias("seg"),
            )
        )
    )
    merged = cust.select(
        "c_custkey", "c_mktsegment"
    ).join(upd, upd["k"] == F.col("c_custkey"), "full_outer").select(
        F.coalesce(F.col("k"), F.col("c_custkey")).alias("mk"),
        F.coalesce(F.col("seg"), F.col("c_mktsegment")).alias("mseg"),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("k").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("action") == "inserted", 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
        F.sum(F.when(F.col("action") == "updated", 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.sum(F.when(F.col("action") == "unchanged", 1).otherwise(0))
        .cast("long")
        .alias("n_unchanged"),
        F.sum(
            hash64_seeded(
                F.concat_ws(
                    "|", F.col("mk").cast("string"), F.col("mseg")
                ),
                _SCD1_SEED,
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("merged_fingerprint"),
    )
