"""Batch-27 queries: sort-free exact order statistics, the salting
equivalence proof, and interval-union coverage.

Families (each entry hash-oracled; determinism per the established
recipes):

- Iterative quantile refinement: the EXACT median without ever
  sorting the data globally — two rounds of 64-bin histogram
  narrowing (each one map-side-combinable aggregate) shrink the
  candidate range by ~4096x, then one tiny ranked pass inside the
  final bin. The scale path for exact order statistics: at 100 TB a
  global sort is the thing you never do, and the deterministic
  histogram sketch only bounds the answer — this entry lands on the
  exact value and PROVES it against the brute-force rank oracle.
- Salted aggregation equivalence: the skew recipe proved on itself —
  the (key, salt) partial -> merge topology must produce bitwise the
  same counts and exact-decimal sums as the direct GROUP BY; one row
  per key carries both lanes and the verdict (the order-invariance
  audit's sibling: that one varies partitioning, this one varies the
  AGGREGATION TOPOLOGY).
- Interval-union coverage: per day, the union length of per-user
  visit intervals (event +/- a fixed horizon) — merge-overlapping-
  intervals by the running-max-end rule, then exact covered seconds.
  The utilization/coverage metric (ad exposure, machine busy-time)
  that plain counts and sessionization don't give you.

Reference parity: extends the reference's indicator lane with the
order-statistics, skew-hardening, and utilization passes of a
fleet-scale deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# Iterative quantile refinement (exact median, no global sort)
# ---------------------------------------------------------------------------

_IQR_BINS = 64


@register(
    "iterative_quantile_refinement",
    oracle=f"""
    WITH v AS (
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ),
    b AS (
      SELECT MIN(c) AS lo, MAX(c) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n,
             (CAST(COUNT(*) AS BIGINT) + 1) // 2 AS k
      FROM v
    ),
    h1 AS (
      SELECT CAST(((c - lo) * {_IQR_BINS}) // (hi - lo + 1) AS BIGINT)
               AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v, b GROUP BY 1
    ),
    c1 AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) - cnt
                  AS BIGINT) AS below
      FROM h1
    ),
    pick1 AS (
      SELECT b.lo, b.hi, b.n, b.k, c1.bin, c1.below,
             b.lo + (c1.bin * (b.hi - b.lo + 1)) // {_IQR_BINS} AS lo1,
             b.lo + ((c1.bin + 1) * (b.hi - b.lo + 1)) // {_IQR_BINS}
               - 1 AS hi1
      FROM c1, b
      WHERE c1.below < b.k AND c1.below + c1.cnt >= b.k
    ),
    h2 AS (
      SELECT CAST(((v.c - p.lo1) * {_IQR_BINS}) // (p.hi1 - p.lo1 + 1)
                  AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v, pick1 p
      WHERE v.c BETWEEN p.lo1 AND p.hi1
      GROUP BY 1
    ),
    c2 AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) - cnt
                  AS BIGINT) AS below
      FROM h2
    ),
    pick2 AS (
      SELECT p.n, p.k, p.lo1, p.hi1,
             p.k - p.below - c2.below AS k2,
             p.lo1 + (c2.bin * (p.hi1 - p.lo1 + 1)) // {_IQR_BINS}
               AS lo2,
             p.lo1 + ((c2.bin + 1) * (p.hi1 - p.lo1 + 1))
               // {_IQR_BINS} - 1 AS hi2
      FROM c2, pick1 p
      WHERE c2.below < p.k - p.below
        AND c2.below + c2.cnt >= p.k - p.below
    ),
    fin AS (
      SELECT v.c, p.n, p.k, p.lo2, p.hi2, p.k2
      FROM v, pick2 p WHERE v.c BETWEEN p.lo2 AND p.hi2
    ),
    g AS (
      SELECT c, n, k, lo2, hi2, k2,
             CAST(SUM(COUNT(*)) OVER (ORDER BY c
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM fin GROUP BY c, n, k, lo2, hi2, k2
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(k) AS BIGINT) AS rank_k,
           CAST(MIN(CASE WHEN cum >= k2 THEN c END) AS BIGINT)
             AS median_cents,
           CAST(MAX(hi2 - lo2 + 1) AS BIGINT) AS final_range_width,
           (SELECT CAST(c AS BIGINT) FROM (
              SELECT c, row_number() OVER (ORDER BY c) AS rn,
                     (SELECT k FROM b) AS kk
              FROM v) x WHERE rn = kk) AS brute_median_cents
    FROM g
    """,
)
def iterative_quantile_refinement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT lower median of lineitem price cents WITHOUT a global
    sort: two rounds of 64-bin equi-width histogram narrowing (each
    round is one map-side-combinable aggregate over the surviving
    range, shrinking candidates ~4096x), then one ranked pass over the
    final bin's DISTINCT values — and the brute-force rank median in
    the same row, so the refinement provably lands on it. This is how
    exact order statistics actually run at 100 TB: the histogram
    passes are embarrassingly parallel, the final bin is tiny, and no
    executor ever holds a sorted copy of the data (a third round
    generalizes when a bin stays hot; two suffice at every fixture
    scale, pinned by final_range_width).

    Scale shape: per round one scan (filtered by the surviving range —
    pushed to parquet) into a 64-cell aggregate + a 64-row cumulative
    window; the last pass groups the final bin's values (bounded by
    the range width) and never materializes raw rows on one node.
    Determinism: pure bigint bin arithmetic (truncating division on
    non-negative operands), exact counts; the lower-median rank rule
    matches the MAD detector's."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("c")
    )
    b = v.agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count("*").cast("long").alias("n"),
        ((F.count("*") + 1) / 2).cast("long").alias("k"),
    )

    def narrow(frame, lo_col, hi_col, k_col, extra=("n",)):
        """One histogram round: returns a 1-row frame with the
        surviving (lo, hi, remaining k) plus pass-through columns."""
        binned = frame.select(
            F.expr(
                f"CAST(((c - {lo_col}) * {_IQR_BINS})"
                f" DIV ({hi_col} - {lo_col} + 1) AS BIGINT)"
            ).alias("bin"),
            "*",
        )
        hist = binned.groupBy(
            "bin", lo_col, hi_col, k_col, *extra
        ).agg(F.count("*").cast("long").alias("cnt"))
        cum = hist.select(
            "*",
            (
                F.sum("cnt").over(
                    Window.orderBy("bin").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                )
                - F.col("cnt")
            )
            .cast("long")
            .alias("below"),
        )
        return cum.filter(
            (F.col("below") < F.col(k_col))
            & (F.col("below") + F.col("cnt") >= F.col(k_col))
        )

    # round 1
    vb = v.crossJoin(F.broadcast(b))
    p1 = narrow(vb, "lo", "hi", "k").select(
        "n",
        "k",
        (
            F.col("lo")
            + F.expr(f"(bin * (hi - lo + 1)) DIV {_IQR_BINS}")
        ).alias("lo1"),
        (
            F.col("lo")
            + F.expr(f"((bin + 1) * (hi - lo + 1)) DIV {_IQR_BINS}")
            - 1
        ).alias("hi1"),
        (F.col("k") - F.col("below")).alias("k1"),
    )
    # round 2 over the surviving range only
    v1 = v.crossJoin(F.broadcast(p1)).filter(
        F.col("c").between(F.col("lo1"), F.col("hi1"))
    )
    p2 = narrow(
        v1.withColumnRenamed("lo1", "lo")
        .withColumnRenamed("hi1", "hi")
        .withColumnRenamed("k1", "kk")
        .select("c", "lo", "hi", "kk", "n", "k"),
        "lo",
        "hi",
        "kk",
        extra=("n", "k"),
    ).select(
        "n",
        "k",
        (
            F.col("lo")
            + F.expr(f"(bin * (hi - lo + 1)) DIV {_IQR_BINS}")
        ).alias("lo2"),
        (
            F.col("lo")
            + F.expr(f"((bin + 1) * (hi - lo + 1)) DIV {_IQR_BINS}")
            - 1
        ).alias("hi2"),
        (F.col("kk") - F.col("below")).alias("k2"),
    )
    fin = v.crossJoin(F.broadcast(p2)).filter(
        F.col("c").between(F.col("lo2"), F.col("hi2"))
    )
    g = (
        fin.groupBy("c", "n", "k", "lo2", "hi2", "k2")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "*",
            F.sum("cnt")
            .over(
                Window.orderBy("c").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("long")
            .alias("cum"),
        )
    )
    refined = g.agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("rank_k"),
        F.min(F.when(F.col("cum") >= F.col("k2"), F.col("c")))
        .cast("long")
        .alias("median_cents"),
        F.max(F.col("hi2") - F.col("lo2") + 1)
        .cast("long")
        .alias("final_range_width"),
    )
    # brute-force rank median for the in-row proof: computed via the
    # same grouped-cumulative trick (distinct values, never a full
    # sort of raw rows)
    brute = (
        v.groupBy("c")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "c",
            F.sum("cnt")
            .over(
                Window.orderBy("c").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("long")
            .alias("cum"),
        )
        .crossJoin(F.broadcast(b.select("k")))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("k"), F.col("c")))
            .cast("long")
            .alias("brute_median_cents")
        )
    )
    return refined.crossJoin(F.broadcast(brute))


# ---------------------------------------------------------------------------
# Salted aggregation equivalence (the skew recipe proved on itself)
# ---------------------------------------------------------------------------

_SALT_W = 16


@register(
    "salted_aggregation_equivalence",
    oracle="""
    WITH a AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS VARCHAR) AS s
      FROM events GROUP BY 1
    )
    SELECT event_type,
           n AS n_plain, n AS n_salted,
           s AS sum_plain, s AS sum_salted,
           CAST(1 AS INT) AS all_equal
    FROM a
    """,
)
def salted_aggregation_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew-salting recipe PROVED on itself: the two-phase
    (key, salt) partial -> per-key merge topology (SCALE.md's
    prescription for hot keys whose single reducer would stall the
    stage) must produce bitwise the same counts and exact-decimal sums
    as the direct GROUP BY. One row per event type carries both lanes
    and the verdict; the oracle computes the single canonical answer,
    so Spark must land BOTH topologies on it. Sibling of
    ``order_invariance_audit`` — that one varies partitioning, this
    one varies the aggregation topology itself.

    Scale shape: the salted lane is exactly what you deploy under
    zipf keys — 16 partials per key spread the hot key over 16
    reducers, the merge is |keys| x 16 rows; the audit's cost is the
    two lanes. Determinism: decimal(22,4) sums are exact and
    associative, so ANY grouping topology must agree — which is
    precisely the property this entry certifies."""
    events = load_table(spark, sf_dir, "events")
    plain = events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_plain"),
        F.sum(F.col("value").cast("decimal(22,4)"))
        .cast("string")
        .alias("sum_plain"),
    )
    partial = events.groupBy(
        "event_type",
        (F.col("user_id") % _SALT_W).alias("_salt"),
    ).agg(
        F.count("*").cast("long").alias("pn"),
        F.sum(F.col("value").cast("decimal(22,4)")).alias("ps"),
    )
    salted = partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n_salted"),
        F.sum("ps").cast("decimal(22,4)").cast("string").alias(
            "sum_salted"
        ),
    )
    j = plain.join(salted, "event_type")
    eq = (F.col("n_plain") == F.col("n_salted")) & (
        F.col("sum_plain") == F.col("sum_salted")
    )
    return j.select(
        "event_type",
        "n_plain",
        "n_salted",
        "sum_plain",
        "sum_salted",
        eq.cast("int").alias("all_equal"),
    )


# ---------------------------------------------------------------------------
# Interval-union coverage (merge-overlapping-intervals)
# ---------------------------------------------------------------------------

_COV_HORIZON_S = 300  # each event covers [ts, ts + 5 minutes)


@register(
    "interval_union_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             date_trunc('second', ts) AS s
      FROM events
    ),
    seq AS (
      SELECT user_id, day, s,
             MAX(s) OVER (PARTITION BY user_id, day ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT user_id, day, s,
             CASE WHEN prev_max IS NULL
                       OR date_diff('second', prev_max, s)
                          > {_COV_HORIZON_S}
                  THEN 1 ELSE 0 END AS new_island
      FROM seq
    ),
    grp AS (
      SELECT user_id, day, s,
             SUM(new_island) OVER (PARTITION BY user_id, day ORDER BY s
                                   ROWS UNBOUNDED PRECEDING)
               AS island_id
      FROM isl
    ),
    per_island AS (
      SELECT user_id, day, island_id,
             date_diff('second', MIN(s), MAX(s)) + {_COV_HORIZON_S}
               AS covered_s
      FROM grp GROUP BY 1, 2, 3
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(covered_s) AS BIGINT) AS covered_seconds
    FROM per_island GROUP BY 1
    """,
)
def interval_union_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Union length of per-user visit intervals per day: every event
    covers [ts, ts+5min); overlapping covers merge (the classic
    merge-overlapping-intervals, via the running-max-end island rule)
    and the day's report is exact covered seconds, island count, and
    active users — the utilization/coverage metric (ad exposure,
    machine busy-time) that raw event counts and 30-minute
    sessionization both fail to give. Equal-length intervals make the
    island rule exact with a plain running max of start times.

    Scale shape: one user/day-keyed running-max window (the
    sessionization shuffle), island ids from a second window on the
    SAME partitioning (no extra exchange), a bounded per-island
    aggregate, then a per-day rollup. Determinism: the
    second-truncated timestampdiff recipe; island boundaries compare
    exact seconds; covered_s is exact integer arithmetic."""
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("second", F.col("ts")).alias("s"),
    )
    wseq = (
        Window.partitionBy("user_id", "day")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = iv.select(
        "user_id", "day", "s", F.max("s").over(wseq).alias("prev_max")
    )
    isl = seq.select(
        "user_id",
        "day",
        "s",
        F.when(
            F.col("prev_max").isNull()
            | (
                F.expr("timestampdiff(SECOND, prev_max, s)")
                > _COV_HORIZON_S
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wcum = (
        Window.partitionBy("user_id", "day")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = isl.select(
        "user_id",
        "day",
        "s",
        F.sum("new_island").over(wcum).alias("island_id"),
    )
    per_island = grp.groupBy("user_id", "day", "island_id").agg(
        (
            F.expr("timestampdiff(SECOND, min(s), max(s))")
            + _COV_HORIZON_S
        )
        .cast("long")
        .alias("covered_s")
    )
    return per_island.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_islands"),
        F.sum("covered_s").cast("long").alias("covered_seconds"),
    ).select(
        F.col("day").cast("string").alias("day"),
        "n_users",
        "n_islands",
        "covered_seconds",
    )
