"""Batch-34 queries: rank-based ROC AUC, closed-form isotonic
calibration (PAVA via the max-min formula), and the t-closeness
privacy audit.

Families (each entry hash-oracled; determinism per the established
recipes):

- ROC AUC: the ranking-quality eval the score-calibration lane was
  missing — the Mann-Whitney identity AUC = (U / n_pos·n_neg) with
  MIDRANKS for ties, kept exactly integer by carrying 2·midrank
  (= 2·min_rank + tie_count − 1, always an integer).
- Isotonic calibration: the PAVA fit computed by its closed form
  fitted(j) = max_{i≤j} min_{k≥j} mean(y over bins [i..k]) on a
  bounded 20-bin summary — no sequential pooling loop, so both
  engines evaluate the identical bounded join. The calibration-map
  producer that ``score_calibration_bins`` (the reliability readout)
  pairs with.
- t-closeness (Li et al., ICDE 2007): total-variation distance of
  each quasi-identifier class's sensitive-attribute distribution from
  the global one — the release gate k-anonymity/l-diversity
  (``k_anonymity_audit``) cannot express (a class can be diverse yet
  badly skewed).

Reference parity: extends the reference's validation/report lane
(`base.py` indicator reports) with the model-eval and privacy reports
a production data platform publishes beside them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# ROC AUC per order priority (midrank Mann-Whitney)
# ---------------------------------------------------------------------------


@register(
    "roc_auc_report",
    oracle="""
    WITH scored AS (
      SELECT o_orderpriority AS priority,
             o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    ranked AS (
      SELECT priority, label,
             2 * rank() OVER (PARTITION BY priority ORDER BY score)
               + COUNT(*) OVER (PARTITION BY priority, score) - 1
               AS midrank2
      FROM scored
    ),
    agg AS (
      SELECT priority,
             CAST(SUM(label) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN label = 1 THEN midrank2 ELSE 0 END)
                  AS BIGINT) AS pos_midrank2
      FROM ranked GROUP BY 1
    )
    SELECT priority, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST((pos_midrank2 - n_pos * (n_pos + 1)) * 500000
                  // (n_pos * n_neg) AS BIGINT)
           END AS auc_micro
    FROM agg
    """,
)
def roc_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of order total price as a predictor of fulfilled status,
    per order priority — via the Mann-Whitney rank-sum identity
    AUC = (sum of positive midranks − n_pos(n_pos+1)/2) / (n_pos·n_neg),
    which needs NO threshold sweep: one rank window per group replaces
    materializing every ROC operating point. Ties get midranks, carried
    as the always-integer 2·midrank = 2·min_rank + tie_count − 1, so the
    whole computation stays in exact BIGINT (the final DIV scales by
    500000 because the numerator carries the factor of 2).

    Scale shape: one rank window + one tie-count window on the SAME
    (priority, score) sort order (a single sort per partition under
    whole-stage codegen), then one hash aggregate per group. No joins,
    no doubles. Determinism: exact integer ranks and truncating DIV.

    Reference parity: the eval sibling of the reference's indicator
    percentages (base.py:978-1018) — same report altitude, ranking
    quality instead of share-of-total."""
    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    ranked = scored.select(
        "priority",
        "label",
        (
            F.rank().over(Window.partitionBy("priority").orderBy("score"))
            * 2
            + F.count("*").over(Window.partitionBy("priority", "score"))
            - 1
        ).alias("midrank2"),
    )
    agg = ranked.groupBy("priority").agg(
        F.sum("label").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("label")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("label") == 1, F.col("midrank2")).otherwise(0))
        .cast("long")
        .alias("pos_midrank2"),
    )
    return agg.select(
        "priority",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "CAST((pos_midrank2 - n_pos * (n_pos + 1)) * 500000"
                " DIV (n_pos * n_neg) AS BIGINT)"
            ),
        ).alias("auc_micro"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via the PAVA max-min closed form
# ---------------------------------------------------------------------------

_ISO_BINS = 20


@register(
    "isotonic_calibration_pava",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    bounds AS (
      SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM scored
    ),
    binned AS (
      SELECT LEAST((s.cents - b.mn) * {_ISO_BINS}
                   // (b.mx - b.mn + 1), {_ISO_BINS - 1}) AS bin,
             s.label
      FROM scored s CROSS JOIN bounds b
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(label) AS BIGINT) AS s
      FROM binned GROUP BY 1
    ),
    cum AS (
      SELECT bin, w, s,
             SUM(w) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
      FROM bins
    ),
    pairs AS (
      SELECT a.bin AS i, b.bin AS k,
             (b.cs - a.cs + a.s) * 1000000
               // (b.cw - a.cw + a.w) AS pair_avg
      FROM cum a JOIN cum b ON b.bin >= a.bin
    ),
    inner_min AS (
      SELECT p.i, j.bin AS j, MIN(p.pair_avg) AS lo
      FROM pairs p JOIN bins j
        ON j.bin >= p.i AND j.bin <= p.k
      GROUP BY 1, 2
    )
    SELECT m.j AS bin, b.w AS n, b.s AS n_pos,
           CAST(b.s * 1000000 // b.w AS BIGINT) AS raw_rate_micro,
           CAST(MAX(m.lo) AS BIGINT) AS iso_rate_micro
    FROM inner_min m JOIN bins b ON b.bin = m.j
    GROUP BY 1, 2, 3
    """,
)
def isotonic_calibration_pava(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of the per-bin
    fulfilled rate against the order-price bin — the pool-adjacent-
    violators fit, computed by its CLOSED FORM
    fitted(j) = max_{i<=j} min_{k>=j} mean(label over bins [i..k])
    instead of the sequential pooling loop. On a 20-bin
    summary that is a bounded triple join (~20^3/6 rows), so
    the fit is pure relational algebra both engines evaluate
    identically, and the output is guaranteed monotone in the bin id
    (asserted in tests). Pairs with ``score_calibration_bins`` (the
    reliability READOUT) by producing the calibration MAP a serving
    system applies.

    Scale shape: the data-sized work is ONE pass (min/max bounds, then
    a binned groupBy); everything after runs on a 20-row
    frame — broadcast joins, no shuffle. At 100 TB the bin summary is
    the only thing that crosses the wire. Determinism: cents are exact
    DECIMAL->BIGINT, bin edges integer DIV, rates integer micro."""
    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    bounds = scored.agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    binned = scored.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"LEAST((cents - mn) * {_ISO_BINS} DIV (mx - mn + 1),"
            f" {_ISO_BINS - 1})"
        ).alias("bin"),
        "label",
    )
    # the 20-row bin summary feeds FOUR downstream references (cum a,
    # cum b, the j frame, the final join) — checkpoint it so the fact
    # scan happens once, not once per reference
    bins = (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("w"),
            F.sum("label").cast("long").alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    w_cum = (
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bins.select(
        "bin",
        "w",
        "s",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("s").over(w_cum).alias("cs"),
    )
    a = cum.alias("a")
    b = cum.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("b.bin") >= F.col("a.bin")
    ).select(
        F.col("a.bin").alias("i"),
        F.col("b.bin").alias("k"),
        F.expr(
            "(b.cs - a.cs + a.s) * 1000000 DIV (b.cw - a.cw + a.w)"
        ).alias("pair_avg"),
    )
    j = bins.select(F.col("bin").alias("j"))
    inner_min = (
        pairs.join(
            F.broadcast(j),
            (F.col("j") >= F.col("i")) & (F.col("j") <= F.col("k")),
        )
        .groupBy("i", "j")
        .agg(F.min("pair_avg").alias("lo"))
    )
    out = (
        inner_min.join(
            F.broadcast(bins), F.col("j") == F.col("bin")
        )
        .groupBy("j", "w", "s")
        .agg(F.max("lo").cast("long").alias("iso_rate_micro"))
    )
    return out.select(
        F.col("j").alias("bin"),
        F.col("w").alias("n"),
        F.col("s").alias("n_pos"),
        F.expr("CAST(s * 1000000 DIV w AS BIGINT)").alias(
            "raw_rate_micro"
        ),
        "iso_rate_micro",
    )


# ---------------------------------------------------------------------------
# t-closeness audit (total-variation distance to the global distribution)
# ---------------------------------------------------------------------------

_TC_BAND = 100000  # same $1000 acctbal band as k_anonymity_audit
_TC_T_MICRO = 300000  # t = 0.3 release threshold


@register(
    "t_closeness_audit",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nationkey,
             CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   - ((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                        AS BIGINT) % {_TC_BAND}) + {_TC_BAND})
                   % {_TC_BAND}) // {_TC_BAND} AS BIGINT) AS band,
             c_mktsegment AS sensitive
      FROM customer
    ),
    gdist AS (
      SELECT sensitive,
             CAST(COUNT(*) AS BIGINT) AS gc,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n
      FROM q GROUP BY 1
    ),
    grp AS (
      SELECT nationkey, band, CAST(COUNT(*) AS BIGINT) AS k
      FROM q GROUP BY 1, 2
    ),
    cell AS (
      SELECT nationkey, band, sensitive,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM q GROUP BY 1, 2, 3
    ),
    dist AS (
      SELECT g.nationkey, g.band, g.k,
             ABS(COALESCE(c.c, 0) * 1000000 // g.k
                 - gl.gc * 1000000 // gl.n) AS adiff
      FROM grp g
      CROSS JOIN gdist gl
      LEFT JOIN cell c ON c.nationkey = g.nationkey
                      AND c.band = g.band
                      AND c.sensitive = gl.sensitive
    )
    SELECT nationkey, band, CAST(MAX(k) AS BIGINT) AS k,
           CAST(SUM(adiff) // 2 AS BIGINT) AS tvd_micro,
           CAST(CASE WHEN SUM(adiff) // 2 <= {_TC_T_MICRO}
                     THEN 1 ELSE 0 END AS INT) AS is_t_close
    FROM dist GROUP BY 1, 2
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007):
    for each quasi-identifier equivalence class — the SAME
    (nation, $1000 balance band) classes ``k_anonymity_audit``
    measures — the total-variation distance between the class's
    market-segment distribution and the GLOBAL one (for categorical
    attributes under uniform ground distance, the Earth-Mover's
    distance of the paper reduces to TVD = ½·Σ|p_class − p_global|).
    Catches the leak k/l-diversity misses: a class can contain 3+
    distinct segments yet be 95% one of them, telling an attacker the
    segment with near-certainty. Classes with tvd ≤ t pass the gate.

    Scale shape: three hash aggregates over one projected scan (class,
    class×sensitive, global×sensitive), then the distance is computed
    on the bounded class×segment frame with the 5-row global
    distribution BROADCAST. At 100 TB only the aggregates shuffle;
    the join fan-out is |classes|×|segments|. Determinism: exact
    counts, per-term integer micro shares, truncating halving (the
    sum of absolute differences is even when both distributions sum
    to the same total, and the micro flooring keeps any residual
    off-by-one identical on both engines)."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.expr(
            "CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            f" - ((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
            f" % {_TC_BAND}) + {_TC_BAND}) % {_TC_BAND})"
            f" DIV {_TC_BAND} AS BIGINT)"
        ).alias("band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    # ONE scan: the finest aggregate (class × segment) is bounded —
    # checkpoint it and derive the class sizes, the global
    # distribution, and the population total from it instead of
    # re-scanning the customer table once per frame
    cell = (
        q.groupBy("nationkey", "band", "sensitive")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    n_total = cell.agg(F.sum("c").cast("long").alias("n"))
    glob = (
        cell.groupBy("sensitive")
        .agg(F.sum("c").cast("long").alias("gc"))
        .crossJoin(F.broadcast(n_total))
    )
    grp = cell.groupBy("nationkey", "band").agg(
        F.sum("c").cast("long").alias("k")
    )
    # fan every class out to every segment (broadcast, 5 rows), then
    # left-join the observed cell counts so ABSENT segments contribute
    # |0 - p_global| to the distance instead of vanishing
    dist = (
        grp.crossJoin(F.broadcast(glob.select("sensitive", "gc", "n")))
        .join(
            cell,
            ["nationkey", "band", "sensitive"],
            "left",
        )
        .select(
            "nationkey",
            "band",
            "k",
            F.expr(
                "ABS(COALESCE(c, 0) * 1000000 DIV k"
                " - gc * 1000000 DIV n)"
            ).alias("adiff"),
        )
    )
    return dist.groupBy("nationkey", "band").agg(
        F.max("k").cast("long").alias("k"),
        F.expr("CAST(SUM(adiff) DIV 2 AS BIGINT)").alias("tvd_micro"),
        F.expr(
            f"CAST(CASE WHEN SUM(adiff) DIV 2 <= {_TC_T_MICRO}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("is_t_close"),
    )
