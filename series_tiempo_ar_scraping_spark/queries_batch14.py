"""Batch-14 queries: operations-analytics and robust-statistics shapes.

Families (each entry hash-oracled; plan contracts in tests/test_plans.py):

- Clamped running balance (reflected-walk identity): inventory that
  can't go negative, computed WITHOUT per-row iteration via
  B_i = S_i - min(0, min_{j<=i} S_j) — two per-key window passes over
  the plain prefix sum, so the "stateful" simulation stays a
  whole-stage-codegen window scan.
- Robust trend: Theil-Sen median slope + the Mann-Kendall S statistic
  per series (the robust-regression twin of ``ols_normal_equations`` —
  immune to outliers that wreck least squares), pairwise over the
  bounded per-group series via ``upper_triangle_pairs``.
- Weighted order statistics: weighted median / p90 over the per-value
  count frame (never a sort of the raw facts) — the quantity-weighted
  complement of ``trimmed_winsorized_order_stats``' unweighted cuts.
- Nearest as-of join (pandas ``merge_asof(direction='nearest')``):
  backward AND forward carries from one unioned window scan, then an
  exact integer-seconds argmin with tolerance — no join at all, the
  third as-of direction after ``asof_last_click_before_purchase``
  (backward) and ``scd2_point_in_time_join`` (interval).
- Gaps-and-islands value runs: consecutive-day activity streaks via
  the day-minus-row_number anchor identity.
- LLM data mixing: temperature (alpha=1/2) corpus mixture
  reweighting — per-source sqrt acceptance thinning with exact
  cross-engine thresholds (IEEE sqrt is correctly rounded by
  standard, unlike pow/exp/ln).
- Embedding sketching: Johnson-Lindenstrauss +/-1 projection with an
  exact-integer distance-distortion audit on a bounded pair sample.
- TextRank keyword extraction: the repo's integer-PageRank discipline
  composed over a token co-occurrence graph (graph x text).
- Golden-record survivorship: field-level MDM merge — argmax of
  (non-null, freshness, priority) per field with provenance, via ONE
  generator fan-out + one max_by aggregate.
- Markov removal-effect attribution: absorbing-chain channel valuation
  (the 8th iterative family) — all removal scenarios iterate together
  in one (scenario, state) keyed channel-sized frame.
- Privacy governance: k-anonymity / l-diversity audit over
  quasi-identifier equivalence classes.
- Container ingestion: ZIP pack -> extract over binary columns as two
  Arrow stages (stdlib zipfile; content-only oracled outputs).
- Corpus diagnostics: Zipf power-law fit of token frequencies;
  mutual information / NMI between categoricals; train/test split
  LEAKAGE audit (near-dup edges x split assignment composition).
- Time-constrained window funnel (ClickHouse windowFunnel semantics)
  and a functional-dependency audit (cross-row governance contracts).
- Graph topology: degree assortativity (Newman r) over the
  co-occurrence edge list.
- Composed pipeline #4: embedding index build — near-dup dedup ->
  Lloyd k-means training -> IVF assignment -> recall-vs-exact eval as
  ONE hash-oracled entry (the ML-retrieval lane's nightly run).
- Ledger & temporal modeling: FIFO cost matching (interval
  intersection on the cumulative-quantity axis) and a bitemporal
  as-of query (SQL:2011 valid + transaction time).
- Eval & trend: per-class P/R/F1 report (registry-composed on naive
  Bayes, integer-exact rationals) and rolling OLS slopes from
  windowed Gram sums.
- Data contracts: declarative expectation suite
  (operators/expectations.py) — N contracts per table compiled into
  ONE scan.

Determinism recipe (repo standard, queries_batch8/12/13): exact
bigint/decimal arithmetic end-to-end; portable floor division is
spelled ``(num - ((num % den) + den) % den) / den`` in BOTH engines
(Spark DIV truncates while DuckDB ``//`` floors — subtracting the
positive mod first makes the quotient exact so either semantics
agree); timestamps are second-truncated before any diff (the
documented NTZ recipe); at most one double division per output column,
det-rounded.

Reference parity: extends the reference's series-transform family
(reference/scrapers/base.py pandas resample/mean lane) with the robust
trend/quantile statistics and stock-style balance logic a production
deployment of its output series would ask for next (SURVEY §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.dedup import (
    hash64_seeded,
    upper_triangle_pairs,
)
from series_tiempo_ar_scraping_spark.queries_batch13 import (
    naive_bayes_classify,
)
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Clamped running balance (reflected-walk / inventory family)
# ---------------------------------------------------------------------------


@register(
    "inventory_clamped_balance",
    oracle="""
    WITH m AS (
      SELECT l_suppkey AS suppkey,
             l_shipdate AS sd, l_orderkey AS ok, l_linenumber AS ln,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                            AS BIGINT)
                  ELSE -CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                             AS BIGINT) END AS delta
      FROM lineitem
    ),
    s AS (
      SELECT suppkey, sd, ok, ln, delta,
             SUM(delta) OVER (PARTITION BY suppkey
                              ORDER BY sd, ok, ln
                              ROWS UNBOUNDED PRECEDING) AS run
      FROM m
    ),
    b AS (
      SELECT suppkey, delta, run,
             run - LEAST(0, MIN(run) OVER (PARTITION BY suppkey
                                           ORDER BY sd, ok, ln
                                           ROWS UNBOUNDED PRECEDING))
               AS bal
      FROM s
    )
    SELECT suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(delta) - LEAST(0, MIN(run)) AS BIGINT)
             AS final_stock,
           CAST(MAX(bal) AS BIGINT) AS peak_stock,
           CAST(-LEAST(0, MIN(run)) AS BIGINT) AS lost_demand,
           CAST(SUM(CASE WHEN bal = 0 AND delta < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockout_events
    FROM b GROUP BY suppkey
    """,
)
def inventory_clamped_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-supplier stock simulation where the balance clamps at zero
    (returns replenish, shipments draw down, unmet draw-down is lost
    demand): B_i = max(0, B_{i-1} + delta_i). The naive formulation is
    inherently sequential; the reflected-random-walk identity
    B_i = S_i - min(0, min_{j<=i} S_j) turns it into two ordinary
    cumulative windows over the prefix sum S — fully parallel per
    supplier, whole-stage-codegen all the way.

    Reported per supplier: event count, final stock, peak stock, lost
    (clamped-away) demand = -min(0, min prefix), and the number of
    stock-out events (balance pinned at 0 by a draw-down).

    Scale shape: ONE shuffle on suppkey; both windows share the same
    (partition, order) spec so Spark evaluates them in a single Window
    exec over one sort; the final per-supplier aggregate is map-side
    combinable. Determinism: quantities are exact cent-ints; the event
    order (shipdate, orderkey, linenumber) is a total order per
    supplier; everything stays bigint."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )
    m = li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.when(F.col("l_returnflag") == "R", qty)
        .otherwise(-qty)
        .alias("delta"),
    )
    w = (
        Window.partitionBy("suppkey")
        .orderBy("sd", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = m.withColumn("run", F.sum("delta").over(w))
    b = s.withColumn(
        "bal",
        F.col("run") - F.least(F.lit(0), F.min("run").over(w)),
    )
    return b.groupBy("suppkey").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.sum("delta") - F.least(F.lit(0), F.min("run")))
        .cast("long")
        .alias("final_stock"),
        F.max("bal").cast("long").alias("peak_stock"),
        (-F.least(F.lit(0), F.min("run")))
        .cast("long")
        .alias("lost_demand"),
        F.sum(
            F.when((F.col("bal") == 0) & (F.col("delta") < 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_stockout_events"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen slope + Mann-Kendall trend test (robust-statistics family)
# ---------------------------------------------------------------------------

_TS_BASE_YEAR = 1992


@register(
    "series_theilsen_trend",
    oracle=f"""
    WITH mo AS (
      SELECT n.n_name AS nation,
             CAST((year(o_orderdate) - {_TS_BASE_YEAR}) * 12
                  + month(o_orderdate) - 1 AS BIGINT) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    pr AS (
      SELECT a.nation,
             (b.cents - a.cents) * 1000000 AS num,
             b.m - a.m AS den,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM mo a JOIN mo b ON a.nation = b.nation AND a.m < b.m
    ),
    sl AS (
      SELECT nation, sgn,
             -- the mod-subtraction makes num exactly divisible, so //
             -- is exact integer math (never a double division)
             CAST((num - ((num % den) + den) % den) // den AS BIGINT)
               AS slope_micro
      FROM pr
    ),
    rk AS (
      SELECT nation, sgn, slope_micro,
             row_number() OVER (PARTITION BY nation
                                ORDER BY slope_micro) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS n_pairs,
             SUM(sgn) OVER (PARTITION BY nation) AS s_stat
      FROM sl
    ),
    np AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_points FROM mo
      GROUP BY 1
    )
    SELECT r.nation, np.n_points,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           CAST(r.s_stat AS BIGINT) AS s_stat,
           {det_round_sql(
               'CAST(r.s_stat AS DOUBLE) / r.n_pairs', 6)} AS kendall_tau,
           CAST(r.slope_micro AS BIGINT) AS theilsen_slope_micro,
           CAST(r.slope_micro AS DOUBLE) / 1000000 AS theilsen_slope
    FROM rk r JOIN np ON np.nation = r.nation
    WHERE r.rn = (r.n_pairs + 1) // 2
    """,
)
def series_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per nation's monthly-revenue series: the Theil-Sen
    estimator (median of all pairwise slopes — 29% breakdown point, vs
    0 for OLS) plus the Mann-Kendall S statistic and Kendall's tau (the
    nonparametric "is there a monotone trend" test). The
    outlier-immune complement to ``ols_normal_equations`` and
    ``series_linear_trend``'s least-squares fits.

    Scale shape: the fact tables collapse to one (nation, month)
    aggregate first; each nation's bounded series (≤ ~84 points) is
    group-collected ONCE and pair-expanded via ``upper_triangle_pairs``
    — evaluating the upstream pipeline once where a self-join would
    run it per side and shuffle twice. Pair counts are quadratic only
    in the BOUNDED per-series length, never in fact rows (at 100 TB
    you bound the window, not the corpus). Determinism: slopes are
    exact integer micro-units via the portable floor division
    ``(num - ((num % den) + den) % den) / den`` (den > 0 by i<j
    construction, num any sign); the median is the ((n+1) DIV 2)-th
    order statistic of those exact ints; tau is one double division.
    Cites: Theil 1950 / Sen 1968; Mann 1945 / Kendall 1975."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    mo = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - _TS_BASE_YEAR) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("m"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    series = mo.groupBy("nation").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("m"), F.col("cents")))
        ).alias("pts")
    )
    pairs = series.select(
        "nation",
        F.size("pts").cast("long").alias("n_points"),
        F.explode(
            upper_triangle_pairs(
                F.col("pts"),
                lambda a, b: F.struct(
                    ((b["cents"] - a["cents"]) * 1000000).alias("num"),
                    (b["m"] - a["m"]).alias("den"),
                    F.when(b["cents"] > a["cents"], 1)
                    .when(b["cents"] < a["cents"], -1)
                    .otherwise(0)
                    .alias("sgn"),
                ),
            )
        ).alias("p"),
    ).select(
        "nation",
        "n_points",
        F.col("p.sgn").alias("sgn"),
        # the mod-subtraction makes num exactly divisible, so truncating
        # DIV equals floor division and stays exact bigint (a `/` here
        # would be a double division — inexact past 2^53)
        F.expr(
            "CAST((p.num - ((p.num % p.den) + p.den) % p.den)"
            " DIV p.den AS BIGINT)"
        ).alias("slope_micro"),
    )
    w_rank = Window.partitionBy("nation").orderBy("slope_micro")
    w_all = Window.partitionBy("nation")
    rk = pairs.select(
        "nation",
        "n_points",
        "slope_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n_pairs"),
        F.sum("sgn").over(w_all).alias("s_stat"),
    )
    return rk.filter(
        F.col("rn") == F.expr("(n_pairs + 1) DIV 2")
    ).select(
        "nation",
        "n_points",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("s_stat").cast("long").alias("s_stat"),
        det_round(
            F.col("s_stat").cast("double") / F.col("n_pairs"), 6
        ).alias("kendall_tau"),
        F.col("slope_micro").cast("bigint").alias(
            "theilsen_slope_micro"
        ),
        (F.col("slope_micro").cast("double") / 1000000).alias(
            "theilsen_slope"
        ),
    )


# ---------------------------------------------------------------------------
# Weighted order statistics (weighted median / p90)
# ---------------------------------------------------------------------------


@register(
    "weighted_median_discount",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag, l_linestatus,
             CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)
               AS bp,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS w
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag, l_linestatus, bp,
             CAST(SUM(w) AS BIGINT) AS w
      FROM m GROUP BY 1, 2, 3
    ),
    c AS (
      SELECT l_returnflag, l_linestatus, bp, w,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                          ORDER BY bp ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus)
               AS tot
      FROM g
    )
    SELECT l_returnflag, l_linestatus,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN bp END) AS BIGINT)
             AS w_median_bp,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN bp END) AS DOUBLE)
             / 10000 AS w_median,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN bp END)
             AS BIGINT) AS w_p90_bp
    FROM c GROUP BY 1, 2
    """,
)
def weighted_median_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted median and p90 of the discount per (returnflag,
    linestatus): the weighted quantile is the smallest value whose
    cumulative weight reaches the target share — "the discount at
    which half the shipped units sit at or below". Weighted order
    statistics are what pricing/allocation dashboards actually need
    (every unit votes, not every line), complementing
    ``percentile_order_values`` (unweighted, interpolated) and
    ``trimmed_winsorized_order_stats`` (unweighted rank cuts).

    Scale shape: the raw facts collapse to a per-DISTINCT-value weight
    frame first (11 discount values per group), so the cumulative
    window runs over dozens of rows — never a sort of the fact table.
    Determinism: weights are exact cent-ints; the threshold test
    ``2*cum >= tot`` / ``10*cum >= 9*tot`` stays in exact integers (no
    division at all); the only double is the bp/10000 display cast."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_discount").cast("decimal(6,4)") * 10000)
        .cast("bigint")
        .alias("bp"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("w"),
    )
    g = m.groupBy("l_returnflag", "l_linestatus", "bp").agg(
        F.sum("w").cast("long").alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy("bp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag", "l_linestatus")
    c = g.select(
        "l_returnflag",
        "l_linestatus",
        "bp",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_all).alias("tot"),
    )
    med = F.min(
        F.when(2 * F.col("cum") >= F.col("tot"), F.col("bp"))
    )
    return c.groupBy("l_returnflag", "l_linestatus").agg(
        F.max("tot").cast("long").alias("total_weight"),
        F.count("*").alias("n_values"),
        med.cast("long").alias("w_median_bp"),
        (med.cast("double") / 10000).alias("w_median"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("bp"))
        )
        .cast("long")
        .alias("w_p90_bp"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (merge_asof direction='nearest')
# ---------------------------------------------------------------------------

_NEAREST_TOL_SECS = 6 * 3600
_NEAREST_ANCHOR = "1995-01-01 00:00:00"


@register(
    "asof_nearest_click_to_purchase",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             date_diff('second', TIMESTAMP '{_NEAREST_ANCHOR}',
                       date_trunc('second', ts)) AS e
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    p AS (SELECT event_id, user_id, e FROM ev
          WHERE event_type = 'purchase'),
    c AS (SELECT user_id, e FROM ev WHERE event_type = 'click'),
    cand AS (
      SELECT p.event_id, p.user_id, p.e,
             (SELECT MAX(c.e) FROM c
              WHERE c.user_id = p.user_id AND c.e <= p.e) AS back_e,
             (SELECT MIN(c.e) FROM c
              WHERE c.user_id = p.user_id AND c.e >= p.e) AS fwd_e
      FROM p
    ),
    d AS (
      SELECT event_id, user_id, e,
             CASE WHEN e - back_e <= {_NEAREST_TOL_SECS}
                  THEN e - back_e END AS bd,
             CASE WHEN fwd_e - e <= {_NEAREST_TOL_SECS}
                  THEN fwd_e - e END AS fd,
             back_e, fwd_e
      FROM cand
    )
    SELECT event_id, user_id, CAST(e AS BIGINT) AS purchase_sec,
           CAST(CASE WHEN bd IS NOT NULL
                       AND (fd IS NULL OR bd <= fd) THEN back_e
                     WHEN fd IS NOT NULL THEN fwd_e END AS BIGINT)
             AS nearest_click_sec,
           CAST(CASE WHEN bd IS NOT NULL
                       AND (fd IS NULL OR bd <= fd) THEN bd
                     WHEN fd IS NOT NULL THEN fd END AS BIGINT)
             AS diff_secs,
           CASE WHEN bd IS NOT NULL AND (fd IS NULL OR bd <= fd)
                  THEN 'back'
                WHEN fd IS NOT NULL THEN 'fwd'
                ELSE 'none' END AS direction
    FROM d
    """,
)
def asof_nearest_click_to_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-direction as-of join with tolerance (pandas
    ``merge_asof(direction='nearest', tolerance=6h)``): each purchase
    finds its temporally closest click by the same user within ±6
    hours, preferring the earlier click on exact ties. Completes the
    as-of family: backward (``asof_last_click_before_purchase``),
    interval (``scd2_point_in_time_join``), and now nearest.

    Scale shape: NO join — clicks and purchases union into one stream,
    ONE shuffle on user_id, and two carry windows over the same sort
    (last click at-or-before, first click at-or-after via the reversed
    frame); the argmin is per-row CASE arithmetic. The correlated-
    subquery oracle is the spec, not the plan. Determinism: both
    engines diff second-TRUNCATED timestamps from a fixed anchor (the
    documented NTZ recipe — DuckDB date_diff counts boundary crossings
    while Spark timestampdiff truncates; identical only after
    date_trunc), so every distance is an exact bigint; ties prefer
    'back' by the <= in both engines."""
    e = load_table(spark, sf_dir, "events")
    ev = e.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(
            f"timestampdiff(SECOND, timestamp'{_NEAREST_ANCHOR}',"
            " date_trunc('second', ts))"
        )
        .cast("long")
        .alias("e"),
        F.when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("is_click"),
    )
    # Clicks sort before purchases at equal seconds in BOTH directions,
    # so a same-second click is visible to both carries (diff 0).
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.col("e"), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("e").desc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_e = F.when(F.col("is_click") == 1, F.col("e"))
    carried = ev.withColumn(
        "back_e", F.last(click_e, ignorenulls=True).over(w_back)
    ).withColumn(
        "fwd_e", F.last(click_e, ignorenulls=True).over(w_fwd)
    )
    tol = F.lit(_NEAREST_TOL_SECS)
    bd = F.when(
        F.col("e") - F.col("back_e") <= tol,
        F.col("e") - F.col("back_e"),
    )
    fd = F.when(
        F.col("fwd_e") - F.col("e") <= tol,
        F.col("fwd_e") - F.col("e"),
    )
    d = carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("e").alias("purchase_sec"),
        bd.alias("bd"),
        fd.alias("fd"),
        "back_e",
        "fwd_e",
    )
    take_back = F.col("bd").isNotNull() & (
        F.col("fd").isNull() | (F.col("bd") <= F.col("fd"))
    )
    return d.select(
        "event_id",
        "user_id",
        F.col("purchase_sec").cast("long").alias("purchase_sec"),
        F.when(take_back, F.col("back_e"))
        .when(F.col("fd").isNotNull(), F.col("fwd_e"))
        .cast("long")
        .alias("nearest_click_sec"),
        F.when(take_back, F.col("bd"))
        .when(F.col("fd").isNotNull(), F.col("fd"))
        .cast("long")
        .alias("diff_secs"),
        F.when(take_back, F.lit("back"))
        .when(F.col("fd").isNotNull(), F.lit("fwd"))
        .otherwise(F.lit("none"))
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Activity-streak islands (gaps-and-islands family)
# ---------------------------------------------------------------------------


@register(
    "activity_streak_islands",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    anch AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INT) AS anchor
      FROM ud
    ),
    streaks AS (
      SELECT user_id, anchor,
             CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS s, MAX(d) AS e
      FROM anch GROUP BY 1, 2
    ),
    best AS (
      SELECT user_id, len, s, e,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, s) AS rk,
             SUM(len) OVER (PARTITION BY user_id) AS n_active_days,
             COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
      FROM streaks
    )
    SELECT user_id,
           CAST(n_active_days AS BIGINT) AS n_active_days,
           CAST(n_streaks AS BIGINT) AS n_streaks,
           len AS longest_streak,
           s AS longest_start, e AS longest_end
    FROM best WHERE rk = 1
    """,
)
def activity_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-day streaks: each user's distinct
    activity days split into maximal runs of consecutive dates via the
    classic anchor identity (day − row_number is constant exactly
    within a consecutive run), reporting active-day total, number of
    streaks, and the longest streak (ties → earliest). THE
    engagement-analytics shape (login streaks, SLA run-lengths,
    sensor-uptime islands), complementing ``sessionize_events``
    (time-gap islands at second grain) and ``series_gap_check``
    (calendar-gap detection) with value-run grouping.

    Scale shape: one distinct on (user, day) — the only fact-sized
    shuffle; every window partitions by user_id and reuses that same
    hash partitioning (Spark chains them with no extra exchange); the
    streak frame is |user × streak|, far smaller than events.
    Determinism: date arithmetic is exact; ties on streak length break
    on earliest start date."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    w_rn = Window.partitionBy("user_id").orderBy("d")
    anch = ud.withColumn(
        "anchor",
        F.date_sub(F.col("d"), F.row_number().over(w_rn)),
    )
    streaks = anch.groupBy("user_id", "anchor").agg(
        F.count("*").cast("long").alias("len"),
        F.min("d").alias("s"),
        F.max("d").alias("e"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("s")
    )
    w_all = Window.partitionBy("user_id")
    best = streaks.select(
        "user_id",
        "len",
        "s",
        "e",
        F.row_number().over(w_best).alias("rk"),
        F.sum("len").over(w_all).alias("n_active_days"),
        F.count("*").over(w_all).alias("n_streaks"),
    )
    return best.filter(F.col("rk") == 1).select(
        "user_id",
        F.col("n_active_days").cast("long").alias("n_active_days"),
        F.col("n_streaks").cast("long").alias("n_streaks"),
        F.col("len").alias("longest_streak"),
        F.col("s").alias("longest_start"),
        F.col("e").alias("longest_end"),
    )


# ---------------------------------------------------------------------------
# Corpus mixture reweighting (LLM data-mixing family)
# ---------------------------------------------------------------------------

_MIX_SEED = 47
_MIX_U = 1000000  # acceptance threshold resolution


@register(
    "corpus_mixture_reweighting",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_toks_of_norm('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tok
      FROM d GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(tok) AS BIGINT) AS tok_total,
             CAST(MIN(tok) AS BIGINT) AS tok_min
      FROM s
    ),
    a AS (
      SELECT s.source, s.n_docs, s.tok, t.tok_total,
             CAST(FLOOR(sqrt(CAST(t.tok_min AS DOUBLE) / s.tok)
                        * {_MIX_U} + 0.5) AS BIGINT) AS accept_micro
      FROM s, t
    ),
    kept AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM(d.n_tokens) AS BIGINT) AS kept_tok
      FROM d JOIN a ON a.source = d.source
      WHERE {_hex60_seeded(str(_MIX_SEED), 'CAST(d.doc_id AS VARCHAR)')}
            % {_MIX_U} < a.accept_micro
      GROUP BY 1
    ),
    kt AS (SELECT CAST(SUM(kept_tok) AS BIGINT) AS kept_total FROM kept)
    SELECT a.source, a.n_docs, a.tok AS n_tokens,
           {det_round_sql('CAST(a.tok AS DOUBLE) / a.tok_total', 6)}
             AS token_share,
           a.accept_micro,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_tok, 0) AS kept_tokens,
           {det_round_sql(
               'CAST(COALESCE(k.kept_tok, 0) AS DOUBLE) / kt.kept_total',
               6)} AS kept_share
    FROM a LEFT JOIN kept k ON k.source = a.source, kt
    """,
)
def corpus_mixture_reweighting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based corpus mixture reweighting (the multilingual-
    LM data-mixing recipe: sample source i proportional to p_i^alpha
    instead of its natural share p_i, here alpha = 1/2): per-source
    acceptance rate sqrt(p_min/p_i) — the over-represented source is
    thinned hardest, the smallest source keeps everything — applied as
    seeded-hash Bernoulli thinning per document. Reports the before/
    after token mix. Alpha = 1/2 is chosen deliberately: IEEE 754
    requires sqrt to be CORRECTLY rounded, so unlike pow/exp/ln the
    acceptance threshold is bit-identical cross-engine by standard.

    Scale shape: one token-count projection (map-side), one per-source
    aggregate, the tiny source frame broadcast back onto documents for
    the thinning filter, one more per-source aggregate — no fact-sized
    join or sort anywhere. Determinism: token counts exact ints; the
    threshold is floor(sqrt(exact-int ratio)·1e6+0.5) (one division,
    one correctly-rounded sqrt); the per-doc draw is the seeded 60-bit
    hash mod 1e6; shares are one double division each, det-rounded.
    Cites: Conneau & Lample 2019 (XLM exponentiated sampling);
    Raffel et al. 2020 (T5 mixing)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(TX.normalize_text("text")))
        .cast("long")
        .alias("n_tokens"),
    )
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tok"),
    )
    t = s.agg(
        F.sum("tok").cast("long").alias("tok_total"),
        F.min("tok").cast("long").alias("tok_min"),
    )
    a = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "tok",
        "tok_total",
        F.floor(
            F.sqrt(F.col("tok_min").cast("double") / F.col("tok"))
            * _MIX_U
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("accept_micro"),
    )
    # |sources| rows, reused by the thinning join AND the final report —
    # checkpointing stops the corpus token aggregate from re-running per
    # consumer and keeps the final join a broadcast of two tiny frames.
    a = a.localCheckpoint(eager=False)
    u = hash64_seeded(F.col("doc_id").cast("string"), _MIX_SEED) % _MIX_U
    kept = (
        d.join(
            F.broadcast(a.select("source", "accept_micro")), "source"
        )
        .filter(u < F.col("accept_micro"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("kept_tok"),
        )
        .localCheckpoint(eager=False)  # reused: final join + kept_total
    )
    kt = kept.agg(F.sum("kept_tok").cast("long").alias("kept_total"))
    return (
        a.join(F.broadcast(kept), "source", "left")
        .crossJoin(F.broadcast(kt))
        .select(
            "source",
            "n_docs",
            F.col("tok").alias("n_tokens"),
            det_round(
                F.col("tok").cast("double") / F.col("tok_total"), 6
            ).alias("token_share"),
            "accept_micro",
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("kept_tok"), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
            det_round(
                F.coalesce(F.col("kept_tok"), F.lit(0)).cast("double")
                / F.col("kept_total"),
                6,
            ).alias("kept_share"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding-sketch family)
# ---------------------------------------------------------------------------

import hashlib  # noqa: E402

_JL_DIM = 64  # input embedding width (fixture contract)
_JL_OUT = 8  # projected width
# Deterministic +/-1 sign matrix, derived ONCE in Python from md5 parity
# and embedded as literals in BOTH engines — like the NDCG discount
# table, there is no runtime randomness to diverge.
_JL_SIGNS = [
    [
        1
        if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest(), 16) % 2 == 0
        else -1
        for i in range(_JL_DIM)
    ]
    for j in range(_JL_OUT)
]
_JL_SAMPLE = 24  # vec_id bound for the distortion-audit pair sample


def _jl_q_sql(col: str) -> str:
    """Quantized embedding (milli-int list) — exact bigints, so every
    distance below is exact integer arithmetic."""
    return (
        f"list_transform({col}, "
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )


def _jl_proj_sql(qcol: str) -> str:
    """The 8 projections as a SQL list literal of exact integer sums."""
    terms = []
    for j in range(_JL_OUT):
        signs = "[" + ", ".join(str(s) for s in _JL_SIGNS[j]) + "]"
        terms.append(
            f"CAST(list_sum(list_transform(generate_series(1, {_JL_DIM}),"
            f" i -> {qcol}[i] * ({signs}::BIGINT[])[i])) AS BIGINT)"
        )
    return "[" + ", ".join(terms) + "]"


@register(
    "jl_projection_distortion",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_jl_q_sql('embedding')} AS q
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, q, {_jl_proj_sql('q')} AS p
      FROM q
    ),
    sample AS (SELECT * FROM p WHERE vec_id < {_JL_SAMPLE}),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(list_sum(list_transform(
               generate_series(1, {_JL_DIM}),
               i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
               AS BIGINT) AS d2_orig,
             CAST(list_sum(list_transform(
               generate_series(1, {_JL_OUT}),
               j -> (a.p[j] - b.p[j]) * (a.p[j] - b.p[j])))
               AS BIGINT) AS d2_proj
      FROM sample a JOIN sample b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, d2_orig, d2_proj,
           {det_round_sql(
               'CAST(d2_proj AS DOUBLE)'
               f' / NULLIF({_JL_OUT} * d2_orig, 0)', 6)}
             AS distortion_ratio
    FROM pairs
    """,
)
def jl_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss sketching: project every 64-d embedding to
    8 dims with a fixed +/-1 sign matrix (Achlioptas 2001 — database-
    friendly random projections), then audit distance preservation on
    a bounded pair sample: E[|Px - Py|^2] = k*|x - y|^2, so the
    reported distortion_ratio concentrates around 1. The cheap
    dimensionality-reduction stage that runs BEFORE ANN indexing at
    100 TB (8 ints per vector instead of 64 floats shrinks every
    downstream shuffle 8x); complements PQ (codebook compression) with
    an oblivious, training-free sketch.

    Scale shape: the projection is a pure map-side expression over the
    corpus (zip_with + aggregate per output dim — no UDF, no shuffle);
    only the bounded audit sample (24 vectors, 276 pairs) self-joins,
    broadcast. Determinism: embeddings quantize to exact milli-ints
    (explicit double cast first — the FLOAT gotcha), the sign matrix
    is Python-precomputed literals, so projections and BOTH distances
    are exact bigint sums; the ratio is one double division,
    det-rounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("q"),
    )
    zero = F.lit(0).cast("long")
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.array(*[F.lit(s) for s in _JL_SIGNS[j]]),
                    lambda a, b: a * b.cast("long"),
                ),
                zero,
                lambda acc, x: acc + x,
            )
            for j in range(_JL_OUT)
        ]
    )
    p = q.select("vec_id", "q", proj.alias("p"))
    sample = p.filter(F.col("vec_id") < _JL_SAMPLE)
    a = sample.select(
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("qa"),
        F.col("p").alias("pa"),
    )
    b = sample.select(
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("qb"),
        F.col("p").alias("pb"),
    )

    def sq_dist(x: str, y: str):
        return F.aggregate(
            F.zip_with(
                F.col(x), F.col(y), lambda u, v: (u - v) * (u - v)
            ),
            zero,
            lambda acc, z: acc + z,
        )

    pairs = a.join(
        F.broadcast(b), F.col("a_id") < F.col("b_id")
    ).select(
        "a_id",
        "b_id",
        sq_dist("qa", "qb").cast("bigint").alias("d2_orig"),
        sq_dist("pa", "pb").cast("bigint").alias("d2_proj"),
    )
    return pairs.select(
        "a_id",
        "b_id",
        "d2_orig",
        "d2_proj",
        det_round(
            F.col("d2_proj").cast("double")
            / F.nullif(F.lit(_JL_OUT) * F.col("d2_orig"), F.lit(0)),
            6,
        ).alias("distortion_ratio"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (graph x text composition)
# ---------------------------------------------------------------------------

_TR_MINLEN = 4  # content-word heuristic: tokens shorter than this drop
_TR_TOPK = 25
_TR_ITERS = 3


def _textrank_prefix_sql() -> str:
    """Shared WITH-prefix: windowed co-occurrence edges over the
    length-filtered token sequence, degree frame, node set."""
    return f"""
    tk AS (
      SELECT doc_id,
             list_filter({_toks_of_norm('text')},
                         t -> length(t) >= {_TR_MINLEN}) AS toks
      FROM documents
    ),
    adj AS (
      SELECT u.a, u.b FROM (
        SELECT unnest(list_transform(
                 generate_series(1, len(toks) - 1),
                 i -> struct_pack(a := least(toks[i], toks[i+1]),
                                  b := greatest(toks[i], toks[i+1]))))
                 AS u
        FROM tk WHERE len(toks) >= 2
      ) WHERE u.a <> u.b
    ),
    pairs AS (
      SELECT a, b FROM adj GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1)
    """


def _textrank_iter_sql(prev: str, cur: str) -> str:
    # same integer micro-unit recipe as queries_batch5's pagerank —
    # duplicated locally because shared oracle fragments must live in a
    # LEAF module and this one is textrank-specific (sqlfrags rule)
    return f"""
    c{cur} AS (
      SELECT e.dst AS id, SUM({prev}.r // d.outdeg) AS s
      FROM edges e
      JOIN {prev} ON {prev}.id = e.src
      JOIN deg d ON d.id = e.src
      GROUP BY 1
    ),
    {cur} AS (
      SELECT n.id,
             CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT)
               AS r
      FROM nodes n LEFT JOIN c{cur} c ON c.id = n.id
    )"""


@register(
    "textrank_keywords",
    oracle=f"""
    WITH {_textrank_prefix_sql()},
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    {_textrank_iter_sql("r0", "r1")},
    {_textrank_iter_sql("r1", "r2")},
    {_textrank_iter_sql("r2", "r3")}
    SELECT id AS token, r AS rank_micro
    FROM r3 ORDER BY r DESC, id LIMIT {_TR_TOPK}
    """,
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keyword extraction (Mihalcea & Tarau 2004):
    PageRank over the token co-occurrence graph — content tokens
    (length >= 4) are nodes, adjacent-token pairs seen >= 2 times are
    undirected edges, 3 damped (0.85) iterations, global top-25. The
    graph-centrality alternative to frequency-based keywording
    (``tfidf_top_terms``): a token ranks high when it co-occurs with
    other well-connected tokens, not merely when it is common.

    Scale shape: edge derivation is ONE corpus scan (generator over
    consecutive filtered-token pairs) + one count aggregate with the
    >= 2 prune; the graph is VOCABULARY-sized, so the iterations run on
    frames orders of magnitude smaller than the corpus. Determinism + iteration
    discipline is the repo's pagerank recipe verbatim: integer
    micro-unit ranks (contribution = r DIV outdeg; next = 150000 +
    850*sum DIV 1000 — partial sums commute, bit-identical across
    partitionings), edge+degree frame checkpointed ONCE, top-k via
    TakeOrdered with token tie-break. r13: the symmetrized edge list
    makes every node some edge's dst, so contribs covers ALL nodes and
    the old per-round nodes⋈contribs left join (plus its coalesce(s,0)
    dangling-node branch) was an identity — dropped, along with the
    per-round checkpoints (each round's ranks frame has exactly one
    consumer, so the 3-round lineage plans as ONE job over the
    checkpointed vocab-sized src_deg frame)."""
    docs = load_table(spark, sf_dir, "documents")
    # Explicit repartition before the CPU-heavy tokenize + pair explode:
    # a cold single-row-group parquet scan is ONE task, serializing the
    # corpus-sized generator (measured 72s -> ~5s cold at sf0.1 on
    # local[32]) — the queries_batch9 shingle-projection idiom. At
    # 100 TB the same width comes free from row-group splits.
    tk = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        F.filter(
            TX.tokens(TX.normalize_text("text")),
            lambda t: F.length(t) >= _TR_MINLEN,
        ).alias("toks")
    ).filter(F.size("toks") >= 2)
    adj = tk.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - F.lit(2)),
                lambda i: F.struct(
                    F.least(
                        F.try_element_at("toks", i + 1),
                        F.try_element_at("toks", i + 2),
                    ).alias("a"),
                    F.greatest(
                        F.try_element_at("toks", i + 1),
                        F.try_element_at("toks", i + 2),
                    ).alias("b"),
                ),
            )
        ).alias("u")
    ).filter(F.col("u.a") != F.col("u.b"))
    pairs = (
        adj.groupBy("u.a", "u.b")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("a", "b")
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("b").alias("src"), F.col("a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    src_deg = (
        edges.join(deg, edges["src"] == deg["id"])
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select(
        "id", F.lit(1000000).cast("bigint").alias("r")
    )
    for _ in range(_TR_ITERS):
        contribs = (
            src_deg.join(ranks, src_deg["src"] == ranks["id"])
            .select(F.col("dst"), F.expr("r DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("id"),
            (
                F.lit(150000).cast("bigint")
                + F.expr("850 * s DIV 1000")
            ).alias("r"),
        )
    return (
        ranks.orderBy(F.col("r").desc(), "id")
        .limit(_TR_TOPK)
        .select(
            F.col("id").alias("token"),
            F.col("r").alias("rank_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship (master-data-management family)
# ---------------------------------------------------------------------------

# Three deterministic "source systems" derived from customer: each
# carries a subset of fields, with seeded-hash nulls and staleness, so
# per-field survivorship has real work to do.
_GR_SOURCES = [
    ("crm", 3, 61),
    ("billing", 2, 62),
    ("legacy", 1, 63),
]


def _gr_union_sql() -> str:
    h = {
        s: _hex60_seeded(str(seed), "CAST(c_custkey AS VARCHAR)")
        for s, _, seed in _GR_SOURCES
    }
    cents = "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
    return f"""
      SELECT c_custkey AS custkey, 'crm' AS src, CAST(3 AS BIGINT)
               AS prio,
             CAST({h['crm']} % 1000 AS BIGINT) AS ts,
             CASE WHEN {h['crm']} % 4 <> 0 THEN c_name END AS name,
             CAST(NULL AS BIGINT) AS acctbal_cents,
             CASE WHEN {h['crm']} % 3 <> 0 THEN c_mktsegment END
               AS mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey, 'billing', 2,
             CAST({h['billing']} % 1000 AS BIGINT),
             NULL,
             CASE WHEN {h['billing']} % 5 <> 0 THEN {cents} END,
             NULL
      FROM customer
      UNION ALL
      SELECT c_custkey, 'legacy', 1,
             CAST({h['legacy']} % 1000 AS BIGINT),
             upper(c_name), {cents} - 1000, lower(c_mktsegment)
      FROM customer
    """


def _gr_pick_sql(field: str) -> str:
    # survivorship key packed into ONE bigint (ts < 1000, prio < 10):
    # (non-null, freshest ts, priority), lexicographic by construction —
    # DuckDB's arg_max has no struct-key overload, so both engines rank
    # on the identical packed integer
    key = (
        f"(CASE WHEN {field} IS NULL THEN 0 ELSE 1 END) * 100000"
        " + ts * 10 + prio"
    )
    return (
        f"arg_max({field}, {key}) AS {field}, "
        f"arg_max(src, {key}) AS {field}_src"
    )


@register(
    "golden_record_survivorship",
    oracle=f"""
    WITH recs AS ({_gr_union_sql()})
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           {_gr_pick_sql('name')},
           {_gr_pick_sql('acctbal_cents')},
           {_gr_pick_sql('mktsegment')}
    FROM recs GROUP BY custkey
    """,
)
def golden_record_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Master-data golden record with FIELD-level survivorship: three
    source systems carry overlapping, partially-null, partially-stale
    views of each customer; per field the winner is argmax of
    (non-null, freshest timestamp, source priority) — so one golden
    row can mix sources per field, each with provenance. The MDM merge
    step after entity resolution (``dedup_connected_components`` /
    ``fuzzy_blocked_name_join`` find the cluster; this decides what
    the surviving record SAYS), record-level precedence being the
    simpler ``merge_sources_by_priority``.

    Scale shape: ONE customer scan fans out to the three source views
    via a generator (explode of a 3-struct array — no self-union of
    scans), then ONE groupBy custkey where every field+provenance pick
    is a max_by with a (notnull, ts, prio) struct key — map-side
    combinable, 1 exchange total. Determinism: the key is exact ints
    plus distinct per-source priorities, so no ties exist; struct
    comparison is lexicographic in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )

    def h(seed: int):
        return hash64_seeded(F.col("c_custkey").cast("string"), seed)

    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")

    def rec(src, prio, name, acct, seg, seed):
        return F.struct(
            F.lit(src).alias("src"),
            F.lit(prio).cast("long").alias("prio"),
            (h(seed) % 1000).cast("bigint").alias("ts"),
            name.alias("name"),
            acct.alias("acctbal_cents"),
            seg.alias("mktsegment"),
        )

    recs = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.explode(
            F.array(
                rec(
                    "crm",
                    3,
                    F.when(h(61) % 4 != 0, F.col("c_name")).otherwise(
                        null_s
                    ),
                    null_l,
                    F.when(
                        h(61) % 3 != 0, F.col("c_mktsegment")
                    ).otherwise(null_s),
                    61,
                ),
                rec(
                    "billing",
                    2,
                    null_s,
                    F.when(h(62) % 5 != 0, cents).otherwise(null_l),
                    null_s,
                    62,
                ),
                rec(
                    "legacy",
                    1,
                    F.upper(F.col("c_name")),
                    cents - 1000,
                    F.lower(F.col("c_mktsegment")),
                    63,
                ),
            )
        ).alias("r"),
    ).select("custkey", "r.*")

    def pick(field: str):
        # same packed-bigint key as the oracle (see _gr_pick_sql)
        key = (
            F.when(F.col(field).isNull(), 0).otherwise(1) * 100000
            + F.col("ts") * 10
            + F.col("prio")
        )
        return [
            F.max_by(F.col(field), key).alias(field),
            F.max_by(F.col("src"), key).alias(f"{field}_src"),
        ]

    return recs.groupBy("custkey").agg(
        F.count("*").cast("long").alias("n_records"),
        *pick("name"),
        *pick("acctbal_cents"),
        *pick("mktsegment"),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain iterative family)
# ---------------------------------------------------------------------------

_MK_CHANNELS = ["click", "error", "signup", "view"]  # fixture touch set
_MK_SCENARIOS = ["base"] + _MK_CHANNELS
_MK_ITERS = 12  # absorption horizon (part of the spec, both engines)


def _mk_trans_sql() -> str:
    """Shared WITH-prefix: journeys -> transition counts -> per-scenario
    transition frame (removal drops edges touching the removed channel
    while DENOMINATORS stay the original totals, i.e. the removed mass
    redirects to the NULL sink — Anderl et al. 2014 semantics)."""
    scen = ", ".join(f"('{s}')" for s in _MK_SCENARIOS)
    return f"""
    ev AS MATERIALIZED (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rk
      FROM events
    ),
    rp AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase' THEN rk END) AS rp
      FROM ev GROUP BY 1
    ),
    j AS MATERIALIZED (
      SELECT e.user_id, e.event_type, e.rk, r.rp,
             lead(e.event_type) OVER (PARTITION BY e.user_id
                                      ORDER BY e.rk) AS nxt
      FROM ev e JOIN rp r USING (user_id)
    ),
    starts AS (
      SELECT 'START' AS src,
             CASE WHEN rp = 1 THEN 'CONV' ELSE event_type END AS dst
      FROM j WHERE rk = 1
    ),
    touches AS (
      SELECT event_type AS src,
             CASE WHEN rp IS NOT NULL AND rk + 1 = rp THEN 'CONV'
                  WHEN nxt IS NULL THEN 'NULL'
                  ELSE nxt END AS dst
      FROM j WHERE rk < COALESCE(rp, 9223372036854775807)
    ),
    cnts AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT * FROM starts UNION ALL SELECT * FROM touches)
      GROUP BY 1, 2
    ),
    tots AS (SELECT src, SUM(cnt) AS tot FROM cnts GROUP BY 1),
    tr AS MATERIALIZED (
      SELECT s.sc, c.src, c.dst, c.cnt, t.tot
      FROM cnts c JOIN tots t USING (src)
      CROSS JOIN (VALUES {scen}) s(sc)
      WHERE s.sc = 'base' OR (c.src <> s.sc AND c.dst <> s.sc)
    ),
    sinks AS MATERIALIZED (
      SELECT s.sc, x.state, x.val
      FROM (VALUES {scen}) s(sc),
           (VALUES ('CONV', CAST(1000000 AS BIGINT)),
                   ('NULL', CAST(0 AS BIGINT))) x(state, val)
    )
    """


def _mk_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT sc, state, val FROM sinks
      UNION ALL
      SELECT t.sc, t.src AS state,
             CAST(SUM(t.cnt * COALESCE(p.val, 0)) // MAX(t.tot)
                  AS BIGINT) AS val
      FROM tr t LEFT JOIN {prev} p
        ON p.sc = t.sc AND p.state = t.dst
      GROUP BY t.sc, t.src
    )"""


def _mk_oracle() -> str:
    iters = ",".join(
        _mk_iter_sql(f"p{k}", f"p{k + 1}") for k in range(_MK_ITERS)
    )
    last = f"p{_MK_ITERS}"
    return f"""
    WITH {_mk_trans_sql()},
    p0 AS (SELECT sc, state, val FROM sinks),
    {iters},
    eff AS (SELECT sc AS channel, val FROM {last}
            WHERE state = 'START' AND sc <> 'base'),
    b AS (SELECT val AS base FROM {last}
          WHERE state = 'START' AND sc = 'base'),
    te AS (SELECT CAST(SUM(b.base - e.val) AS BIGINT) AS tot_eff
           FROM eff e, b)
    SELECT e.channel,
           CAST(b.base AS BIGINT) AS base_micro,
           CAST(e.val AS BIGINT) AS removed_micro,
           CAST(b.base - e.val AS BIGINT) AS effect_micro,
           {det_round_sql('CAST(b.base - e.val AS DOUBLE) / b.base', 6)}
             AS removal_effect,
           {det_round_sql(
               'CAST(b.base - e.val AS DOUBLE) / NULLIF(t.tot_eff, 0)',
               6)} AS attribution_share
    FROM eff e, b, te t
    """


@register("markov_removal_attribution", oracle=_mk_oracle())
def markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2014 —
    the data-driven alternative to position rules like
    ``attribution_linear_credit``): user journeys (touches up to the
    first purchase; purchase absorbs to CONV, abandonment to NULL)
    define a transition matrix; each channel's value is how much the
    START->CONV absorption probability DROPS when that channel's edges
    redirect to NULL (denominators unchanged). Absorption probabilities
    come from 12 fixed-point iterations — the 8th iterative family
    (absorbing-chain valuation), after propagation (PageRank/CC/
    Bellman-Ford), assignment (k-means), peeling (k-core), power
    iteration, and BPE merge loops.

    Scale shape: journeys are ONE user-keyed window pass over events
    (the sessionization shuffle); everything after lives on the
    CHANNEL-sized transition frame (~30 rows) — all 5 scenarios
    (base + 4 removals) iterate together in one (scenario, state)
    keyed frame, so the loop is 12 tiny self-joins with per-round
    localCheckpoint, not 5 separate loops. Determinism: probabilities
    are micro-ints; each update is SUM(cnt*val) DIV tot (non-negative,
    so Spark DIV == DuckDB //); the 12-step horizon is part of the
    spec. Removal can only shrink numerators, so effects are >= 0 by
    induction."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rk"),
    )
    w_u = Window.partitionBy("user_id")
    w_rk = Window.partitionBy("user_id").orderBy("rk")
    j = ev.select(
        "user_id",
        "event_type",
        "rk",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rk"))
        )
        .over(w_u)
        .alias("rp"),
        F.lead("event_type").over(w_rk).alias("nxt"),
    )
    starts = j.filter(F.col("rk") == 1).select(
        F.lit("START").alias("src"),
        F.when(F.col("rp") == 1, F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    touches = j.filter(
        F.col("rk")
        < F.coalesce(F.col("rp"), F.lit(9223372036854775807))
    ).select(
        F.col("event_type").alias("src"),
        F.when(
            F.col("rp").isNotNull()
            & (F.col("rk") + 1 == F.col("rp")),
            F.lit("CONV"),
        )
        .when(F.col("nxt").isNull(), F.lit("NULL"))
        .otherwise(F.col("nxt"))
        .alias("dst"),
    )
    cnts = (
        starts.unionByName(touches)
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tots = cnts.groupBy("src").agg(F.sum("cnt").alias("tot"))
    scen = F.explode(
        F.array(*[F.lit(s) for s in _MK_SCENARIOS])
    ).alias("sc")
    tr = (
        cnts.join(F.broadcast(tots), "src")
        .select("src", "dst", "cnt", "tot", scen)
        .filter(
            (F.col("sc") == "base")
            | (
                (F.col("src") != F.col("sc"))
                & (F.col("dst") != F.col("sc"))
            )
        )
    )
    # Single-pass fixed point (r13, guide §2.4): the 12 iterations
    # formerly ran 12 broadcast-build + tiny-join + aggregate ROUNDS
    # over the channel-sized (sc, state, val) frame — dozens of Spark
    # jobs of pure scheduling overhead for ~150 rows. The state space
    # is bounded (|channels|+3), so collapse each scenario's transition
    # matrix into ONE row (edges array + distinct (src, tot) list) and
    # run the identical integer recurrence
    #   val_{k+1}(src) = SUM(cnt * COALESCE(val_k(dst), 0)) DIV tot
    # as ONE aggregate over sequence(1, 12) whose ACCUMULATOR is the
    # value map — the lambda variable is a materialized VALUE each
    # iteration (chained withColumn steps would let CollapseProject
    # re-inline the previous step's expression inside this step's
    # per-edge lambda, re-evaluating it per edge: ~edges^12 work).
    # Zero joins, zero extra jobs, the same exact bigints (all terms
    # are non-negative, so Spark DIV == the floor division the oracle
    # applies; absent map keys coalesce to 0 exactly like the former
    # left join).
    mat = tr.groupBy("sc").agg(
        F.collect_list(F.struct("src", "dst", "cnt", "tot")).alias(
            "edges"
        ),
        F.array_sort(F.collect_set(F.struct("src", "tot"))).alias(
            "srcs"
        ),
    )
    _sink_map = (
        "map('CONV', CAST(1000000 AS BIGINT),"
        " 'NULL', CAST(0 AS BIGINT))"
    )
    _step = (
        f"map_concat({_sink_map},"
        " map_from_entries(transform(srcs, s -> struct(s.src,"
        "   aggregate(filter(edges, e -> e.src = s.src),"
        "             CAST(0 AS BIGINT),"
        "             (acc, e) -> acc + e.cnt *"
        "               coalesce(v[e.dst], CAST(0 AS BIGINT)))"
        "   DIV s.tot))))"
    )
    cur = mat.withColumn(
        "v",
        F.expr(
            f"aggregate(sequence(1, {_MK_ITERS}), {_sink_map},"
            f" (v, i) -> {_step})"
        ),
    )
    # the isNotNull filter reproduces the former frame exactly: a
    # scenario whose START state never appears as a src had no START
    # row in the old per-state frame either
    start_vals = (
        cur.select("sc", F.element_at("v", F.lit("START")).alias("val"))
        .filter(F.col("val").isNotNull())
        .localCheckpoint(eager=False)  # read by b (broadcast) and eff
    )
    b = start_vals.filter(F.col("sc") == "base").select(
        F.col("val").alias("base")
    )
    eff = start_vals.filter(F.col("sc") != "base").select(
        F.col("sc").alias("channel"), "val"
    )
    te = eff.crossJoin(F.broadcast(b)).agg(
        F.sum(F.col("base") - F.col("val"))
        .cast("long")
        .alias("tot_eff")
    )
    return (
        eff.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(te))
        .select(
            "channel",
            F.col("base").cast("long").alias("base_micro"),
            F.col("val").cast("long").alias("removed_micro"),
            (F.col("base") - F.col("val"))
            .cast("long")
            .alias("effect_micro"),
            det_round(
                (F.col("base") - F.col("val")).cast("double")
                / F.col("base"),
                6,
            ).alias("removal_effect"),
            det_round(
                (F.col("base") - F.col("val")).cast("double")
                / F.nullif(F.col("tot_eff"), F.lit(0)),
                6,
            ).alias("attribution_share"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit (privacy-governance family)
# ---------------------------------------------------------------------------

_KA_K = 5  # k-anonymity threshold
_KA_L = 3  # l-diversity threshold
_KA_BAND = 100000  # acctbal band width: $1000 in cents


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             c_mktsegment AS sensitive
      FROM customer
    ),
    b AS (
      SELECT nationkey,
             CAST((cents - ((cents % {_KA_BAND}) + {_KA_BAND})
                   % {_KA_BAND}) // {_KA_BAND} AS BIGINT) AS band,
             sensitive
      FROM q
    )
    SELECT nationkey, band,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l,
           CAST(CASE WHEN COUNT(*) >= {_KA_K} THEN 1 ELSE 0 END AS INT)
             AS is_k_anonymous,
           CAST(CASE WHEN COUNT(DISTINCT sensitive) >= {_KA_L}
                     THEN 1 ELSE 0 END AS INT) AS is_l_diverse
    FROM b GROUP BY 1, 2
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2007): customers bucketed by quasi-identifier tuple
    (nation, $1000 account-balance band); each equivalence class
    reports its size k (re-identification resistance — a class of 1
    is a fingerprint) and the diversity l of the sensitive attribute
    (market segment) within it. The pre-release privacy gate every
    data-sharing pipeline needs; composes with ``pii_redaction``
    (direct identifiers) by covering the INDIRECT ones.

    Scale shape: one map-side banding projection + ONE groupBy with
    count + countDistinct (a single aggregate, two shuffles max under
    partial aggregation). Determinism: the band uses the portable
    floor-division spelling (balances can be negative — a truncating
    DIV would merge the -1/0 bands); counts are exact ints; no doubles
    anywhere."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )
    b = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        cents.alias("cents"),
        F.col("c_mktsegment").alias("sensitive"),
    ).select(
        "nationkey",
        F.expr(
            f"CAST((cents - ((cents % {_KA_BAND}) + {_KA_BAND})"
            f" % {_KA_BAND}) DIV {_KA_BAND} AS BIGINT)"
        ).alias("band"),
        "sensitive",
    )
    return b.groupBy("nationkey", "band").agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct("sensitive").cast("long").alias("l"),
        F.when(F.count("*") >= _KA_K, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_k_anonymous"),
        F.when(F.countDistinct("sensitive") >= _KA_L, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_l_diverse"),
    )


# ---------------------------------------------------------------------------
# ZIP container ingestion (multimodal/container family)
# ---------------------------------------------------------------------------


@register(
    "multimodal_zip_extract",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(2 AS INT) AS n_members,
           CAST(strlen(text) AS BIGINT) AS txt_bytes,
           CAST(strlen(CAST(doc_id AS VARCHAR) || '|' || lang)
             AS BIGINT) AS meta_bytes,
           CAST(strlen(text)
                + strlen(CAST(doc_id AS VARCHAR) || '|' || lang)
             AS BIGINT) AS total_uncompressed,
           md5(text) AS txt_md5,
           CAST(doc_id AS VARCHAR) || '|' || lang AS meta_text
    FROM documents
    """,
)
def multimodal_zip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP archive round trip over a binary column: pack every document
    into a deterministic 2-member DEFLATE archive (payload + metadata
    sidecar) in one Arrow stage, then extract members and report
    content stats in a second Arrow stage that sees ONLY the binary
    column — the container-ingestion lane (web archives, scraped-corpus
    bundles) beside the raster/audio/video codecs. Scale shape: both
    stages are
    ``mapInPandas`` (columnar Arrow transfer, per-batch Python, no
    per-row pickling); stdlib ``zipfile``/``zlib`` does the real
    compress + decompress in-sandbox.

    Determinism: member mtimes are pinned (no wall clock in the
    bytes); the hashed output reports only round-tripped CONTENT
    (byte lengths, md5, sidecar text) — never the compressed size,
    which depends on the zlib build — so DuckDB can oracle the whole
    pipeline from the source table without unzipping anything."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        zip_roundtrip_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return zip_roundtrip_stats(docs)


# ---------------------------------------------------------------------------
# Zipf power-law fit (corpus-diagnostics family)
# ---------------------------------------------------------------------------

_ZIPF_TOPN = 256


@register(
    "zipf_token_powerlaw",
    oracle=f"""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_toks_of_norm('text')}) AS token
            FROM documents)
      GROUP BY 1
    ),
    top AS (
      SELECT token, freq FROM tf
      ORDER BY freq DESC, token LIMIT {_ZIPF_TOPN}
    ),
    xy AS (
      SELECT CAST(FLOOR(ln(CAST(row_number() OVER
                 (ORDER BY freq DESC, token) AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT) AS y
      FROM top
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM xy
    )
    SELECT n,
           {det_round_sql(
               '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))', 6)}
             AS zipf_slope,
           {det_round_sql(
               '(CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE)'
               ' * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)'
               ' * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE)'
               ' * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)'
               ' * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))'
               ' / CAST(n AS DOUBLE)', 6)} AS intercept,
           {det_round_sql(
               '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
               ' * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)'
               ' - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))', 6)}
             AS r2
    FROM g
    """,
)
def zipf_token_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law diagnostics: fit ln(freq) ~ ln(rank) over the
    top-256 tokens — natural corpora land near slope -1 (Zipf 1949),
    and a corpus whose slope drifts is a red flag for template spam or
    boilerplate floods (the aggregate companion to per-doc
    ``repetition_score``/``boilerplate_ngram_detection``).

    Scale shape: ONE token-count aggregate, a TakeOrdered top-256 (the
    vocabulary never global-sorts), then the ols_normal_equations Gram
    recipe on the 256-row frame. Determinism: ln(rank)/ln(freq) are
    micro-floored per row BEFORE the decimal(38,0) sums (exact,
    commutative); slope/intercept/r2 are fixed double op trees on
    those exact sums, det-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                TX.tokens(TX.normalize_text("text"))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), "token").limit(_ZIPF_TOPN)
    w = Window.orderBy(F.col("freq").desc(), "token")
    micro_ln = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    xy = top.select(
        micro_ln(F.row_number().over(w)).alias("x"),
        micro_ln(F.col("freq")).alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = xy.agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return g.select(
        "n",
        det_round(slope, 6).alias("zipf_slope"),
        det_round((sy - slope * sx) / n, 6).alias("intercept"),
        det_round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Mutual information between categoricals (information-theoretic family)
# ---------------------------------------------------------------------------


@register(
    "mutual_information_priority_segment",
    oracle=f"""
    WITH j AS (
      SELECT o_orderpriority AS a, c_mktsegment AS b
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    jc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
           FROM j GROUP BY 1, 2),
    ma AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM jc GROUP BY 1),
    mb AS (SELECT b, CAST(SUM(nab) AS BIGINT) AS nb FROM jc GROUP BY 1),
    tot AS (SELECT CAST(SUM(nab) AS BIGINT) AS nn FROM jc),
    mi AS (
      SELECT CAST(SUM(jc.nab * CAST(FLOOR(
               ln(CAST(jc.nab * t.nn AS DOUBLE) / (ma.na * mb.nb))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS mi_sum,
             CAST(MAX(t.nn) AS BIGINT) AS nn
      FROM jc JOIN ma USING (a) JOIN mb USING (b), tot t
    ),
    ha AS (
      SELECT CAST(-SUM(na * CAST(FLOOR(
               ln(CAST(na AS DOUBLE) / t.nn) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS h_sum
      FROM ma, tot t
    ),
    hb AS (
      SELECT CAST(-SUM(nb * CAST(FLOOR(
               ln(CAST(nb AS DOUBLE) / t.nn) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS h_sum
      FROM mb, tot t
    )
    SELECT mi.nn AS n_pairs,
           mi.mi_sum, ha.h_sum AS ha_sum, hb.h_sum AS hb_sum,
           {det_round_sql(
               'CAST(mi.mi_sum AS DOUBLE) / mi.nn / 1000000', 8)}
             AS mi_nats,
           {det_round_sql(
               'CAST(mi.mi_sum AS DOUBLE)'
               ' / sqrt(CAST(ha.h_sum AS DOUBLE)'
               ' * CAST(hb.h_sum AS DOUBLE))', 6)} AS nmi
    FROM mi, ha, hb
    """,
)
def mutual_information_priority_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(order priority; market segment) with
    sqrt-normalized NMI — the information-theoretic dependence measure
    (catches ANY association, where ``chi_square_independence`` tests
    a specific null and ``ols``/correlation only see linear effects).
    The feature-selection primitive for categorical pipelines.

    Scale shape: one fact join collapses to the |A x B| joint-count
    frame (~25 cells); marginals/entropies are re-aggregations of that
    tiny frame (the facts are scanned ONCE). Determinism: every ln
    term feeds on ONE division of exact integer products and is
    micro-floored BEFORE the exact weighted sums; MI/NMI are one fixed
    double op tree each on those exact sums."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    jc = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("c_mktsegment").alias("b"),
        )
        .agg(F.count("*").cast("long").alias("nab"))
        .localCheckpoint(eager=False)  # tiny joint frame, reused 4x
    )
    ma = jc.groupBy("a").agg(F.sum("nab").cast("long").alias("na"))
    mb = jc.groupBy("b").agg(F.sum("nab").cast("long").alias("nb"))
    tot = jc.agg(F.sum("nab").cast("long").alias("nn"))
    micro_ln_ratio = lambda num, den: F.floor(  # noqa: E731
        F.log(num.cast("double") / den) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    mi = (
        jc.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("nab")
                * micro_ln_ratio(
                    F.col("nab") * F.col("nn"),
                    F.col("na") * F.col("nb"),
                )
            )
            .cast("long")
            .alias("mi_sum"),
            F.max("nn").cast("long").alias("nn"),
        )
    )
    ha = ma.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            F.col("na") * micro_ln_ratio(F.col("na"), F.col("nn"))
        ))
        .cast("long")
        .alias("ha_sum")
    )
    hb = mb.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            F.col("nb") * micro_ln_ratio(F.col("nb"), F.col("nn"))
        ))
        .cast("long")
        .alias("hb_sum")
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("nn").alias("n_pairs"),
            "mi_sum",
            "ha_sum",
            "hb_sum",
            det_round(
                F.col("mi_sum").cast("double") / F.col("nn") / 1000000,
                8,
            ).alias("mi_nats"),
            det_round(
                F.col("mi_sum").cast("double")
                / F.sqrt(
                    F.col("ha_sum").cast("double")
                    * F.col("hb_sum").cast("double")
                ),
                6,
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# Train/test split leakage audit (LLM-eval-hygiene composition)
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    from series_tiempo_ar_scraping_spark.sqlfrags import (
        _neardup_edges_ctes,
    )

    split_hash = _hex60_seeded("13", "CAST(doc_id AS VARCHAR)")
    return f"""
    WITH {_neardup_edges_ctes()},
    assigned AS (
      SELECT doc_id,
             CASE WHEN ({split_hash}) % 100 < 80 THEN 'train'
                  WHEN ({split_hash}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    )
    SELECT LEAST(sa.split, sb.split) AS split_lo,
           GREATEST(sa.split, sb.split) AS split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN LEAST(sa.split, sb.split)
                       <> GREATEST(sa.split, sb.split)
                THEN 1 ELSE 0 END AS INT) AS is_cross
    FROM verified v
    JOIN assigned sa ON sa.doc_id = v.doc_a
    JOIN assigned sb ON sb.doc_id = v.doc_b
    GROUP BY 1, 2
    """


@register("split_leakage_audit", oracle=_split_leakage_oracle())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs (the exact LSH →
    Jaccard >= 0.3 edge list of ``dedup_ngram_jaccard``) bucketed by
    which dataset splits (the seeded hash split of
    ``dataset_split_assignment``, seed 13) the two sides landed in — a
    train<->test near-dup row IS evaluation contamination that survives
    exact dedup and per-split shuffling. The composition every LLM eval
    pipeline runs before trusting held-out numbers: split hygiene
    cannot be checked by either op alone.

    Scale shape: the near-dup edge derivation is the documented LSH
    bucket-join (never all-pairs); split assignment is one map-side
    hash expression broadcast-joined onto the (small) edge list twice;
    the report aggregate runs on |edges| rows. Determinism: both
    composed ops are already hash-oracled; this reuses their exact
    fragments (one edge spelling, one split hash spelling) so the
    composition cannot drift from its parts."""
    from series_tiempo_ar_scraping_spark.queries_llm import (
        _near_corpus,
        dedup_ngram_jaccard,
    )

    corpus = _near_corpus(spark, sf_dir)
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    h = hash64_seeded(F.col("doc_id").cast("string"), 13) % 100
    assigned = corpus.select(
        "doc_id",
        F.when(h < 80, "train")
        .when(h < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    j = edges.join(
        F.broadcast(
            assigned.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("split_a"),
            )
        ),
        "doc_a",
    ).join(
        F.broadcast(
            assigned.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("split_b"),
            )
        ),
        "doc_b",
    )
    lo = F.least(F.col("split_a"), F.col("split_b"))
    hi = F.greatest(F.col("split_a"), F.col("split_b"))
    return j.groupBy(
        lo.alias("split_lo"), hi.alias("split_hi")
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.when(F.max(lo) != F.max(hi), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_cross"),
    )


# ---------------------------------------------------------------------------
# Time-constrained window funnel (ClickHouse windowFunnel semantics)
# ---------------------------------------------------------------------------

_WF_WINDOW_SECS = 2 * 3600
_WF_ANCHOR = "1995-01-01 00:00:00"


@register(
    "window_funnel_depth",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             date_diff('second', TIMESTAMP '{_WF_ANCHOR}',
                       date_trunc('second', ts)) AS e
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    v AS (SELECT user_id, e AS tv FROM ev WHERE event_type = 'view'),
    c AS (SELECT user_id, e AS tc FROM ev WHERE event_type = 'click'),
    p AS (SELECT user_id, e AS tp FROM ev
          WHERE event_type = 'purchase'),
    s2 AS (
      SELECT v.user_id, v.tv,
             (SELECT MIN(c.tc) FROM c
              WHERE c.user_id = v.user_id AND c.tc > v.tv
                AND c.tc <= v.tv + {_WF_WINDOW_SECS}) AS tc
      FROM v
    ),
    s3 AS (
      SELECT user_id, tv, tc,
             CASE WHEN tc IS NOT NULL THEN
               (SELECT MIN(p.tp) FROM p
                WHERE p.user_id = s2.user_id AND p.tp > s2.tc
                  AND p.tp <= s2.tv + {_WF_WINDOW_SECS}) END AS tp
      FROM s2
    ),
    du AS (
      SELECT user_id,
             MAX(1 + CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END
                   + CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END)
               AS depth
      FROM s3 GROUP BY 1
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM du GROUP BY 1
    """,
)
def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (ClickHouse ``windowFunnel`` semantics):
    view -> click -> purchase must ALL land within 2 hours of the
    anchoring view, each step strictly after the previous; a user's
    depth is the best any of their views achieves. The time window is
    what the unconstrained funnels (``funnel_conversion``,
    ``event_funnel_conversion``) cannot express — a purchase three
    weeks after a view is not attribution, it is coincidence.

    Scale shape: per-step frames are user-keyed; candidate chaining is
    two user-co-partitioned joins with the window predicate applied
    in-join (per-user event counts bound the intermediate; at fleet
    scale the same joins get a time-bucket band key, the
    spatial-grid recipe in 1-D). The correlated-subquery oracle is
    the spec. Determinism: second-truncated anchor diffs (the NTZ
    recipe), exact integer windows, min/max aggregates only."""
    e = load_table(spark, sf_dir, "events")
    ev = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "event_type",
        F.expr(
            f"timestampdiff(SECOND, timestamp'{_WF_ANCHOR}',"
            " date_trunc('second', ts))"
        )
        .cast("long")
        .alias("e"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("e").alias("tv")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("e").alias("tc")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("e").alias("tp")
    )
    win = F.lit(_WF_WINDOW_SECS)
    s2 = (
        v.join(
            c,
            (v["user_id"] == c["user_id"])
            & (c["tc"] > v["tv"])
            & (c["tc"] <= v["tv"] + win),
            "left",
        )
        .groupBy(v["user_id"].alias("user_id"), "tv")
        .agg(F.min("tc").alias("tc"))
    )
    s3 = (
        s2.join(
            p,
            (s2["user_id"] == p["user_id"])
            & (p["tp"] > s2["tc"])
            & (p["tp"] <= s2["tv"] + win),
            "left",
        )
        .groupBy(s2["user_id"].alias("user_id"), "tv", "tc")
        .agg(F.min("tp").alias("tp"))
    )
    du = s3.groupBy("user_id").agg(
        F.max(
            F.lit(1)
            + F.when(F.col("tc").isNotNull(), 1).otherwise(0)
            + F.when(F.col("tp").isNotNull(), 1).otherwise(0)
        ).alias("depth")
    )
    return du.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count("*").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit (data-governance family)
# ---------------------------------------------------------------------------


def _fd_audit_sql(fd: str, table: str, det: str, dep: str) -> str:
    return f"""
      SELECT '{fd}' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(MAX(nd) AS BIGINT) AS max_distinct
      FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd
            FROM {table} GROUP BY {det})
    """


@register(
    "functional_dependency_audit",
    oracle=f"""
    {_fd_audit_sql(
        'l_partkey->l_suppkey', 'lineitem', 'l_partkey', 'l_suppkey')}
    UNION ALL
    {_fd_audit_sql(
        'l_orderkey->l_returnflag', 'lineitem', 'l_orderkey',
        'l_returnflag')}
    UNION ALL
    {_fd_audit_sql(
        'o_custkey->o_orderpriority', 'orders', 'o_custkey',
        'o_orderpriority')}
    """,
)
def functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Functional-dependency audit: for each candidate FD X -> Y,
    count determinant keys whose Y is NOT unique — the data-profiling
    primitive behind normalization checks, key discovery, and
    "this column should be derivable" contracts (the reference
    validates per-field metadata; this validates CROSS-row invariants
    its schema language cannot state). Expected here: part->supplier
    violates heavily (TPC-H multi-sources parts), order->returnflag
    and customer->priority violate naturally — the audit MEASURES
    rather than assumes.

    Scale shape: each FD is one (determinant, countDistinct) aggregate
    + a key-frame rollup, map-side combinable; the three audits union
    into one report. Determinism: pure exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def audit(fd: str, df: DataFrame, det: str, dep: str) -> DataFrame:
        keys = df.groupBy(det).agg(
            F.countDistinct(dep).alias("nd")
        )
        return keys.agg(
            F.lit(fd).alias("fd"),
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.max("nd").cast("long").alias("max_distinct"),
        )
    return (
        audit("l_partkey->l_suppkey", li, "l_partkey", "l_suppkey")
        .unionByName(
            audit(
                "l_orderkey->l_returnflag",
                li,
                "l_orderkey",
                "l_returnflag",
            )
        )
        .unionByName(
            audit(
                "o_custkey->o_orderpriority",
                orders,
                "o_custkey",
                "o_orderpriority",
            )
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity (graph-topology stats family)
# ---------------------------------------------------------------------------

_ASSORT_EDGES_SQL = """
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                        FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY 1
    )
"""


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_ASSORT_EDGES_SQL},
    dd AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON da.id = e.src
      JOIN deg db ON db.id = e.dst
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM dd
    )
    SELECT m AS n_directed_edges,
           {det_round_sql(
               '(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
               ' * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)'
               ' - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))', 6)}
             AS assortativity
    FROM g
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-occurrence
    graph: the Pearson correlation of endpoint degrees over the
    directed edge list — positive means hubs attach to hubs (social
    topology), negative means hub-and-spoke (technological/retail
    topology). The graph-TOPOLOGY summary beside the node-level family
    (pagerank / k-core / triangles): one number that says what KIND of
    graph the pipeline is about to process — and therefore whether
    skew mitigation (salting, two-level aggregation) will be needed.

    Scale shape: the same basket-derived edge list as pagerank (one
    generator expansion, never an O(n^2) self-join); degrees are one
    aggregate; the (x, y) frame is two self-equi-joins of the edge
    list against the degree frame; moments are ONE map-side-combined
    aggregate (the ols/zipf Gram recipe). Determinism: degrees are
    exact ints, moments exact decimal(38,0); r is one fixed double op
    tree (sqrt is IEEE-correctly-rounded), det-rounded."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        upper_triangle_pairs as _utp,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups per basket — no pre-distinct shuffle (r13)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                _utp(
                    F.col("parts"),
                    lambda x, y: F.struct(
                        x.alias("pa"), y.alias("pb")
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("pb").alias("src"), F.col("pa").alias("dst")
            )
        )
        .localCheckpoint(eager=False)  # reused: degrees + both joins
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    )
    dd = (
        edges.join(
            deg.select(F.col("id").alias("src"), F.col("d").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = dd.agg(
        F.count("*").alias("m"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return g.select(
        F.col("m").alias("n_directed_edges"),
        det_round(
            (m * sxy - sx * sy)
            / (
                F.sqrt(m * sxx - sx * sx)
                * F.sqrt(m * syy - sy * sy)
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Composed pipeline #4: embedding index build (dedup -> train -> assign
# -> eval), the ML-retrieval lane
# ---------------------------------------------------------------------------

_EIP_K = 8
_EIP_ITERS = 2
_EIP_TOPK = 5
_EIP_NPROBE = 2


def _eip_oracle() -> str:
    from series_tiempo_ar_scraping_spark.sqlfrags import (
        _COS64_SQL,
        _EMB_NEAR_SQL,
        _kmeans_ctes,
    )

    cos = _COS64_SQL
    # survivors: drop any vector with a SMALLER-id near-duplicate
    # (det-rounded cosine >= 0.95 — the dedup_embedding_cosine
    # verify rule; buckets only prune and true dups always collide,
    # so the bucket-free spec selects the identical set)
    return f"""
    WITH corpus AS MATERIALIZED ({_EMB_NEAR_SQL}),
    dups AS MATERIALIZED (
      -- plain pair join, not NOT EXISTS: DuckDB cannot correlate an
      -- outer column through list_transform lambdas
      SELECT DISTINCT b.vec_id
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE FLOOR(({cos.format(a='a.embedding', b='b.embedding')})
                  * 1000000 + 0.5) / 1000000 >= 0.95
    ),
    survivors AS MATERIALIZED (
      SELECT c.vec_id, c.embedding FROM corpus c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM dups)
    ),
    {_kmeans_ctes(_EIP_K, _EIP_ITERS, src="survivors")},
    cent AS MATERIALIZED (
      SELECT cid AS centroid_id,
             list_transform(ci, x -> CAST(x AS DOUBLE) / 1000000.0)
               AS cvec
      FROM cent{_EIP_ITERS}
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos.format(a='v.embedding', b='c.cvec')}
                   DESC, c.centroid_id) AS crank
        FROM survivors v, cent c
      ) WHERE crank = 1
    ),
    census AS (
      SELECT CAST(COUNT(DISTINCT centroid_id) AS BIGINT) AS n_cells
      FROM assigned
    ),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {cos.format(a='q.embedding', b='c.cvec')}
                   DESC, c.centroid_id) AS crank
        FROM survivors q, cent c WHERE q.vec_id < 8
      ) WHERE crank <= {_EIP_NPROBE}
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 {cos.format(a='q.embedding', b='v.embedding')} DESC,
                 a.vec_id) AS rank
        FROM probes p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN survivors q ON q.vec_id = p.query_id
        JOIN survivors v ON v.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
      ) WHERE rank <= {_EIP_TOPK}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {cos.format(a='q.embedding', b='v.embedding')} DESC,
                 v.vec_id) AS rank
        FROM survivors q JOIN survivors v ON v.vec_id <> q.vec_id
        WHERE q.vec_id < 8
      ) WHERE rank <= {_EIP_TOPK}
    ),
    nsurv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors
              FROM survivors),
    ncorp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM corpus)
    SELECT e.query_id,
           ncorp.n_corpus, nsurv.n_survivors, census.n_cells,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM exact e
    LEFT JOIN ivf i ON i.query_id = e.query_id
                   AND i.neighbor_id = e.neighbor_id,
         nsurv, ncorp, census
    GROUP BY 1, 2, 3, 4
    """


@register("embedding_index_pipeline", oracle=_eip_oracle())
def embedding_index_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composed pipeline #4 — the ML-retrieval lane, end to end as ONE
    oracled entry: near-dup DEDUP of the embedding corpus (LSH-bucketed
    cosine >= 0.95, planted scaled copies removed) -> Lloyd k-means
    TRAINING on the survivors -> IVF inverted-list ASSIGNMENT (+ cell
    census) -> retrieval EVAL (IVF top-5 vs brute-force exact top-5
    overlap per query). Per-op oracles can't see inter-stage plan bugs
    (a dedup that leaks dups poisons training; a training drift shifts
    every list); the composition pins the whole index build the way
    ``corpus_curation_pipeline`` pins the text lane.

    Determinism: output is INTEGER-ONLY (counts + overlap), so floats affect only
    rank ordering, where both engines share one cosine expression
    tree. Scale shape: each stage keeps its documented plan — bucket
    equi-join dedup (never all-pairs), broadcast K-row codebook per
    Lloyd round, probe equi-join on centroid_id; the brute-force side
    exists only for the bounded 8-query eval."""
    from series_tiempo_ar_scraping_spark.operators import (
        similarity as S,
    )
    from series_tiempo_ar_scraping_spark.queries_batch4 import (
        _emb_near_corpus,
    )

    corpus = _emb_near_corpus(spark, sf_dir)
    coeffs = S.plane_coeffs(S.N_PLANES, 64)
    b = corpus.select(
        "vec_id",
        "embedding",
        S.norm(F.col("embedding")).alias("nrm"),
        S.hyperplane_bucket(F.col("embedding"), coeffs).alias(
            "bucket"
        ),
    )
    a = b.select(
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("dup_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    sim = S.dot(F.col("va"), F.col("vb")) / (
        F.col("na") * F.col("nb")
    )
    dup_ids = (
        a.join(c, "bucket")
        .filter(F.col("keep_id") < F.col("dup_id"))
        .filter(det_round(sim, 6) >= 0.95)
        .select(F.col("dup_id").alias("vec_id"))
        .distinct()
    )
    survivors = corpus.join(
        dup_ids, "vec_id", "left_anti"
    ).localCheckpoint(eager=False)  # feeds train + assign + both evals

    cent_micro, _ = S.kmeans_lloyd_micro(
        survivors, k=_EIP_K, iters=_EIP_ITERS
    )
    centroids = cent_micro.select(
        F.col("cid").alias("vec_id"),
        F.transform(
            "ci", lambda x: x.cast("double") / 1000000.0
        ).alias("embedding"),
    )
    assigned = S.assign_clusters(
        survivors, centroids, n_assign=1
    )
    census = assigned.agg(
        F.countDistinct("centroid_id").cast("long").alias("n_cells")
    )
    queries = survivors.filter(F.col("vec_id") < 8)
    ivf = S.ivf_topk(
        survivors, queries, centroids, k=_EIP_TOPK, nprobe=_EIP_NPROBE
    ).select("query_id", "neighbor_id")
    exact = S.cosine_topk(
        survivors, queries, k=_EIP_TOPK, exclude_self=True
    ).select("query_id", "neighbor_id")
    nsurv = survivors.agg(
        F.count("*").cast("long").alias("n_survivors")
    )
    ncorp = corpus.agg(F.count("*").cast("long").alias("n_corpus"))
    return (
        exact.join(
            ivf.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .crossJoin(F.broadcast(ncorp))
        .crossJoin(F.broadcast(nsurv))
        .crossJoin(F.broadcast(census))
        .groupBy("query_id", "n_corpus", "n_survivors", "n_cells")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# FIFO cost matching (inventory-accounting family)
# ---------------------------------------------------------------------------


@register(
    "fifo_cogs_matching",
    oracle="""
    WITH m AS (
      SELECT l_partkey AS part,
             l_shipdate AS sd, l_orderkey AS ok, l_linenumber AS ln,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS qty,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
               AS BIGINT) AS price_cents,
             l_returnflag = 'R' AS is_receipt
      FROM lineitem
    ),
    r AS (
      SELECT part, qty,
             (price_cents * 1000000) // NULLIF(qty, 0) AS unit_cost_micro,
             SUM(qty) OVER (PARTITION BY part ORDER BY sd, ok, ln
                            ROWS UNBOUNDED PRECEDING) AS hi
      FROM m WHERE is_receipt
    ),
    rr AS (SELECT part, qty, unit_cost_micro, hi - qty AS lo, hi FROM r),
    i AS (
      SELECT part, qty,
             SUM(qty) OVER (PARTITION BY part ORDER BY sd, ok, ln
                            ROWS UNBOUNDED PRECEDING) AS hi
      FROM m WHERE NOT is_receipt
    ),
    ii AS (SELECT part, qty, hi - qty AS lo, hi FROM i),
    matched AS (
      SELECT rr.part,
             LEAST(rr.hi, ii.hi) - GREATEST(rr.lo, ii.lo) AS mq,
             rr.unit_cost_micro
      FROM rr JOIN ii ON rr.part = ii.part
        AND rr.lo < ii.hi AND ii.lo < rr.hi
    ),
    agg AS (
      SELECT part,
             CAST(SUM(mq) AS BIGINT) AS matched_qty,
             CAST(SUM(mq * unit_cost_micro) AS BIGINT) AS cogs_micro
      FROM matched GROUP BY 1
    ),
    tot AS (
      SELECT part,
             CAST(SUM(CASE WHEN is_receipt THEN qty ELSE 0 END)
               AS BIGINT) AS total_received,
             CAST(SUM(CASE WHEN is_receipt THEN 0 ELSE qty END)
               AS BIGINT) AS total_issued,
             CAST(SUM(CASE WHEN is_receipt THEN 1 ELSE 0 END)
               AS BIGINT) AS n_lots,
             CAST(SUM(CASE WHEN is_receipt THEN 0 ELSE 1 END)
               AS BIGINT) AS n_issues
      FROM m GROUP BY 1
    )
    SELECT t.part, t.n_lots, t.n_issues,
           t.total_received, t.total_issued,
           COALESCE(a.matched_qty, 0) AS matched_qty,
           COALESCE(a.cogs_micro, 0) AS cogs_micro,
           t.total_issued - COALESCE(a.matched_qty, 0)
             AS unmatched_issue_qty,
           t.total_received - COALESCE(a.matched_qty, 0)
             AS ending_inventory_qty
    FROM tot t LEFT JOIN agg a ON a.part = t.part
    """,
)
def fifo_cogs_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory costing WITHOUT iteration: treat returns as
    receipt lots and shipments as issues per part; on the per-part
    cumulative-quantity axis each lot occupies [cum-qty, cum) and each
    issue likewise, and FIFO matching IS interval intersection on that
    axis — matched units of (lot, issue) = overlap length, so COGS =
    sum(overlap x lot unit cost). The classic "impossible in SQL"
    ledger computation reduced to two prefix-sum windows and one
    interval join; the accounting sibling of
    ``inventory_clamped_balance``'s reflected walk. Semantics note:
    this is SEQUENCE FIFO (issues draw lots in arrival order along the
    cumulative axis, the standard costing reduction) — time-gated
    availability (an issue may only draw already-received stock) is
    the clamped-balance machinery composed on top.

    Scale shape: prefix sums are per-part windows (one shuffle); the
    lot-x-issue interval join is part-keyed with the range predicate
    in-join (per-part lot/issue counts bound the pair space; at fleet
    scale the same join gets a cum DIV B band key — the 1-D grid
    recipe). Determinism: quantities are exact units, unit cost is
    micro-cents via positive integer floor division, every output is
    an exact bigint."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("decimal(12,2)").cast("bigint")
        .alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        (F.col("l_returnflag") == "R").alias("is_receipt"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("sd", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rr = (
        m.filter("is_receipt")
        .select(
            "part",
            "qty",
            F.expr("(price_cents * 1000000) DIV NULLIF(qty, 0)").alias(
                "unit_cost_micro"
            ),
            F.sum("qty").over(w).alias("hi"),
        )
        .withColumn("lo", F.col("hi") - F.col("qty"))
    )
    ii = (
        m.filter(~F.col("is_receipt"))
        .select("part", "qty", F.sum("qty").over(w).alias("hi"))
        .withColumn("lo", F.col("hi") - F.col("qty"))
    )
    matched = rr.alias("r").join(
        ii.alias("i"),
        (F.col("r.part") == F.col("i.part"))
        & (F.col("r.lo") < F.col("i.hi"))
        & (F.col("i.lo") < F.col("r.hi")),
    ).select(
        F.col("r.part").alias("part"),
        (
            F.least(F.col("r.hi"), F.col("i.hi"))
            - F.greatest(F.col("r.lo"), F.col("i.lo"))
        ).alias("mq"),
        F.col("r.unit_cost_micro").alias("unit_cost_micro"),
    )
    agg = matched.groupBy("part").agg(
        F.sum("mq").cast("long").alias("matched_qty"),
        F.sum(F.col("mq") * F.col("unit_cost_micro"))
        .cast("long")
        .alias("cogs_micro"),
    )
    tot = m.groupBy("part").agg(
        F.sum(F.when(F.col("is_receipt"), F.col("qty")).otherwise(0))
        .cast("long")
        .alias("total_received"),
        F.sum(F.when(F.col("is_receipt"), 0).otherwise(F.col("qty")))
        .cast("long")
        .alias("total_issued"),
        F.sum(F.when(F.col("is_receipt"), 1).otherwise(0))
        .cast("long")
        .alias("n_lots"),
        F.sum(F.when(F.col("is_receipt"), 0).otherwise(1))
        .cast("long")
        .alias("n_issues"),
    )
    return tot.join(agg, "part", "left").select(
        "part",
        "n_lots",
        "n_issues",
        "total_received",
        "total_issued",
        F.coalesce(F.col("matched_qty"), F.lit(0))
        .cast("long")
        .alias("matched_qty"),
        F.coalesce(F.col("cogs_micro"), F.lit(0))
        .cast("long")
        .alias("cogs_micro"),
        (
            F.col("total_issued")
            - F.coalesce(F.col("matched_qty"), F.lit(0))
        )
        .cast("long")
        .alias("unmatched_issue_qty"),
        (
            F.col("total_received")
            - F.coalesce(F.col("matched_qty"), F.lit(0))
        )
        .cast("long")
        .alias("ending_inventory_qty"),
    )


# ---------------------------------------------------------------------------
# Bitemporal as-of query (temporal data-modeling family, SQL:2011)
# ---------------------------------------------------------------------------

_BT_TX_ASOF = "1995-06-01"
_BT_VALID_ASOF = "1995-03-01"


@register(
    "bitemporal_asof_state",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey AS okey, o_orderstatus, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             ('0x' || substr(md5('71' || '|'
                || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hh
      FROM orders
    ),
    versions AS (
      -- v1: booked as first known (tx = valid start); v2: a correction
      -- recorded hh%20+1 days later that fixes status and price
      SELECT okey, 1 AS version,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE) AS tx_from,
             'BOOKED' AS status, cents
      FROM h
      UNION ALL
      SELECT okey, 2,
             CAST(o_orderdate AS DATE),
             CAST(o_orderdate AS DATE)
               + CAST(hh % 20 + 1 AS INT),
             o_orderstatus, cents + hh % 1000
      FROM h
    ),
    visible AS (
      SELECT * FROM versions
      WHERE tx_from <= DATE '{_BT_TX_ASOF}'
        AND valid_from <= DATE '{_BT_VALID_ASOF}'
    ),
    picked AS (
      -- packed bigint key (the golden-record recipe): DuckDB arg_max
      -- has no struct overload
      SELECT okey,
             arg_max(version, date_diff('day', DATE '1990-01-01',
               tx_from) * 10 + version) AS version,
             arg_max(status, date_diff('day', DATE '1990-01-01',
               tx_from) * 10 + version) AS status,
             arg_max(cents, date_diff('day', DATE '1990-01-01',
               tx_from) * 10 + version) AS cents
      FROM visible GROUP BY okey
    )
    SELECT status,
           CAST(version AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM picked GROUP BY 1, 2
    """,
)
def bitemporal_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of query (SQL:2011 system+application time;
    Snodgrass): order history carries TWO time axes — when a fact was
    TRUE (valid time) and when the database LEARNED it (transaction
    time). The query answers "as the system knew it on {_BT_TX_ASOF},
    what was the state valid on {_BT_VALID_ASOF}" — corrections
    recorded after the transaction cutoff are invisible even though
    they are 'true', the audit/compliance semantics plain SCD2
    (``scd2_point_in_time_join`` — ONE axis) cannot express.

    Scale shape: the 2-version history is a generator fan-out of one
    scan (golden-record idiom); both as-of cuts are map-side filters;
    the per-key latest-transaction pick is ONE max_by aggregate (no
    window over history), then a bounded status rollup. Determinism:
    dates/cents/hash offsets are exact ints; arg_max keys are unique
    per key by (tx_from, version) construction."""
    orders = load_table(spark, sf_dir, "orders")
    hh = hash64_seeded(F.col("o_orderkey").cast("string"), 71)
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )
    od = F.col("o_orderdate").cast("date")
    versions = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("version"),
                    od.alias("valid_from"),
                    od.alias("tx_from"),
                    F.lit("BOOKED").alias("status"),
                    cents.alias("cents"),
                ),
                F.struct(
                    F.lit(2).alias("version"),
                    od.alias("valid_from"),
                    F.date_add(od, (hh % 20 + 1).cast("int")).alias(
                        "tx_from"
                    ),
                    F.col("o_orderstatus").alias("status"),
                    (cents + hh % 1000).alias("cents"),
                ),
            )
        ).alias("r"),
    ).select("okey", "r.*")
    visible = versions.filter(
        (F.col("tx_from") <= F.lit(_BT_TX_ASOF).cast("date"))
        & (F.col("valid_from") <= F.lit(_BT_VALID_ASOF).cast("date"))
    )
    key = (
        F.datediff(F.col("tx_from"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        * 10
        + F.col("version")
    )
    picked = visible.groupBy("okey").agg(
        F.max_by(F.col("version"), key).alias("version"),
        F.max_by(F.col("status"), key).alias("status"),
        F.max_by(F.col("cents"), key).alias("cents"),
    )
    return picked.groupBy(
        "status", F.col("version").cast("int").alias("version")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Classification eval report (composed on naive Bayes by registry)
# ---------------------------------------------------------------------------


def _f1_oracle() -> str:
    """Composes the REGISTERED naive-Bayes oracle (batch 13)."""
    return f"""
    WITH preds AS (
      SELECT actual, predicted
      FROM ({ORACLES["naive_bayes_classify"]})
    ),
    cls AS (
      SELECT actual AS cl FROM preds
      UNION
      SELECT predicted FROM preds
    ),
    per AS (
      SELECT c.cl,
             CAST(SUM(CASE WHEN p.actual = c.cl
                            AND p.predicted = c.cl
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN p.actual <> c.cl
                            AND p.predicted = c.cl
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN p.actual = c.cl
                            AND p.predicted <> c.cl
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM cls c, preds p GROUP BY 1
    ),
    scored AS (
      SELECT cl, tp, fp, fn,
             -- exact integer round-half-up: (a*2e6 + d) // (2d)
             (tp * 2000000 + NULLIF(tp + fp, 0))
               // (2 * NULLIF(tp + fp, 0)) AS p_micro,
             (tp * 2000000 + NULLIF(tp + fn, 0))
               // (2 * NULLIF(tp + fn, 0)) AS r_micro,
             (2 * tp * 2000000 + NULLIF(2 * tp + fp + fn, 0))
               // (2 * NULLIF(2 * tp + fp + fn, 0)) AS f1_micro
      FROM per
    )
    SELECT cl AS label, tp, fp, fn,
           CAST(COALESCE(p_micro, 0) AS BIGINT) AS precision_micro,
           CAST(COALESCE(r_micro, 0) AS BIGINT) AS recall_micro,
           CAST(COALESCE(f1_micro, 0) AS BIGINT) AS f1_micro
    FROM scored
    UNION ALL
    SELECT '__macro__',
           CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
           CAST(SUM(fn) AS BIGINT),
           CAST(SUM(COALESCE(p_micro, 0)) // COUNT(*) AS BIGINT),
           CAST(SUM(COALESCE(r_micro, 0)) // COUNT(*) AS BIGINT),
           CAST(SUM(COALESCE(f1_micro, 0)) // COUNT(*) AS BIGINT)
    FROM scored
    """


@register("classification_f1_report", oracle=_f1_oracle())
def classification_f1_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision / recall / F1 plus the macro average for the
    naive-Bayes language classifier — the confusion-matrix eval lane
    beside retrieval's NDCG/recall. Composed BY REGISTRY on both sides
    (the Spark body calls the registered ``naive_bayes_classify``; the
    oracle embeds its registered SQL verbatim), so the report can
    never drift from the model it scores.

    Determinism: tp/fp/fn are exact counts; precision/recall/F1 are
    EXACT integer round-half-up rationals ((a*2e6 + d) DIV 2d — no
    double anywhere, so even the macro average stays integer-exact).
    Scale shape: predictions aggregate once; the class frame is
    |labels|-sized and the per-class counts come from one bounded
    cross of labels x predictions (labels ~ a handful; at larger
    label spaces this becomes a groupBy on (actual, predicted) —
    the confusion matrix — and the per-class rollup reads that)."""
    preds = (
        naive_bayes_classify(spark, sf_dir)
        .select("actual", "predicted")
        .localCheckpoint(eager=False)  # reused: class frame + counts
    )
    # Confusion-matrix-first (r13, the docstring's own "at larger label
    # spaces" shape): ONE aggregate over preds collapses map-side to
    # |labels|² cells; the per-class tallies then cross the tiny matrix
    # with the label frame instead of expanding every prediction row
    # ×|labels| before aggregating. Same exact tp/fp/fn counts.
    conf = preds.groupBy("actual", "predicted").agg(
        F.count("*").cast("long").alias("m")
    ).localCheckpoint(eager=False)
    cls = (
        conf.select(F.col("actual").alias("cl"))
        .union(conf.select("predicted"))
        .distinct()
    )
    per = (
        F.broadcast(cls)
        .crossJoin(conf)
        .groupBy("cl")
        .agg(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cl"))
                    & (F.col("predicted") == F.col("cl")),
                    F.col("m"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("actual") != F.col("cl"))
                    & (F.col("predicted") == F.col("cl")),
                    F.col("m"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cl"))
                    & (F.col("predicted") != F.col("cl")),
                    F.col("m"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
        )
    )
    scored = per.select(
        "cl",
        "tp",
        "fp",
        "fn",
        F.expr(
            "(tp * 2000000 + NULLIF(tp + fp, 0))"
            " DIV (2 * NULLIF(tp + fp, 0))"
        ).alias("p_micro"),
        F.expr(
            "(tp * 2000000 + NULLIF(tp + fn, 0))"
            " DIV (2 * NULLIF(tp + fn, 0))"
        ).alias("r_micro"),
        F.expr(
            "(2 * tp * 2000000 + NULLIF(2 * tp + fp + fn, 0))"
            " DIV (2 * NULLIF(2 * tp + fp + fn, 0))"
        ).alias("f1_micro"),
    ).localCheckpoint(eager=False)  # reused: per-class rows + macro
    rows = scored.select(
        F.col("cl").alias("label"),
        "tp",
        "fp",
        "fn",
        F.coalesce(F.col("p_micro"), F.lit(0))
        .cast("long")
        .alias("precision_micro"),
        F.coalesce(F.col("r_micro"), F.lit(0))
        .cast("long")
        .alias("recall_micro"),
        F.coalesce(F.col("f1_micro"), F.lit(0))
        .cast("long")
        .alias("f1_micro"),
    )
    macro = scored.agg(
        F.lit("__macro__").alias("label"),
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
        F.expr(
            "CAST(SUM(COALESCE(p_micro, 0)) DIV COUNT(*) AS BIGINT)"
        ).alias("precision_micro"),
        F.expr(
            "CAST(SUM(COALESCE(r_micro, 0)) DIV COUNT(*) AS BIGINT)"
        ).alias("recall_micro"),
        F.expr(
            "CAST(SUM(COALESCE(f1_micro, 0)) DIV COUNT(*) AS BIGINT)"
        ).alias("f1_micro"),
    )
    return rows.unionByName(macro)


# ---------------------------------------------------------------------------
# Rolling OLS slope from windowed Gram sums (series x regression)
# ---------------------------------------------------------------------------

_ROLS_WIN = 30  # trailing observations


@register(
    "series_rolling_ols_slope",
    oracle=f"""
    WITH d AS (
      SELECT n.n_name AS nation,
             CAST(date_diff('day', DATE '1992-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT nation, x, y,
             COUNT(*) OVER win AS n,
             SUM(x) OVER win AS sx,
             SUM(y) OVER win AS sy,
             SUM(x * x) OVER win AS sxx,
             SUM(x * y) OVER win AS sxy
      FROM d
      WINDOW win AS (PARTITION BY nation ORDER BY x
                     ROWS BETWEEN {_ROLS_WIN - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT nation, x AS day_idx,
           CAST(n AS BIGINT) AS n_obs,
           {det_round_sql(
               '(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)'
               ' / (CAST(n AS DOUBLE) * sxx'
               ' - CAST(sx AS DOUBLE) * sx)', 4)} AS slope_cents_per_day
    FROM w WHERE n = {_ROLS_WIN}
    """,
)
def series_rolling_ols_slope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling least-squares trend: the 30-observation trailing OLS
    slope of each nation's daily revenue, computed from WINDOWED Gram
    sums (n, sum x, sum y, sum xx, sum xy over a rows frame) — the
    sliding-window extension of ``ols_normal_equations``: no per-window
    refit, no self-join; the five sufficient statistics slide in one
    window pass and the slope is closed-form per row. The
    trend-monitoring shape behind every "is this series accelerating"
    dashboard at fleet scale.

    Scale shape: facts collapse to (nation, day) first; the five
    windowed sums share ONE (nation, day-ordered) sort; output is
    row-per-day on the bounded daily grid. Determinism: day index and
    cents are exact ints, windowed sums exact bigint (x*y stays far
    below 2^63 for any realistic horizon), the slope is one fixed
    double op tree, det-rounded."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    d = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    win = (
        Window.partitionBy("nation")
        .orderBy("x")
        .rowsBetween(-(_ROLS_WIN - 1), 0)
    )
    w = d.select(
        "nation",
        "x",
        F.count("*").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    return w.filter(F.col("n") == _ROLS_WIN).select(
        "nation",
        F.col("x").alias("day_idx"),
        F.col("n").cast("long").alias("n_obs"),
        det_round(
            (n * F.col("sxy") - sx * F.col("sy"))
            / (n * F.col("sxx") - sx * F.col("sx")),
            4,
        ).alias("slope_cents_per_day"),
    )


# ---------------------------------------------------------------------------
# Declarative expectation suite (data-contract family)
# ---------------------------------------------------------------------------

_SEGS = "'AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'"
_EVTS = "'click','error','purchase','signup','view'"


@register(
    "expectation_suite_report",
    oracle=f"""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS v0,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS v1,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS v2
      FROM orders
    ),
    l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_discount < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS v0,
             CAST(SUM(CASE WHEN l_discount > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS v2
      FROM lineitem
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN c_mktsegment IS NOT NULL
                            AND c_mktsegment NOT IN ({_SEGS})
                      THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS v1
      FROM customer
    ),
    e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN event_type IS NOT NULL
                            AND event_type NOT IN ({_EVTS})
                      THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS v1
      FROM events
    )
    SELECT * FROM (
      SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
             'not_null' AS check, n_rows, v0 AS n_violations,
             CAST(CASE WHEN v0 = 0 THEN 1 ELSE 0 END AS INT) AS passed
      FROM o
      UNION ALL
      SELECT 'orders', 'o_orderkey', 'unique', n_rows, v1,
             CAST(CASE WHEN v1 = 0 THEN 1 ELSE 0 END AS INT) FROM o
      UNION ALL
      SELECT 'orders', 'o_totalprice', 'min_ge', n_rows, v2,
             CAST(CASE WHEN v2 = 0 THEN 1 ELSE 0 END AS INT) FROM o
      UNION ALL
      SELECT 'lineitem', 'l_discount', 'min_ge', n_rows, v0,
             CAST(CASE WHEN v0 = 0 THEN 1 ELSE 0 END AS INT) FROM l
      UNION ALL
      SELECT 'lineitem', 'l_discount', 'max_le', n_rows, v1,
             CAST(CASE WHEN v1 = 0 THEN 1 ELSE 0 END AS INT) FROM l
      UNION ALL
      SELECT 'lineitem', 'l_quantity', 'min_ge', n_rows, v2,
             CAST(CASE WHEN v2 = 0 THEN 1 ELSE 0 END AS INT) FROM l
      UNION ALL
      SELECT 'customer', 'c_mktsegment', 'accepted_values', n_rows, v0,
             CAST(CASE WHEN v0 = 0 THEN 1 ELSE 0 END AS INT) FROM c
      UNION ALL
      SELECT 'customer', 'c_custkey', 'unique', n_rows, v1,
             CAST(CASE WHEN v1 = 0 THEN 1 ELSE 0 END AS INT) FROM c
      UNION ALL
      SELECT 'events', 'event_type', 'accepted_values', n_rows, v0,
             CAST(CASE WHEN v0 = 0 THEN 1 ELSE 0 END AS INT) FROM e
      UNION ALL
      SELECT 'events', 'user_id', 'not_null', n_rows, v1,
             CAST(CASE WHEN v1 = 0 THEN 1 ELSE 0 END AS INT) FROM e
    )
    """,
)
def expectation_suite_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative data-contract suite (the great-expectations/dbt-test
    shape): ten contracts across four tables — uniqueness, null-ness,
    bounds, accepted enums — compiled by ``operators/expectations.py``
    into ONE aggregate scan per table, fanned out to long report rows
    by a generator. The DATA-level counterpart of the reference's
    metadata schema validation (SURVEY V1-V3): its schemas say what
    fields must look like; these contracts say what the ROWS must
    satisfy, continuously.

    Scale shape: N contracts on a table cost one conditional-sum
    aggregate (map-side combinable) — never N scans; the report is
    |contracts| rows. Determinism: pure exact counts."""
    from series_tiempo_ar_scraping_spark.operators.expectations import (
        Expectation,
        run_expectations,
    )

    specs = [
        Expectation("orders", "o_orderkey", "not_null"),
        Expectation("orders", "o_orderkey", "unique"),
        Expectation("orders", "o_totalprice", "min_ge", 0),
        Expectation("lineitem", "l_discount", "min_ge", 0),
        Expectation("lineitem", "l_discount", "max_le", 1),
        Expectation("lineitem", "l_quantity", "min_ge", 1),
        Expectation(
            "customer",
            "c_mktsegment",
            "accepted_values",
            (
                "AUTOMOBILE",
                "BUILDING",
                "FURNITURE",
                "HOUSEHOLD",
                "MACHINERY",
            ),
        ),
        Expectation("customer", "c_custkey", "unique"),
        Expectation(
            "events",
            "event_type",
            "accepted_values",
            ("click", "error", "purchase", "signup", "view"),
        ),
        Expectation("events", "user_id", "not_null"),
    ]
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "lineitem", "customer", "events")
    }
    return run_expectations(tables, specs)


# ---------------------------------------------------------------------------
# Streaming data contracts (streaming x governance)
# ---------------------------------------------------------------------------


@register(
    "streaming_contract_violations",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS TIMESTAMP)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value > 450 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_value_over_450,
           CAST(SUM(CASE WHEN event_type IS NULL OR event_type
                      NOT IN ({_EVTS}) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_bad_event_type,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_null_user
    FROM events GROUP BY 1
    """,
)
def streaming_contract_violations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data contracts ON THE STREAM: per 6-hour tumbling window, count
    violations of three contracts (value threshold breach, event-type
    enum, user-id presence) as the events flow through readStream →
    windowed conditional sums → memory sink (availableNow) — and the
    result must hash-match the batch oracle, proving the continuous
    monitor computes the same semantics the nightly
    ``expectation_suite_report`` audit would. This is how contracts
    actually run at 100 TB: violations surface per-window within
    minutes, not after the nightly batch.

    Scale shape: one watermark-bounded windowed aggregate (map-side
    combinable conditional sums — the tumbling-counts plan with three
    extra SUM(CASE) columns, zero extra shuffles). Determinism: pure
    exact counts on exact window boundaries."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
    )

    ev = read_events_stream_native(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("value") > 450, 1).otherwise(0))
            .cast("long")
            .alias("n_value_over_450"),
            F.sum(
                F.when(
                    F.col("event_type").isNull()
                    | ~F.col("event_type").isin(
                        "click", "error", "purchase", "signup", "view"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_bad_event_type"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_user"),
        )
    )
    name = "stream_contract_violations"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = (
        spark.table(name)
        .select(
            F.col("window.start").alias("bucket"),
            "n_events",
            "n_value_over_450",
            "n_bad_event_type",
            "n_null_user",
        )
        .localCheckpoint()
    )
    q.stop()
    return result


# ---------------------------------------------------------------------------
# Price indices (economics family)
# ---------------------------------------------------------------------------

_PI_Y0, _PI_Y1 = 1994, 1995


@register(
    "price_index_laspeyres_fisher",
    oracle=f"""
    WITH py AS (
      SELECT l_partkey AS part,
             CAST(year(l_shipdate) AS INT) AS yr,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * 100)
               AS BIGINT) AS ext_c,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT)
               AS qty
      FROM lineitem
      WHERE year(l_shipdate) IN ({_PI_Y0}, {_PI_Y1})
      GROUP BY 1, 2
    ),
    pq AS (
      SELECT a.part,
             a.ext_c AS e0, a.qty AS q0,
             b.ext_c AS e1, b.qty AS q1
      FROM py a JOIN py b ON a.part = b.part
      WHERE a.yr = {_PI_Y0} AND b.yr = {_PI_Y1}
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             -- p1*q0 = (e1/q1)*q0: ONE truncating integer division per
             -- term (exact products first), then exact sums
             CAST(SUM((e1 * q0) // NULLIF(q1, 0)) AS BIGINT) AS l_num,
             CAST(SUM(e0) AS BIGINT) AS l_den,
             CAST(SUM(e1) AS BIGINT) AS p_num,
             CAST(SUM((e0 * q1) // NULLIF(q0, 0)) AS BIGINT) AS p_den
      FROM pq
    )
    SELECT n_parts, l_num, l_den, p_num, p_den,
           {det_round_sql(
               'CAST(l_num AS DOUBLE) / l_den', 6)} AS laspeyres,
           {det_round_sql(
               'CAST(p_num AS DOUBLE) / p_den', 6)} AS paasche,
           {det_round_sql(
               'sqrt((CAST(l_num AS DOUBLE) / l_den)'
               ' * (CAST(p_num AS DOUBLE) / p_den))', 6)} AS fisher
    FROM t
    """,
)
def price_index_laspeyres_fisher(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price indices {_PI_Y0} -> {_PI_Y1} over the parts traded in both
    years: Laspeyres (base-quantity weighted), Paasche
    (current-quantity weighted), and Fisher (their geometric mean —
    the "ideal" index). The economics-lane aggregate behind CPI-style
    dashboards; complements ``mix_shift_decomposition`` (volume vs
    rate) with the pure-price movement.

    Scale shape: facts collapse to (part, year) sums first; the
    base/current alignment is ONE part-keyed self-join of that
    dimension-sized frame; the indices are a single scalar aggregate.
    Determinism: per-part cross terms take ONE truncating integer
    division of exact products (Spark DIV == DuckDB // on positives);
    sums are exact; each index is one double division (+ an
    IEEE-exact sqrt for Fisher), det-rounded."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    py = (
        li.filter(yr.isin(_PI_Y0, _PI_Y1))
        .groupBy(
            F.col("l_partkey").alias("part"),
            yr.cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("ext_c"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    a = py.filter(F.col("yr") == _PI_Y0).select(
        "part",
        F.col("ext_c").alias("e0"),
        F.col("qty").alias("q0"),
    )
    b = py.filter(F.col("yr") == _PI_Y1).select(
        "part",
        F.col("ext_c").alias("e1"),
        F.col("qty").alias("q1"),
    )
    t = (
        a.join(b, "part")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.expr("(e1 * q0) DIV NULLIF(q1, 0)"))
            .cast("long")
            .alias("l_num"),
            F.sum("e0").cast("long").alias("l_den"),
            F.sum("e1").cast("long").alias("p_num"),
            F.sum(F.expr("(e0 * q1) DIV NULLIF(q0, 0)"))
            .cast("long")
            .alias("p_den"),
        )
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den")
    paas = F.col("p_num").cast("double") / F.col("p_den")
    return t.select(
        "n_parts",
        "l_num",
        "l_den",
        "p_num",
        "p_den",
        det_round(lasp, 6).alias("laspeyres"),
        det_round(paas, 6).alias("paasche"),
        det_round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (causal-inference family)
# ---------------------------------------------------------------------------

_DID_SEG = "BUILDING"
_DID_PRE, _DID_POST = 1994, 1995


@register(
    "did_order_value_estimator",
    oracle=f"""
    WITH m AS (
      SELECT CASE WHEN c_mktsegment = '{_DID_SEG}' THEN 1 ELSE 0 END
               AS treated,
             CASE WHEN year(o_orderdate) = {_DID_POST} THEN 1
                  ELSE 0 END AS post,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) IN ({_DID_PRE}, {_DID_POST})
    ),
    g AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM m GROUP BY 1, 2
    ),
    w AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s_t0,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s_t1,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s_c0,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s_c1,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1
      FROM g
    )
    SELECT n_t0, n_t1, n_c0, n_c1,
           {det_round_sql('CAST(s_t0 AS DOUBLE) / n_t0', 4)}
             AS mean_treat_pre,
           {det_round_sql('CAST(s_t1 AS DOUBLE) / n_t1', 4)}
             AS mean_treat_post,
           {det_round_sql('CAST(s_c0 AS DOUBLE) / n_c0', 4)}
             AS mean_ctrl_pre,
           {det_round_sql('CAST(s_c1 AS DOUBLE) / n_c1', 4)}
             AS mean_ctrl_post,
           {det_round_sql(
               '(CAST(s_t1 AS DOUBLE) / n_t1'
               ' - CAST(s_t0 AS DOUBLE) / n_t0)'
               ' - (CAST(s_c1 AS DOUBLE) / n_c1'
               ' - CAST(s_c0 AS DOUBLE) / n_c0)', 4)} AS did_cents
    FROM w
    """,
)
def did_order_value_estimator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-in-differences: the {_DID_SEG} segment (treated)
    versus everyone else (control), order value pre ({_DID_PRE}) vs
    post ({_DID_POST}) — DiD = (T_post - T_pre) - (C_post - C_pre),
    the workhorse causal estimator when randomization is impossible
    and both groups share a trend. Complements ``ab_test_mean_diff``
    (randomized) with the observational design.

    Scale shape: one join + ONE (treated, post) aggregate — four cells
    of mergeable (n, sum) moments; all arithmetic happens on the 4-row
    frame. Determinism: exact cent sums; each mean is one double
    division; the DiD is a fixed op tree, det-rounded."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    yr = F.year("o_orderdate")
    m = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .filter(yr.isin(_DID_PRE, _DID_POST))
        .select(
            F.when(F.col("c_mktsegment") == _DID_SEG, 1)
            .otherwise(0)
            .alias("treated"),
            F.when(yr == _DID_POST, 1).otherwise(0).alias("post"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    g = m.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )

    def cell(col, t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col(col),
            )
        )

    w = g.agg(
        cell("s", 1, 0).alias("s_t0"),
        cell("n", 1, 0).alias("n_t0"),
        cell("s", 1, 1).alias("s_t1"),
        cell("n", 1, 1).alias("n_t1"),
        cell("s", 0, 0).alias("s_c0"),
        cell("n", 0, 0).alias("n_c0"),
        cell("s", 0, 1).alias("s_c1"),
        cell("n", 0, 1).alias("n_c1"),
    )
    mt0 = F.col("s_t0").cast("double") / F.col("n_t0")
    mt1 = F.col("s_t1").cast("double") / F.col("n_t1")
    mc0 = F.col("s_c0").cast("double") / F.col("n_c0")
    mc1 = F.col("s_c1").cast("double") / F.col("n_c1")
    return w.select(
        "n_t0",
        "n_t1",
        "n_c0",
        "n_c1",
        det_round(mt0, 4).alias("mean_treat_pre"),
        det_round(mt1, 4).alias("mean_treat_post"),
        det_round(mc0, 4).alias("mean_ctrl_pre"),
        det_round(mc1, 4).alias("mean_ctrl_post"),
        det_round((mt1 - mt0) - (mc1 - mc0), 4).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Weiszfeld geometric median (9th iterative family: fixed-point descent)
# ---------------------------------------------------------------------------

_GM_ITERS = 4
_GM_INV = 1000000000  # inverse-distance scale


def _gm_pts_sql() -> str:
    hx = _hex60_seeded("11", "CAST(c_custkey AS VARCHAR)")
    hy = _hex60_seeded("12", "CAST(c_custkey AS VARCHAR)")
    return f"""
    pts AS MATERIALIZED (
      SELECT c_nationkey AS nk,
             CAST({hx} % 10000 AS BIGINT) AS x,
             CAST({hy} % 10000 AS BIGINT) AS y
      FROM customer
    )"""


def _gm_iter_sql(prev: str, cur: str) -> str:
    dist = (
        f"CAST(FLOOR(sqrt(CAST((p.x - m.mx) * (p.x - m.mx)"
        f" + (p.y - m.my) * (p.y - m.my) AS DOUBLE))) AS BIGINT)"
    )
    inv = f"({_GM_INV} // GREATEST({dist}, 1))"
    return f"""
    {cur} AS MATERIALIZED (
      SELECT p.nk,
             SUM(p.x * {inv}) // NULLIF(SUM({inv}), 0) AS mx,
             SUM(p.y * {inv}) // NULLIF(SUM({inv}), 0) AS my
      FROM pts p JOIN {prev} m ON m.nk = p.nk
      GROUP BY p.nk
    )"""


def _gm_oracle() -> str:
    iters = ",".join(
        _gm_iter_sql(f"m{k}", f"m{k + 1}") for k in range(_GM_ITERS)
    )
    last = f"m{_GM_ITERS}"
    return f"""
    WITH {_gm_pts_sql()},
    m0 AS MATERIALIZED (
      SELECT nk, SUM(x) // COUNT(*) AS mx, SUM(y) // COUNT(*) AS my
      FROM pts GROUP BY nk
    ),
    {iters}
    SELECT p.nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(m.mx) AS BIGINT) AS median_x,
           CAST(MAX(m.my) AS BIGINT) AS median_y,
           CAST(SUM(CAST(FLOOR(sqrt(CAST(
             (p.x - m.mx) * (p.x - m.mx)
             + (p.y - m.my) * (p.y - m.my) AS DOUBLE))) AS BIGINT))
             AS BIGINT) AS total_distance
    FROM pts p JOIN {last} m ON m.nk = p.nk
    GROUP BY p.nk
    """


@register("weiszfeld_geometric_median", oracle=_gm_oracle())
def weiszfeld_geometric_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Geometric median (the L1 facility-location point: minimizes the
    SUM of Euclidean distances, far more outlier-robust than the
    centroid) per nation over the deterministic customer point cloud,
    by 4 Weiszfeld fixed-point rounds — the NINTH iterative family:
    inverse-distance-weighted re-averaging (fixed-point descent),
    distinct from propagation, assignment, peeling, power iteration,
    merge loops, and absorbing chains. Reported with the final total
    distance (the objective it descends).

    Scale shape: the point frame is checkpointed ONCE; each round is
    one broadcast of the 25-row median frame + one map-side-combined
    aggregate keyed by nation — the k-means plan with weights instead
    of assignments. Determinism: distances are floor(sqrt(exact int))
    — IEEE sqrt is correctly rounded, so the floor is bit-stable;
    inverse weights are capped integer divisions ({_GM_INV} DIV
    max(d,1), zero-distance safe); every weighted mean is an exact
    integer division of exact sums. Cites: Weiszfeld 1937; Cohen et
    al. STOC'16 for the modern treatment."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("nk"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 11) % 10000)
        .cast("bigint")
        .alias("x"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 12) % 10000)
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=False)
    m = pts.groupBy("nk").agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("mx"),
        F.expr("SUM(y) DIV COUNT(*)").alias("my"),
    )
    dist = F.floor(
        F.sqrt(
            (
                (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
                + (F.col("y") - F.col("my"))
                * (F.col("y") - F.col("my"))
            ).cast("double")
        )
    ).cast("bigint")
    inv = F.expr(f"{_GM_INV} DIV GREATEST(d, 1)")
    for _ in range(_GM_ITERS):
        j = pts.join(F.broadcast(m), "nk").withColumn("d", dist)
        m = (
            j.withColumn("inv", inv)
            .groupBy("nk")
            .agg(
                F.expr("SUM(x * inv) DIV NULLIF(SUM(inv), 0)").alias("mx"),
                F.expr("SUM(y * inv) DIV NULLIF(SUM(inv), 0)").alias("my"),
            )
            .localCheckpoint(eager=False)  # broadcast materializes it
        )
    final = pts.join(F.broadcast(m), "nk").withColumn("d", dist)
    return final.groupBy(F.col("nk").alias("nationkey")).agg(
        F.count("*").cast("long").alias("n_points"),
        F.max("mx").cast("long").alias("median_x"),
        F.max("my").cast("long").alias("median_y"),
        F.sum("d").cast("long").alias("total_distance"),
    )


# ---------------------------------------------------------------------------
# Moran's I spatial autocorrelation (spatial-statistics family)
# ---------------------------------------------------------------------------

_MI_W = 1000000  # inverse-distance weight scale


@register(
    "morans_i_spatial_autocorrelation",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT c_nationkey AS nk,
             CAST({_hex60_seeded('11', 'CAST(c_custkey AS VARCHAR)')}
               % 10000 AS BIGINT) AS x,
             CAST({_hex60_seeded('12', 'CAST(c_custkey AS VARCHAR)')}
               % 10000 AS BIGINT) AS y
      FROM customer
    ),
    cent AS (
      SELECT nk, SUM(x) // COUNT(*) AS cx, SUM(y) // COUNT(*) AS cy
      FROM pts GROUP BY nk
    ),
    rev AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    a AS (
      SELECT r.nk, r.cents, c.cx, c.cy FROM rev r
      JOIN cent c ON c.nk = r.nk
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s FROM a),
    z AS (
      -- u_i = n*(x_i - mean) exactly; the scaling cancels in I
      SELECT a.nk, a.cx, a.cy,
             CAST(t.n * a.cents - t.s AS DECIMAL(38,0)) AS u
      FROM a, t
    ),
    pairs AS (
      SELECT i.u AS ui, j.u AS uj,
             CAST({_MI_W} // GREATEST(CAST(FLOOR(sqrt(CAST(
               (i.cx - j.cx) * (i.cx - j.cx)
               + (i.cy - j.cy) * (i.cy - j.cy) AS DOUBLE)))
               AS BIGINT), 1) AS DECIMAL(38,0)) AS w
      FROM z i JOIN z j ON i.nk <> j.nk
    ),
    agg AS (
      SELECT CAST(SUM(w) AS DECIMAL(38,0)) AS w_sum,
             CAST(SUM(w * ui * uj) AS DECIMAL(38,6)) AS cross_sum
      FROM pairs
    ),
    den AS (
      SELECT CAST(SUM(u * u) AS DECIMAL(38,0)) AS u2 FROM z
    )
    SELECT t.n AS n_regions,
           CAST(agg.w_sum AS BIGINT) AS w_sum_micro,
           {det_round_sql(
               '(CAST(t.n AS DOUBLE) / CAST(agg.w_sum AS DOUBLE))'
               ' * (CAST(agg.cross_sum AS DOUBLE)'
               ' / CAST(den.u2 AS DOUBLE))', 6)} AS morans_i
    FROM t, agg, den
    """,
)
def morans_i_spatial_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Moran's I (1950) — THE spatial-autocorrelation statistic: do
    nearby regions have similar revenue? Regions are nations located
    at their customers' integer centroid in the deterministic point
    cloud; weights are capped inverse distances; I ~ 0 means spatial
    randomness, > 0 clustering, < 0 checkerboard. The spatial-
    statistics family head, composing the spatial lane (shared point
    cloud) with the revenue aggregates.

    Scale shape: facts collapse to one |regions|-sized frame before
    ANY pairwise work; the weight matrix is a 25x24 self-join of that
    bounded frame (at fleet scale regions stay bounded — it is the
    FACTS that grow). Determinism: centroids and deviations are exact
    ints (u_i = n*x_i - S keeps the mean exact); cross moments are
    exact DECIMAL(38) sums (u_i*u_j reaches ~1e24 — bigint would
    silently wrap, the r7 cdc lesson); I is one fixed double op tree,
    det-rounded."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pts = cust.select(
        F.col("c_nationkey").alias("nk"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 11) % 10000)
        .cast("bigint")
        .alias("x"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 12) % 10000)
        .cast("bigint")
        .alias("y"),
    )
    cent = pts.groupBy("nk").agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("cx"),
        F.expr("SUM(y) DIV COUNT(*)").alias("cy"),
    )
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    a = rev.join(cent, "nk")
    t = a.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    z = (
        a.crossJoin(F.broadcast(t))
        .select(
            "nk",
            "cx",
            "cy",
            "n",
            (F.col("n") * F.col("cents") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("u"),
        )
        .localCheckpoint(eager=False)  # 25 rows, used on both join sides
    )
    i_side = z.select(
        F.col("nk").alias("inik"),
        F.col("cx").alias("ix"),
        F.col("cy").alias("iy"),
        F.col("u").alias("ui"),
    )
    j_side = z.select(
        F.col("nk").alias("jnk"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
        F.col("u").alias("uj"),
    )
    d = F.floor(
        F.sqrt(
            (
                (F.col("ix") - F.col("jx")) * (F.col("ix") - F.col("jx"))
                + (F.col("iy") - F.col("jy"))
                * (F.col("iy") - F.col("jy"))
            ).cast("double")
        )
    ).cast("bigint")
    pairs = (
        i_side.join(
            F.broadcast(j_side), F.col("inik") != F.col("jnk")
        )
        .withColumn("dd", d)
        .select(
            "ui",
            "uj",
            F.expr(f"CAST({_MI_W} DIV GREATEST(dd, 1) AS DECIMAL(38,0))")
            .alias("w"),
        )
    )
    agg = pairs.agg(
        F.sum("w").cast("decimal(38,0)").alias("w_sum"),
        F.sum(F.col("w") * F.col("ui") * F.col("uj"))
        .cast("decimal(38,6)")
        .alias("cross_sum"),
    )
    den = z.agg(
        F.sum(F.col("u") * F.col("u"))
        .cast("decimal(38,0)")
        .alias("u2")
    )
    return (
        t.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_regions"),
            F.col("w_sum").cast("bigint").alias("w_sum_micro"),
            det_round(
                (
                    F.col("n").cast("double")
                    / F.col("w_sum").cast("double")
                )
                * (
                    F.col("cross_sum").cast("double")
                    / F.col("u2").cast("double")
                ),
                6,
            ).alias("morans_i"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (distribution-comparison family)
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "wiki", "web"


@register(
    "ks_two_sample_doclen",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
      WHERE source IN ('{_KS_A}', '{_KS_B}')
    ),
    g AS (
      SELECT v,
             CAST(SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
      FROM d GROUP BY 1
    ),
    c AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum_b
      FROM g
    ),
    t AS (
      SELECT CAST(MAX(cum_a) AS BIGINT) AS na,
             CAST(MAX(cum_b) AS BIGINT) AS nb
      FROM c
    ),
    s AS (
      -- D numerator is EXACT: |cum_a*nb - cum_b*na| over the merged
      -- value grid; ties break toward the larger gap automatically
      SELECT CAST(MAX(ABS(c.cum_a * t.nb - c.cum_b * t.na)) AS BIGINT)
               AS d_num,
             CAST(MAX(t.na) AS BIGINT) AS na,
             CAST(MAX(t.nb) AS BIGINT) AS nb
      FROM c, t
    )
    SELECT na, nb, d_num,
           {det_round_sql(
               'CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb)', 6)}
             AS ks_d,
           {det_round_sql(
               'CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb)'
               ' * sqrt(CAST(na AS DOUBLE) * nb / (na + nb))', 6)}
             AS ks_stat
    FROM s
    """,
)
def ks_two_sample_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test on the document-length
    distributions of two sources: D = max |F_a(v) - F_b(v)| over the
    merged value grid, computed ENTIRELY in integers — the numerator
    |cum_a*nb - cum_b*na| is exact, the division happens once at the
    edge. KS is THE canonical nonparametric "same distribution?" test:
    it complements ``value_drift_psi`` (binned, parametric-ish) and
    ``chi_square_independence`` (categorical) with the
    distribution-free continuous comparison, plus the sqrt(n)-scaled
    statistic for significance lookups.

    Scale shape: facts collapse to the per-DISTINCT-value count grid
    first (one aggregate); both ECDFs run through the two-phase prefix
    sum (never a single-partition global window — the
    decision_stump_split discipline; at 100 TB the grid is the
    distinct-value domain, and if that explodes you quantize first, as
    value_drift_psi does); the max is a scalar aggregate. Determinism: counts and the
    D numerator are exact bigints; ks_d / ks_stat are fixed double op
    trees (IEEE-exact sqrt), det-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("source").isin(_KS_A, _KS_B)).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    g = d.groupBy("v").agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    # both ECDFs through the two-phase prefix sum (never a single-
    # partition global window over the value grid — the
    # decision_stump_split discipline)
    c = two_phase_prefix_sum(
        g, ["v"], ["ca", "cb"], out_col=["cum_a", "cum_b"]
    ).select("v", "cum_a", "cum_b")
    t = c.agg(
        F.max("cum_a").cast("long").alias("na"),
        F.max("cum_b").cast("long").alias("nb"),
    )
    s = c.crossJoin(F.broadcast(t)).agg(
        F.max(
            F.abs(
                F.col("cum_a") * F.col("nb")
                - F.col("cum_b") * F.col("na")
            )
        )
        .cast("long")
        .alias("d_num"),
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    ksd = F.col("d_num").cast("double") / (
        F.col("na").cast("double") * F.col("nb")
    )
    return s.select(
        "na",
        "nb",
        "d_num",
        det_round(ksd, 6).alias("ks_d"),
        det_round(
            ksd
            * F.sqrt(
                F.col("na").cast("double")
                * F.col("nb")
                / (F.col("na") + F.col("nb"))
            ),
            6,
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (distribution-comparison family)
# ---------------------------------------------------------------------------


@register(
    "mannwhitney_u_doclen",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
      WHERE source IN ('{_KS_A}', '{_KS_B}')
    ),
    g AS (
      SELECT v,
             CAST(SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
      FROM d GROUP BY 1
    ),
    c AS (
      SELECT v, ca, cb,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cb
               AS cb_below
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb,
             -- U doubled so ties stay integer: each a-value beats
             -- 2*(b below) and splits ties 1-for-1
             CAST(SUM(ca * (2 * cb_below + cb)) AS BIGINT) AS u2
      FROM c
    )
    SELECT na, nb, u2,
           {det_round_sql(
               'CAST(u2 AS DOUBLE) / (2.0 * na * nb)', 6)}
             AS auc_estimate,
           {det_round_sql(
               '(CAST(u2 AS DOUBLE) / 2 - CAST(na AS DOUBLE) * nb / 2)'
               ' / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1) / 12)',
               6)} AS z_stat
    FROM t
    """,
)
def mannwhitney_u_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two sources'
    document-length distributions — the rank-based location test
    beside KS's shape test; U/(na*nb) is also the AUC ("probability a
    random wiki doc is longer than a random web doc"), which is why
    the same statistic grades binary classifiers. DOUBLED-U trick
    keeps ties exact: 2U = sum over the value grid of
    ca*(2*cb_below + cb_ties) — pure integers, no midrank fractions.

    Scale shape: the same per-DISTINCT-value count grid as
    ``ks_two_sample_doclen`` (one aggregate), one cumulative pass,
    one scalar rollup. Determinism: 2U is an exact bigint; AUC and
    the normal-approximation z are fixed double op trees,
    det-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("source").isin(_KS_A, _KS_B)).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    g = d.groupBy("v").agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    c = two_phase_prefix_sum(g, ["v"], "cb", out_col="cum_cb").select(
        "v",
        "ca",
        "cb",
        (F.col("cum_cb") - F.col("cb")).alias("cb_below"),
    )
    t = c.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cb_below") + F.col("cb")))
        .cast("long")
        .alias("u2"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    u2 = F.col("u2").cast("double")
    return t.select(
        "na",
        "nb",
        "u2",
        det_round(u2 / (2.0 * na * nb), 6).alias("auc_estimate"),
        det_round(
            (u2 / 2 - na * nb / 2)
            / F.sqrt(na * nb * (na + nb + 1) / 12),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (rank-statistics family)
# ---------------------------------------------------------------------------


@register(
    "spearman_rank_correlation",
    oracle=f"""
    WITH m AS (
      SELECT o_custkey AS ck,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r AS (
      -- ties broken by custkey: a deterministic TOTAL order is the
      -- spec (midranks would reintroduce fractions)
      SELECT ck,
             row_number() OVER (ORDER BY n_orders, ck) AS ra,
             row_number() OVER (ORDER BY cents, ck) AS rb
      FROM m
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS d2
      FROM r
    )
    SELECT n, d2,
           {det_round_sql(
               '1 - 6.0 * d2 / (CAST(n AS DOUBLE)'
               ' * (CAST(n AS DOUBLE) * n - 1))', 6)} AS spearman_rho
    FROM t
    """,
)
def spearman_rank_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between per-customer order COUNT and
    total SPEND: rho = 1 - 6*sum(d^2)/(n(n^2-1)) over rank differences
    — the monotone-association measure that ignores outliers and
    nonlinearity (Pearson's blind spots; the pairwise sibling is
    Kendall's tau in ``series_theilsen_trend``). Ranks use a
    deterministic custkey tiebreak (a total order as spec — midranks
    would reintroduce fractions).

    Scale shape: one per-customer aggregate, then two rank windows.
    NOTE the honest caveat: row_number over a global ORDER is a
    single-partition window — fine on the bounded customer frame here;
    at true fleet scale ranks come from the two-phase prefix sum over
    the distinct-value grid (the rfm_customer_segments recipe).
    Determinism: ranks and d^2 are exact ints; rho is one fixed
    double op tree, det-rounded."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").cast("long").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    wa = Window.orderBy("n_orders", "ck")
    wb = Window.orderBy("cents", "ck")
    r = m.select(
        "ck",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    t = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
        )
        .cast("long")
        .alias("d2"),
    )
    n = F.col("n").cast("double")
    return t.select(
        "n",
        "d2",
        det_round(
            1 - 6.0 * F.col("d2").cast("double") / (n * (n * n - 1)),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (reflected-walk composition)
# ---------------------------------------------------------------------------

_CUSUM_SLACK = 500  # cents of slack per day (k)
_CUSUM_H = 100000  # alarm threshold in cents (h)


@register(
    "cusum_drift_detection",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(22,4)) * 100) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(SUM(cents) AS BIGINT) AS tot_c,
             CAST(SUM(n) AS BIGINT) AS tot_n
      FROM daily GROUP BY 1
    ),
    dev AS (
      -- deviation of the day's mean from the series mean, in cents:
      -- the numerator can be NEGATIVE, so use the portable FLOOR
      -- division spelling (mod-subtraction) rather than relying on
      -- DuckDB // == Spark DIV truncation for negatives (verified
      -- equal on this container, but the repo discipline doesn't
      -- lean on it)
      SELECT d.event_type, d.d,
             ((d.cents * b.tot_n - d.n * b.tot_c)
              - (((d.cents * b.tot_n - d.n * b.tot_c)
                  % (d.n * b.tot_n)) + (d.n * b.tot_n))
                % (d.n * b.tot_n))
               // (d.n * b.tot_n) - {_CUSUM_SLACK} AS x
      FROM daily d JOIN base b ON b.event_type = d.event_type
    ),
    s AS (
      SELECT event_type, d, x,
             SUM(x) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS run
      FROM dev
    ),
    c AS (
      SELECT event_type, d, x, run,
             run - LEAST(0, MIN(run) OVER (PARTITION BY event_type
                                           ORDER BY d
                                           ROWS UNBOUNDED PRECEDING))
               AS cusum
      FROM s
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN cusum > {_CUSUM_H} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_alarm_days,
           MIN(CASE WHEN cusum > {_CUSUM_H} THEN d END)
             AS first_alarm_day
    FROM c GROUP BY 1
    """,
)
def cusum_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor (Page 1954) per event type over
    daily mean value: C_i = max(0, C_{i-1} + dev_i - slack) — computed
    WITHOUT iteration because the CUSUM recursion IS the reflected
    walk, so the ``inventory_clamped_balance`` identity
    C_i = S_i - min(0, min prefix S) applies verbatim (the identity
    pays for itself twice). Reports max excursion, alarm days
    (C > h), and first alarm date — the change-detection complement
    of ``series_changepoint_meanshift`` (retrospective) as a
    MONITORING statistic (sequential).

    Scale shape: one daily aggregate, one broadcast of per-type
    baselines, two cumulative windows over one per-type sort.
    Determinism: the daily deviation is the portable floor division
    of exact products (mod-subtraction spelling — the numerator can be
    negative); everything downstream stays bigint."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.count("*").cast("long").alias("n"),
    )
    base = daily.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("tot_c"),
        F.sum("n").cast("long").alias("tot_n"),
    )
    dev = daily.join(F.broadcast(base), "event_type").select(
        "event_type",
        "d",
        # portable floor division (numerator may be negative): the
        # mod-subtraction makes the quotient exact, so DIV is safe
        (
            F.expr(
                "((cents * tot_n - n * tot_c)"
                " - (((cents * tot_n - n * tot_c) % (n * tot_n))"
                " + (n * tot_n)) % (n * tot_n))"
                " DIV (n * tot_n)"
            )
            - _CUSUM_SLACK
        ).alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = dev.withColumn("run", F.sum("x").over(w))
    c = s.withColumn(
        "cusum",
        F.col("run") - F.least(F.lit(0), F.min("run").over(w)),
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("cusum").cast("long").alias("max_cusum"),
        F.sum(F.when(F.col("cusum") > _CUSUM_H, 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_days"),
        F.min(
            F.when(F.col("cusum") > _CUSUM_H, F.col("d"))
        ).alias("first_alarm_day"),
    )
