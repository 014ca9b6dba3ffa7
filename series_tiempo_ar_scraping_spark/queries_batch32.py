"""Batch-32 queries: rendezvous (HRW) shard assignment, the Poisson
bootstrap confidence interval, and B-cubed cluster evaluation.

Families (each entry hash-oracled; determinism per the established
recipes):

- Rendezvous hashing: highest-random-weight shard assignment (the
  consistent-placement scheme behind cache fleets and shard routers) —
  per-shard balance, plus the EXACT movement count when a 9th node
  joins (HRW's selling point: only keys the new node wins move,
  ~1/(N+1) of them). Pure md5 integer argmax, no coordination.
- Poisson bootstrap: the fleet-scale bootstrap — instead of B
  resampling passes, ONE scan draws for every row B independent
  truncated-Poisson(1) replication counts from seeded hashes; each
  resample's mean is an exact integer ratio of (sum, count) pairs
  accumulated in one wide aggregate. 64 resamples -> percentile CI of
  the mean order value. Resampling 100 TB is impossible; this is how
  bootstrap CIs actually get computed on it.
- B-cubed P/R/F1: the element-weighted cluster-quality metric (Bagga &
  Baldwin) of the dedup pipeline's connected components against the
  planted truth clustering — batch-29's PAIRWISE eval complements this
  ELEMENT-level one (B-cubed penalizes lumping two big truth clusters
  far more than pair-F1 does). Contingency cells (pred x truth) make
  it one aggregate over the assignment join.

Reference parity: extends the reference's indicator lane with the
placement/eval reports a fleet-scale platform reads.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.queries_llm import (
    dedup_connected_components,
)
from series_tiempo_ar_scraping_spark.registry import (
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) shard assignment
# ---------------------------------------------------------------------------

_HRW_NODES = 8
_HRW_SEED_BASE = 1000  # weight for node i hashes seed 1000+i


def _hrw_oracle() -> str:
    ws = ", ".join(
        f"{_hex60_seeded(str(_HRW_SEED_BASE + i), 'CAST(doc_id AS VARCHAR)')}"
        f" AS w{i}"
        for i in range(_HRW_NODES + 1)
    )
    old_max = "greatest(" + ", ".join(f"w{i}" for i in range(_HRW_NODES)) + ")"
    assign = "CASE " + " ".join(
        f"WHEN w{i} = m THEN {i}" for i in range(_HRW_NODES)
    ) + " END"
    return f"""
    WITH w AS (SELECT doc_id, {ws} FROM documents),
    a AS (
      SELECT doc_id, {assign} AS shard, w{_HRW_NODES} > m AS moves
      FROM (SELECT *, {old_max} AS m FROM w)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM a)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(*) * 1000000 // max(n.n_total) AS BIGINT)
             AS share_micro,
           CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_on_expand,
           CAST(SUM(CASE WHEN moves THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS moved_share_micro
    FROM a, n
    GROUP BY shard
    """


@register("rendezvous_shard_assignment", oracle=_hrw_oracle())
def rendezvous_shard_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous / highest-random-weight placement: every key hashes
    once per node (md5, seeded per node), and lives on the arg-max
    node — fully deterministic, coordination-free, and minimally
    disruptive: when a node joins, EXACTLY the keys the new node wins
    move (expected 1/(N+1) of them, here measured per shard). The
    report is per-shard balance plus that exact movement count — what
    you read before resizing a 9-node fleet. 60-bit hashes make
    weight ties impossible in practice; the argmax breaks ties toward
    the lowest node index identically in both engines (first matching
    CASE arm).

    Scale shape: map-only expressions (N+1 md5s per key), one groupBy
    over an 8-value shard key (map-side combine), the key total as an
    unbounded window over the bounded shard frame. Determinism: md5
    integer weights, exact counts, truncating divisions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    key = F.col("doc_id").cast("string")
    w = docs.select(
        "doc_id",
        *[
            hash64_seeded(key, _HRW_SEED_BASE + i).alias(f"w{i}")
            for i in range(_HRW_NODES + 1)
        ],
    ).withColumn(
        "m", F.greatest(*[F.col(f"w{i}") for i in range(_HRW_NODES)])
    )
    expr = None
    for i in range(_HRW_NODES):
        cond = F.col(f"w{i}") == F.col("m")
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    a = w.select(
        expr.alias("shard"),
        (F.col(f"w{_HRW_NODES}") > F.col("m")).alias("moves"),
    )
    per = a.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("moves"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved_on_expand"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "shard",
        "n_keys",
        F.expr("n_keys * 1000000").alias("_nk6"),
        F.sum("n_keys").over(wall).alias("_tot"),
        "n_moved_on_expand",
    ).select(
        "shard",
        "n_keys",
        F.expr("CAST(_nk6 DIV _tot AS BIGINT)").alias("share_micro"),
        "n_moved_on_expand",
        F.expr(
            "CAST(n_moved_on_expand * 1000000 DIV n_keys AS BIGINT)"
        ).alias("moved_share_micro"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI of the mean order value
# ---------------------------------------------------------------------------

_BOOT_B = 64
_BOOT_SEED_BASE = 5000
# Truncated-Poisson(1) inverse-CDF thresholds on the 60-bit hash range:
# replication count k = #thresholds below the hash (capped at 6; tail
# mass ~8e-5). Fixed integer literals -> zero floating point in the draw.
_POIS_CDF = []
_acc = 0.0
for _k in range(6):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_CDF.append(min(_acc, 1.0))
_POIS_THRESH = [int(c * (1 << 60)) for c in _POIS_CDF]


def _pois_k_sql(w: str) -> str:
    return (
        "("
        + " + ".join(
            f"CASE WHEN {w} >= {t} THEN 1 ELSE 0 END"
            for t in _POIS_THRESH
        )
        + ")"
    )


def _bootstrap_oracle() -> str:
    # one md5 feeds TWO draws (hex chars 1-15 and 16-30 are independent
    # 60-bit words of the 128-bit digest) — halves the per-row digest
    # count, the dominant cost of the pass
    hashes = ", ".join(
        f"md5(CAST({_BOOT_SEED_BASE + g} AS VARCHAR) || '|'"
        f" || CAST(o_orderkey AS VARCHAR)) AS h{g}"
        for g in range(_BOOT_B // 2)
    )
    words = ", ".join(
        f"('0x' || substr(h{b // 2}, {1 if b % 2 == 0 else 16}, 15))"
        f"::BIGINT AS w{b}"
        for b in range(_BOOT_B)
    )
    draws = ", ".join(
        f"{_pois_k_sql(f'w{b}')} AS k{b}" for b in range(_BOOT_B)
    )
    aggs = ", ".join(
        f"CAST(SUM(k{b} * cents) AS BIGINT) AS s{b},"
        f" CAST(SUM(k{b}) AS BIGINT) AS c{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(
        f"CAST(s{b} * 10000 // NULLIF(c{b}, 0) AS BIGINT)"
        for b in range(_BOOT_B)
    )
    return f"""
    WITH base AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             {hashes}
      FROM orders
    ),
    ws AS (SELECT cents, {words} FROM base),
    rows_ AS (SELECT cents, {draws} FROM ws),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             {aggs}
      FROM rows_
    ),
    m AS (
      SELECT n_orders, sum_cents,
             list_sort([{means}]) AS ms
      FROM agg
    )
    SELECT n_orders,
           CAST(sum_cents * 10000 // n_orders AS BIGINT) AS mean_micro,
           CAST(ms[2] AS BIGINT) AS ci_lo_micro,
           CAST(ms[{_BOOT_B - 1}] AS BIGINT) AS ci_hi_micro,
           {det_round_sql(
               f'''sqrt(CAST(list_sum(list_transform(ms, x ->
                      ((x - ms[1]) // 10000) * ((x - ms[1]) // 10000)))
                      AS DOUBLE) / {_BOOT_B}
                  - CAST(list_sum(list_transform(ms,
                          x -> (x - ms[1]) // 10000)) AS DOUBLE)
                    * list_sum(list_transform(ms,
                          x -> (x - ms[1]) // 10000))
                    / ({_BOOT_B}.0 * {_BOOT_B}))''',
               2)} AS se_cents
    FROM m
    """


@register("bootstrap_mean_ci", oracle=_bootstrap_oracle())
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: ONE scan draws, per
    order and per resample b in 0..63, a truncated-Poisson(1)
    replication count from a seeded md5 (integer inverse-CDF
    thresholds — no floating point in the draw), and accumulates each
    resample's (sum, count) in one wide aggregate; resample means are
    exact integer micro-dollars, the CI is the 2nd/63rd order
    statistic (~95%), and the bootstrap SE comes from exact integer
    moments of the min-shifted deltas in CENTS (shifting avoids
    catastrophic cancellation; cents keep the squared deltas far from
    2^63 even at small n where micro-deltas would overflow),
    det-rounded. THE way to bootstrap
    100 TB: B independent multinomial resampling passes are replaced
    by B cheap per-row counters in a single pass (Poisson
    approximation to the multinomial, standard at fleet scale).

    Scale shape: map-only hash draws, one aggregate (map-side
    combinable — 130 running sums), driver-side arithmetic on ONE row.
    Money in DECIMAL-exact cents (double sums would diverge on add
    order). Determinism: md5 draws, integer thresholds, exact sums,
    truncating divisions; sqrt is the one correctly-rounded
    transcendental, det-rounded to 2 places."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")

    # one md5 per PAIR of draws (chars 1-15 / 16-30 of the digest are
    # independent 60-bit words), materialized as explicit columns so
    # neither codegen nor projection collapse can recompute a digest —
    # the digests are the dominant cost of the pass
    base = orders.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        *[
            F.md5(
                F.concat(F.lit(str(_BOOT_SEED_BASE + g)), F.lit("|"), key)
            ).alias(f"h{g}")
            for g in range(_BOOT_B // 2)
        ],
    )
    ws = base.select(
        "cents",
        *[
            F.conv(
                F.substring(
                    F.col(f"h{b // 2}"), 1 if b % 2 == 0 else 16, 15
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias(f"w{b}")
            for b in range(_BOOT_B)
        ],
    )

    def pois_k(b: int) -> F.Column:
        w = F.col(f"w{b}")
        out = None
        for t in _POIS_THRESH:
            ind = F.when(w >= t, 1).otherwise(0)
            out = ind if out is None else out + ind
        return out

    rows_ = ws.select(
        "cents",
        *[pois_k(b).alias(f"k{b}") for b in range(_BOOT_B)],
    )
    agg = rows_.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        *[
            c
            for b in range(_BOOT_B)
            for c in (
                F.sum(F.col(f"k{b}") * F.col("cents"))
                .cast("long")
                .alias(f"s{b}"),
                F.sum(f"k{b}").cast("long").alias(f"c{b}"),
            )
        ],
    )
    means = F.sort_array(
        F.array(
            *[
                F.expr(f"CAST(s{b} * 10000 DIV NULLIF(c{b}, 0) AS BIGINT)")
                for b in range(_BOOT_B)
            ]
        )
    )
    m = agg.select("n_orders", "sum_cents", means.alias("ms"))
    # shifted moments in exact integer CENTS (micro deltas squared can
    # exceed 2^63 at small n where the bootstrap spread is wide):
    # d = (x - min) DIV 10000, var = E[d^2] - E[d]^2
    d = "transform(ms, x -> (x - ms[0]) DIV 10000)"
    var = (
        f"CAST(aggregate({d}, 0L, (a, x) -> a + x * x) AS DOUBLE)"
        f" / {float(_BOOT_B)}"
        f" - CAST(aggregate({d}, 0L, (a, x) -> a + x) AS DOUBLE)"
        f" * aggregate({d}, 0L, (a, x) -> a + x)"
        f" / ({float(_BOOT_B)} * {_BOOT_B})"
    )
    return m.select(
        "n_orders",
        F.expr("CAST(sum_cents * 10000 DIV n_orders AS BIGINT)").alias(
            "mean_micro"
        ),
        F.expr("CAST(element_at(ms, 2) AS BIGINT)").alias("ci_lo_micro"),
        F.expr(f"CAST(element_at(ms, {_BOOT_B - 1}) AS BIGINT)").alias(
            "ci_hi_micro"
        ),
        det_round(F.expr(f"sqrt({var})"), 2).alias("se_cents"),
    )


# ---------------------------------------------------------------------------
# B-cubed cluster evaluation
# ---------------------------------------------------------------------------


def _bcubed_oracle() -> str:
    from series_tiempo_ar_scraping_spark.sqlfrags import (
        _neardup_edges_ctes,
    )

    return f"""
    WITH RECURSIVE {_neardup_edges_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    assign AS (
      SELECT id AS doc_id, MIN(comp) AS pred,
             id % 100000 AS truth
      FROM reach GROUP BY id
    ),
    cells AS (
      SELECT pred, truth, CAST(COUNT(*) AS BIGINT) AS c
      FROM assign GROUP BY 1, 2
    ),
    psize AS (
      SELECT pred, CAST(SUM(c) AS BIGINT) AS p FROM cells GROUP BY 1
    ),
    tsize AS (
      SELECT truth, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1
    ),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * ((c * 1000000) // p.p)) AS BIGINT) AS psum,
             CAST(SUM(c * ((c * 1000000) // t.t)) AS BIGINT) AS rsum
      FROM cells
      JOIN psize p USING (pred) JOIN tsize t USING (truth)
    )
    SELECT n AS n_elements,
           (SELECT CAST(COUNT(DISTINCT pred) AS BIGINT) FROM cells)
             AS n_pred_clusters,
           (SELECT CAST(COUNT(DISTINCT truth) AS BIGINT) FROM cells)
             AS n_truth_clusters,
           CAST(psum // n AS BIGINT) AS bcubed_precision_micro,
           CAST(rsum // n AS BIGINT) AS bcubed_recall_micro,
           CAST(2 * (psum // n) * (rsum // n)
                // NULLIF((psum // n) + (rsum // n), 0) AS BIGINT)
             AS bcubed_f1_micro
    FROM agg
    """


@register("bcubed_cluster_eval", oracle=_bcubed_oracle())
def bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin) of the dedup
    connected components against the planted truth clustering (mutant
    doc_id+100000 belongs with its parent: truth = doc_id % 100000).
    Element-weighted where batch-29's pair eval is edge-weighted:
    per element, precision = |pred-cluster ∩ truth-cluster| /
    |pred-cluster| — so one wrong merge of two big clusters costs
    quadratically. Computed from the (pred, truth) contingency cells:
    element-precision sums are Σ c·(c·1e6 DIV |pred|) with the
    per-cell truncation as the documented det recipe on both engines.

    Scale shape: the CC assignment is the registered pipeline
    (evaluated once); cells/sizes are three aggregates over the
    assignment frame with equi-joins on bounded cluster keys; the
    final rollup is one row. Determinism: exact integer counts;
    truncating divisions applied in the same order on both sides."""
    assign = dedup_connected_components(spark, sf_dir).select(
        F.col("doc_id"),
        F.col("component_id").alias("pred"),
        (F.col("doc_id") % 100000).alias("truth"),
    )
    # Lazy checkpoint (r13): cells feeds FOUR branches (psize, tsize,
    # the join, counts) — uncheckpointed, each branch re-planned the
    # whole upstream CC pipeline; now the contingency table materializes
    # once (broadcast(counts) is built first and pays it) and every
    # branch reads the bounded cells RDD.
    cells = assign.groupBy("pred", "truth").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=False)
    psize = cells.groupBy("pred").agg(F.sum("c").cast("long").alias("p"))
    tsize = cells.groupBy("truth").agg(F.sum("c").cast("long").alias("t"))
    agg = (
        cells.join(psize, "pred")
        .join(tsize, "truth")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.expr("c * ((c * 1000000) DIV p)"))
            .cast("long")
            .alias("psum"),
            F.sum(F.expr("c * ((c * 1000000) DIV t)"))
            .cast("long")
            .alias("rsum"),
        )
    )
    counts = cells.agg(
        F.countDistinct("pred").cast("long").alias("n_pred_clusters"),
        F.countDistinct("truth").cast("long").alias("n_truth_clusters"),
    )
    return agg.crossJoin(F.broadcast(counts)).select(
        F.col("n").alias("n_elements"),
        "n_pred_clusters",
        "n_truth_clusters",
        F.expr("CAST(psum DIV n AS BIGINT)").alias(
            "bcubed_precision_micro"
        ),
        F.expr("CAST(rsum DIV n AS BIGINT)").alias("bcubed_recall_micro"),
        F.expr(
            "CAST(2 * (psum DIV n) * (rsum DIV n)"
            " DIV NULLIF((psum DIV n) + (rsum DIV n), 0) AS BIGINT)"
        ).alias("bcubed_f1_micro"),
    )
