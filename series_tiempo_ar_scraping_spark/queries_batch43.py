"""Batch-43 queries: feature-hashing document vectors, the Hill
tail-index estimator, and Wald's sequential probability-ratio test.

Families (each entry hash-oracled; determinism per the established
recipes):

- Hashing trick (Weinberger et al. 2009): fixed-width document
  vectors from token hashes (dim = h mod D, sign from the next hash
  bit) — the embedding you can compute WITHOUT a model, exact in
  integers; validated by showing planted near-dup mutants stay
  near-parallel while adjacent documents don't. No all-pairs: the
  evaluated pairs come from the planted structure (mutant↔base) and
  a fixed adjacent-id baseline.
- Hill estimator (1975): the tail index of the order-value
  distribution from the top-k order statistics per priority — the
  heavy-tail diagnostic that says whether mean-based capacity
  planning is even meaningful.
- SPRT (Wald 1945): the sequential A/B test — a log-likelihood
  random walk over each arm's users with ±ln(19) decision bounds
  (α = β = 0.05), reporting the first-crossing index and verdict.
  The 'stop the experiment early' machinery, with every LLR
  increment a precomputed integer literal so both engines walk the
  identical path.

Reference parity: the statistics/eval lane — estimation, tails, and
sequential decisions over the same fact tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _NEAR_CORPUS_SQL,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Feature-hashing document vectors
# ---------------------------------------------------------------------------

_FH_D = 16  # vector width
_FH_SEED = 97


@register(
    "hashing_trick_doc_vectors",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    tok AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS token
      FROM corpus
    ),
    hashed AS (
      SELECT doc_id,
             {_hex60_seeded(str(_FH_SEED), 'token')} AS h
      FROM tok
    ),
    vec AS (
      SELECT doc_id, h % {_FH_D} AS dim,
             CAST(SUM(CASE WHEN (h // {_FH_D}) % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS v
      FROM hashed GROUP BY 1, 2
    ),
    pairs AS (
      SELECT 'mutant' AS pair_type, doc_id AS a, doc_id + 100000 AS b
      FROM corpus WHERE doc_id % 5 = 0 AND doc_id < 100000
      UNION ALL
      SELECT 'adjacent', doc_id, doc_id + 1
      FROM corpus
      WHERE doc_id % 5 = 0 AND doc_id < 100000
    ),
    dots AS (
      SELECT p.pair_type,
             SUM(va.v * vb.v) AS dot,
             (SELECT SUM(v * v) FROM vec WHERE doc_id = p.a) AS na,
             (SELECT SUM(v * v) FROM vec WHERE doc_id = p.b) AS nb
      FROM pairs p
      JOIN vec va ON va.doc_id = p.a
      JOIN vec vb ON vb.doc_id = p.b AND vb.dim = va.dim
      GROUP BY p.pair_type, p.a, p.b
    ),
    sims AS (
      SELECT pair_type,
             CAST(FLOOR(CAST(dot AS DOUBLE) * 1000000
                        / SQRT(CAST(na AS DOUBLE) * nb) + 0.5)
                  AS BIGINT) AS sim_micro
      FROM dots WHERE na > 0 AND nb > 0
    )
    SELECT pair_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(sim_micro) // COUNT(*) AS BIGINT)
             AS mean_sim_micro,
           CAST(MIN(sim_micro) AS BIGINT) AS min_sim_micro,
           CAST(MAX(sim_micro) AS BIGINT) AS max_sim_micro
    FROM sims GROUP BY 1
    """,
)
def hashing_trick_doc_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature-hashing (the hashing trick, Weinberger et al. 2009):
    16-dim signed-count document vectors straight from token hashes
    (dim = h mod 16, sign from the next hash bit — no vocabulary, no
    model, exact integers), evaluated on the planted near-dup corpus:
    mutant↔base pairs must stay near-parallel (high cosine) while the
    adjacent-id baseline pairs hover near zero — the separation that
    licenses using hashed vectors as a cheap pre-filter in front of
    real embeddings. NO all-pairs anywhere: the evaluated pairs are
    the planted ones plus a same-cardinality baseline.

    Scale shape: token hashing and the (doc, dim) aggregate are
    map-side + one shuffle; the pair frame is bounded by the planted
    structure and joins the bounded vector frame on (doc, dim).
    Determinism: md5 hashes, signed integer counts, IEEE sqrt inside
    a micro-floored fixed op tree."""
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    corpus = _near_corpus(spark, sf_dir)
    tok = corpus.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text("text"))).alias("token"),
    )
    hashed = tok.select(
        "doc_id", hash64_seeded(F.col("token"), _FH_SEED).alias("h")
    )
    vec = (
        hashed.groupBy(
            "doc_id", (F.col("h") % _FH_D).alias("dim")
        )
        .agg(
            F.sum(
                F.when(
                    F.expr(f"(h DIV {_FH_D}) % 2 = 0"), 1
                ).otherwise(-1)
            )
            .cast("long")
            .alias("v")
        )
        .localCheckpoint(eager=False)
    )
    base_ids = corpus.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 100000)
    ).select("doc_id")
    pairs = base_ids.select(
        F.lit("mutant").alias("pair_type"),
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 100000).alias("b"),
    ).unionAll(
        base_ids.select(
            F.lit("adjacent").alias("pair_type"),
            F.col("doc_id").alias("a"),
            (F.col("doc_id") + 1).alias("b"),
        )
    )
    norms = vec.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("n2")
    )
    va = vec.select(
        F.col("doc_id").alias("a"),
        F.col("dim"),
        F.col("v").alias("xa"),
    )
    vb = vec.select(
        F.col("doc_id").alias("b"),
        F.col("dim"),
        F.col("v").alias("xb"),
    )
    dots = (
        pairs.join(va, "a")
        .join(vb, ["b", "dim"])
        .groupBy("pair_type", "a", "b")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
        # no broadcast hint: norms is one row per DOCUMENT (corpus-
        # sized at 100 TB) — AQE broadcasts it while small and
        # shuffle-joins once it is not (r12 broadcast-hint audit)
        .join(
            norms.withColumnRenamed("doc_id", "a").withColumnRenamed("n2", "na"),
            "a",
        )
        .join(
            norms.withColumnRenamed("doc_id", "b").withColumnRenamed("n2", "nb"),
            "b",
        )
    )
    sims = dots.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "pair_type",
        F.floor(
            F.col("dot").cast("double")
            * 1000000
            / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("sim_micro"),
    )
    return sims.groupBy("pair_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(sim_micro) DIV COUNT(*) AS BIGINT)").alias(
            "mean_sim_micro"
        ),
        F.min("sim_micro").cast("long").alias("min_sim_micro"),
        F.max("sim_micro").cast("long").alias("max_sim_micro"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_K = 50  # top-k order statistics per priority


@register(
    "hill_tail_index",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC,
                                         o_orderkey) AS rn
      FROM orders
    ),
    top AS (SELECT * FROM o WHERE rn <= {_HILL_K}),
    xk AS (
      SELECT priority, cents AS k_cents FROM top WHERE rn = {_HILL_K}
    ),
    terms AS (
      SELECT t.priority,
             CAST(FLOOR(ln(CAST(t.cents AS DOUBLE) / x.k_cents)
                        * 1000000 + 0.5) AS BIGINT) AS lr
      FROM top t JOIN xk x ON x.priority = t.priority
      WHERE t.rn < {_HILL_K}
    )
    SELECT t.priority,
           CAST({_HILL_K} AS BIGINT) AS k,
           x.k_cents,
           CAST(SUM(t.lr) // COUNT(*) AS BIGINT) AS hill_mean_micro,
           CAST(1000000000000
                // greatest(SUM(t.lr) // COUNT(*), 1) AS BIGINT)
             AS alpha_micro
    FROM terms t JOIN xk x ON x.priority = t.priority
    GROUP BY 1, 3
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (Hill 1975): per priority, the mean
    log-ratio of the top-49 order values to the 50th — the reciprocal
    is the Pareto tail exponent α. α ≤ 2 means infinite variance
    (mean-based capacity planning is fiction); α ≤ 1 means infinite
    MEAN. The heavy-tail diagnostic that decides whether
    ``percentile_order_values``-style quantiles or moments are the
    right summary for the revenue distribution.

    Scale shape: per-priority top-k via one rank window (at fleet
    scale this is a TakeOrdered per group — only k rows survive per
    partition), then all arithmetic on the 5×50-row frame.
    Determinism: exact cents, (price, orderkey) total rank order,
    micro-floored ln on fixed op trees, truncating DIV."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.row_number()
        .over(
            Window.partitionBy("o_orderpriority").orderBy(
                F.col("o_totalprice").desc(), F.col("o_orderkey")
            )
        )
        .alias("rn"),
    )
    top = o.filter(F.col("rn") <= _HILL_K).localCheckpoint(eager=False)
    xk = top.filter(F.col("rn") == _HILL_K).select(
        "priority", F.col("cents").alias("k_cents")
    )
    terms = (
        top.filter(F.col("rn") < _HILL_K)
        .join(F.broadcast(xk), "priority")
        .select(
            "priority",
            "k_cents",
            F.floor(
                F.log(
                    F.col("cents").cast("double") / F.col("k_cents")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    return terms.groupBy("priority", "k_cents").agg(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.expr("CAST(SUM(lr) DIV COUNT(*) AS BIGINT)").alias(
            "hill_mean_micro"
        ),
        F.expr(
            "CAST(1000000000000"
            " DIV greatest(SUM(lr) DIV COUNT(*), 1) AS BIGINT)"
        ).alias("alpha_micro"),
    ).select(
        "priority", "k", "k_cents", "hill_mean_micro", "alpha_micro"
    )


# ---------------------------------------------------------------------------
# Wald sequential probability-ratio test (SPRT)
# ---------------------------------------------------------------------------

_SPRT_SEED = 6161
_SPRT_P0 = 0.55  # H0 purchase rate
_SPRT_P1 = 0.65  # H1 purchase rate
# precomputed integer LLR increments / bounds — Python computes the
# logs ONCE and both engines walk identical integer literals
_SPRT_LA = math.floor(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000 + 0.5)
_SPRT_LB = math.floor(
    math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000 + 0.5
)
_SPRT_BOUND = math.floor(math.log(0.95 / 0.05) * 1_000_000 + 0.5)


@register(
    "sprt_sequential_test",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST({_hex60_seeded(str(_SPRT_SEED),
                                 'CAST(user_id AS VARCHAR)')} % 2
                  AS INTEGER) AS arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS INTEGER) AS y
      FROM events GROUP BY 1
    ),
    walk AS (
      SELECT arm,
             row_number() OVER w AS n,
             SUM(CASE WHEN y = 1 THEN {_SPRT_LA}
                      ELSE {_SPRT_LB} END) OVER w AS llr
      FROM per_user
      WINDOW w AS (PARTITION BY arm ORDER BY user_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT arm,
           CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(arg_max(llr, n) AS BIGINT) AS final_llr_micro,
           CAST(MIN(CASE WHEN llr >= {_SPRT_BOUND}
                          OR llr <= -{_SPRT_BOUND}
                         THEN n END) AS BIGINT) AS first_cross_n,
           CASE WHEN MIN(CASE WHEN llr >= {_SPRT_BOUND} THEN n END)
                     <= COALESCE(MIN(CASE WHEN llr <= -{_SPRT_BOUND}
                                          THEN n END), 9223372036854775807)
                THEN 'accept_h1'
                WHEN MIN(CASE WHEN llr <= -{_SPRT_BOUND} THEN n END)
                     IS NOT NULL
                THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk GROUP BY arm
    """,
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT (1945) — the sequential A/B decision: each arm's
    per-user purchase outcomes, walked in user_id order, accumulate a
    log-likelihood ratio for H1: p = 0.65 vs H0: p = 0.55 (increments
    are PRECOMPUTED integer literals, so both engines take identical
    steps); the test stops at the first ±ln(19) crossing (α = β =
    0.05) and the row reports where and which way. The early-stopping
    machinery that lets an experiment end after 300 users instead of
    a fixed horizon — and the sequential sibling of the fixed-horizon
    ``ab_test_mean_diff``.

    Scale shape: one per-user rollup, one cumulative window per arm
    partition, one rollup per arm. At fleet scale the walk order is
    the ingestion order (a monotonic id); the window is
    co-partitioned by arm. Determinism: hash arms, integer literal
    increments, exact cumulative sums."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        (
            hash64_seeded(F.col("user_id").cast("string"), _SPRT_SEED)
            % 2
        )
        .cast("int")
        .alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("int")
        .alias("y"),
    )
    w = Window.partitionBy("arm").orderBy("user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = per_user.select(
        "arm",
        F.row_number()
        .over(Window.partitionBy("arm").orderBy("user_id"))
        .alias("n"),
        F.sum(
            F.when(F.col("y") == 1, F.lit(_SPRT_LA)).otherwise(
                F.lit(_SPRT_LB)
            )
        )
        .over(w)
        .alias("llr"),
    )
    up = F.min(
        F.when(F.col("llr") >= _SPRT_BOUND, F.col("n"))
    )
    down = F.min(
        F.when(F.col("llr") <= -_SPRT_BOUND, F.col("n"))
    )
    return walk.groupBy("arm").agg(
        F.max("n").cast("long").alias("n_users"),
        up.alias("_up"),
        down.alias("_down"),
        F.max_by("llr", "n").cast("long").alias("final_llr_micro"),
    ).select(
        "arm",
        "n_users",
        "final_llr_micro",
        F.expr("CAST(least(_up, _down) AS BIGINT)").alias(
            "first_cross_n"
        ),
        F.expr(
            "CASE WHEN _up <= COALESCE(_down, 9223372036854775807)"
            " THEN 'accept_h1'"
            " WHEN _down IS NOT NULL THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    )
