"""Batch-29 queries: dedup-family evaluation against planted truth,
Wilson confidence intervals, and Heaps'-law vocabulary growth.

Families (each entry hash-oracled; determinism per the established
recipes):

- Dedup precision/recall: the dedup family EVALUATED — the verified
  near-dup edge set scored against the PLANTED ground truth (every
  doc_id % 5 == 0 has a +100000 mutant), TP/FP/FN and exact-integer
  precision/recall/F1. The eval row a curation team demands before
  trusting any dedup pipeline with deletions.
- Wilson score intervals: per order priority, the failure-rate point
  estimate with Wilson 95% bounds — the interval that behaves at
  small n and p near 0/1 (where the naive normal interval leaves
  [0,1]). sqrt is the one correctly-rounded transcendental, so the
  fixed double op tree det-rounds identically in both engines.
- Heaps'-law vocabulary growth: distinct-vocabulary size at
  doubling corpus checkpoints from ONE pass (vocab at checkpoint T =
  tokens whose FIRST document id < T), with per-step ln growth
  ratios via the entropy micro-floor recipe — the sizing curve for
  tokenizer vocab and embedding tables.

Reference parity: extends the reference's indicator lane with the
evaluation and capacity curves a fleet-scale corpus platform reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.queries_llm import dedup_ngram_jaccard
from series_tiempo_ar_scraping_spark.registry import (
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _neardup_edges_ctes,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Dedup precision/recall vs planted truth
# ---------------------------------------------------------------------------


@register(
    "dedup_eval_precision_recall",
    oracle=f"""
    WITH {_neardup_edges_ctes()},
    planted AS (
      SELECT doc_id AS a, doc_id + 100000 AS b
      FROM documents WHERE doc_id % 5 = 0
    ),
    cls AS (
      SELECT CASE WHEN p.a IS NOT NULL AND v.doc_a IS NOT NULL
                  THEN 'tp'
                  WHEN v.doc_a IS NOT NULL THEN 'fp'
                  ELSE 'fn' END AS kind
      FROM verified v
      FULL OUTER JOIN planted p
        ON p.a = v.doc_a AND p.b = v.doc_b
    ),
    t AS (
      SELECT
        CAST(SUM(CASE WHEN kind = 'tp' THEN 1 ELSE 0 END) AS BIGINT)
          AS tp,
        CAST(SUM(CASE WHEN kind = 'fp' THEN 1 ELSE 0 END) AS BIGINT)
          AS fp,
        CAST(SUM(CASE WHEN kind = 'fn' THEN 1 ELSE 0 END) AS BIGINT)
          AS fn
      FROM cls
    )
    SELECT tp + fp AS n_predicted, tp + fn AS n_planted, tp, fp, fn,
           CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT)
             AS precision_micro,
           CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT)
             AS recall_micro,
           CAST(2 * tp * 1000000 // NULLIF(2 * tp + fp + fn, 0) AS BIGINT)
             AS f1_micro
    FROM t
    """,
)
def dedup_eval_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedup family, EVALUATED: the verified near-dup edge set
    (LSH candidates → exact Jaccard ≥ 0.3, the registered pipeline's
    own edges via the shared CTE prefix) scored against the planted
    ground truth (each doc_id % 5 == 0 carries a +100000 mutant):
    TP/FP/FN and exact-integer precision/recall/F1 — F1 spelled as
    2·TP/(2·TP+FP+FN), one truncating division, no intermediate
    ratios. This is the eval row that licenses a dedup pipeline to
    DELETE data; the fixture's planted structure makes the truth set
    arithmetic, so both engines derive it identically.

    Scale shape: one full-outer join of the (bounded) edge list
    against the arithmetic truth set on the pair key, then a 1-row
    conditional-sum rollup — the eval costs no more than reading the
    edges. Determinism: exact counts; every rate is one truncating
    division of non-negative bigints."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 100000).alias("b"),
    )
    cls = edges.join(
        planted,
        (F.col("a") == F.col("doc_a")) & (F.col("b") == F.col("doc_b")),
        "full_outer",
    ).select(
        F.when(
            F.col("a").isNotNull() & F.col("doc_a").isNotNull(), "tp"
        )
        .when(F.col("doc_a").isNotNull(), "fp")
        .otherwise("fn")
        .alias("kind")
    )
    t = cls.agg(
        *[
            F.sum(F.when(F.col("kind") == k, 1).otherwise(0))
            .cast("long")
            .alias(k)
            for k in ("tp", "fp", "fn")
        ]
    )
    return t.select(
        (F.col("tp") + F.col("fp")).alias("n_predicted"),
        (F.col("tp") + F.col("fn")).alias("n_planted"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(tp * 1000000 DIV NULLIF(tp + fp, 0) AS BIGINT)"
        ).alias(
            "precision_micro"
        ),
        F.expr(
            "CAST(tp * 1000000 DIV NULLIF(tp + fn, 0) AS BIGINT)"
        ).alias(
            "recall_micro"
        ),
        F.expr(
            "CAST(2 * tp * 1000000 DIV NULLIF(2 * tp + fp + fn, 0)"
            " AS BIGINT)"
        ).alias("f1_micro"),
    )


# ---------------------------------------------------------------------------
# Wilson score intervals
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96


@register(
    "wilson_rate_intervals",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    )
    SELECT priority, n, x,
           {det_round_sql('CAST(x AS DOUBLE) / n', 6)} AS p_hat,
           {det_round_sql(
               f'''(CAST(x AS DOUBLE) / n
                    + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
                    - {_WILSON_Z} * sqrt(
                        (CAST(x AS DOUBLE) / n)
                        * (1.0 - CAST(x AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                  / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n)''', 6)}
             AS wilson_lo,
           {det_round_sql(
               f'''(CAST(x AS DOUBLE) / n
                    + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
                    + {_WILSON_Z} * sqrt(
                        (CAST(x AS DOUBLE) / n)
                        * (1.0 - CAST(x AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                  / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n)''', 6)}
             AS wilson_hi
    FROM c
    """,
)
def wilson_rate_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Failure-rate estimate per order priority with the Wilson 95%
    score interval — the interval that stays inside [0,1] and behaves
    at small n where the naive normal interval does not; what a
    dashboard should put around every rate it displays. The z=1.96
    op tree is fixed and identical in both engines; sqrt is IEEE
    correctly-rounded (the one safe transcendental, the
    corpus-mixture lesson), so the det-rounded bounds are
    bit-identical.

    Scale shape: one conditional-sum aggregate per priority (map-side
    combinable), scalar double arithmetic on the bounded group frame.
    Determinism: counts exact; p_hat and both bounds are fixed double
    op trees det-rounded to 6 places."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    z = F.lit(_WILSON_Z)
    p = F.col("x").cast("double") / F.col("n")
    denom = F.lit(1.0) + z * z / F.col("n")
    center = p + z * z / (F.lit(2.0) * F.col("n"))
    hw = z * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n")
        + z * z / (F.lit(4.0) * F.col("n") * F.col("n"))
    )
    return c.select(
        "priority",
        "n",
        "x",
        det_round(p, 6).alias("p_hat"),
        det_round((center - hw) / denom, 6).alias("wilson_lo"),
        det_round((center + hw) / denom, 6).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------

_HEAPS_CHECKPOINTS = (64, 128, 256, 512, 1024, 2048, 4096, 8192)


def _heaps_oracle() -> str:
    cps = ", ".join(f"({t})" for t in _HEAPS_CHECKPOINTS)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS tok
      FROM documents
    ),
    firsts AS (
      SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc,
             CAST(COUNT(*) AS BIGINT) AS occ
      FROM toks GROUP BY tok
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
      FROM toks GROUP BY doc_id
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    cp AS (
      SELECT t FROM (VALUES {cps}) v(t), nd WHERE t // 2 < nd.n_total
    ),
    stats AS (
      SELECT cp.t AS checkpoint_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc
              WHERE doc_id < cp.t) AS n_docs,
             (SELECT CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
              FROM per_doc WHERE doc_id < cp.t) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
              WHERE first_doc < cp.t) AS vocab
      FROM cp
    ),
    lagged AS (
      SELECT checkpoint_docs, n_docs, n_tokens, vocab,
             lag(vocab) OVER (ORDER BY checkpoint_docs) AS pv,
             lag(n_tokens) OVER (ORDER BY checkpoint_docs) AS pn
      FROM stats
    )
    SELECT CAST(checkpoint_docs AS BIGINT) AS checkpoint_docs,
           n_docs, n_tokens, vocab,
           CAST(FLOOR(ln(CAST(vocab AS DOUBLE) / pv) * 1000000 + 0.5)
                AS BIGINT) AS ln_vocab_growth_micro,
           CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE) / pn) * 1000000
                      + 0.5) AS BIGINT) AS ln_token_growth_micro
    FROM lagged
    """


@register("heaps_law_vocab_growth", oracle=_heaps_oracle())
def heaps_law_vocab_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heaps'-law vocabulary growth from ONE corpus pass: vocabulary
    at doubling document checkpoints equals the count of tokens whose
    FIRST document id falls below the checkpoint (token -> min doc_id,
    then a threshold count — no per-checkpoint rescan, no cumulative
    distinct), plus per-step ln growth ratios of vocab and token mass
    (their quotient is the Heaps exponent beta; the two lns are each
    the entropy-recipe micro-floor of ONE division of exact ints, so
    the division stays downstream). The sizing curve for tokenizer
    vocabularies and embedding tables — `zipf_token_powerlaw`'s
    growth-side twin.

    Scale shape: tokenize once, one (token) min/count aggregate and
    one per-doc count; checkpoints are a tiny literal frame joined
    broadcast; the lag window runs over <= 8 rows. Determinism: exact
    counts; checkpoints with fewer than half their capacity drop (so
    saturated duplicates never produce ln(1)-of-equal-rows noise);
    ln micro-floors per the established recipe."""
    docs = load_table(spark, sf_dir, "documents")
    from series_tiempo_ar_scraping_spark.operators import textops as TX

    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        ),
    )
    firsts = toks.groupBy("tok").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("ntok")
    )
    n_total = docs.agg(F.count("*").cast("long").alias("n_total"))
    # ALL checkpoints as conditional sums in ONE aggregate per frame
    # (never a join against a data-sized frame), fanned out by a
    # generator — the table_profile_report pattern
    d_aggs = []
    v_aggs = []
    for t in _HEAPS_CHECKPOINTS:
        d_aggs += [
            F.sum(F.when(F.col("doc_id") < t, 1).otherwise(0))
            .cast("long")
            .alias(f"nd_{t}"),
            F.sum(
                F.when(F.col("doc_id") < t, F.col("ntok")).otherwise(0)
            )
            .cast("long")
            .alias(f"nt_{t}"),
        ]
        v_aggs.append(
            F.sum(F.when(F.col("first_doc") < t, 1).otherwise(0))
            .cast("long")
            .alias(f"v_{t}")
        )
    wide = (
        per_doc.agg(*d_aggs)
        .crossJoin(F.broadcast(firsts.agg(*v_aggs)))
        .crossJoin(F.broadcast(n_total))
    )
    stats = wide.select(
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("long").alias("t"),
                        F.col(f"nd_{t}").alias("n_docs"),
                        F.col(f"nt_{t}").alias("n_tokens"),
                        F.col(f"v_{t}").alias("vocab"),
                    )
                    for t in _HEAPS_CHECKPOINTS
                ]
            )
        ).alias("r"),
    ).filter(
        F.expr("r.t DIV 2") < F.col("n_total")
    ).select("r.t", "r.n_docs", "r.n_tokens", "r.vocab")
    w = Window.orderBy("t")
    lagged = stats.select(
        F.col("t").alias("checkpoint_docs"),
        "n_docs",
        "n_tokens",
        "vocab",
        F.lag("vocab").over(w).alias("pv"),
        F.lag("n_tokens").over(w).alias("pn"),
    )
    return lagged.select(
        "checkpoint_docs",
        "n_docs",
        "n_tokens",
        "vocab",
        F.floor(
            F.log(F.col("vocab").cast("double") / F.col("pv"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ln_vocab_growth_micro"),
        F.floor(
            F.log(F.col("n_tokens").cast("double") / F.col("pn"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ln_token_growth_micro"),
    )
