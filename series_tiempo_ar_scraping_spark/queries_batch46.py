"""Batch-46 queries: context-window fit report and near-dup pair
token-diff statistics.

Families (each entry hash-oracled; determinism per the established
recipes):

- Context-window fit: for each candidate training context length
  (128/512/2048 tokens), how much of the corpus fits whole, how many
  documents truncate, and what share of the TOKEN MASS survives
  truncation — the packing-budget table a pretraining data plan
  starts from (the aggregate sibling of ``document_chunking`` /
  ``sequence_packing_bins``, which implement the cut; this prices
  it).
- Dup-pair diff stats: for the planted near-dup pairs, the actual
  token-level difference (tokens only in the base, only in the
  mutant, shared) — the EXPLANATION row for a dedup verdict: a
  reviewer asking 'why did these two documents merge?' reads the
  shared/changed counts, not a similarity score.

Reference parity: the LLM-data planning and dedup-explainability
report lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _NEAR_CORPUS_SQL,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Context-window fit report
# ---------------------------------------------------------------------------

_CTX_LIMITS = (128, 512, 2048)


@register(
    "context_window_fit_report",
    oracle=f"""
    WITH lens AS (
      SELECT len({_toks_of_norm('text')}) AS n_toks FROM documents
    ),
    lims AS (
      SELECT unnest(ARRAY{list(_CTX_LIMITS)}) AS ctx_limit
    )
    SELECT l.ctx_limit,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.n_toks <= l.ctx_limit THEN 1 ELSE 0
                    END) AS BIGINT) AS n_fit,
           CAST(SUM(CASE WHEN d.n_toks > l.ctx_limit THEN 1 ELSE 0
                    END) AS BIGINT) AS n_truncated,
           CAST(SUM(d.n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(least(d.n_toks, l.ctx_limit)) AS BIGINT)
             AS kept_tokens,
           CAST(SUM(least(d.n_toks, l.ctx_limit)) * 1000000
                // NULLIF(SUM(d.n_toks), 0) AS BIGINT) AS kept_share_micro
    FROM lens d CROSS JOIN lims l
    GROUP BY 1
    """,
)
def context_window_fit_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-window budget table: for candidate context lengths of
    128/512/2048 tokens, the documents that fit whole, the documents
    a head-truncation would cut, and the share of total token mass
    that survives — the three numbers that decide between 'truncate',
    'chunk' (``document_chunking``), and 'pack'
    (``sequence_packing_bins``) for a pretraining corpus. One token
    count per document serves ALL limits (the sweep is a 3-row
    broadcast, the ``watermark_delay_sweep`` idiom).

    Scale shape: one map-side token count, one aggregate over the
    (doc × 3) broadcast expansion — the corpus is scanned once.
    Determinism: exact token counts, truncating DIV."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.size(TX.tokens(TX.normalize_text("text"))).alias("n_toks")
    )
    lims = spark.createDataFrame(
        [(x,) for x in _CTX_LIMITS], "ctx_limit int"
    )
    return (
        lens.crossJoin(F.broadcast(lims))
        .groupBy("ctx_limit")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("n_toks") <= F.col("ctx_limit"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_fit"),
            F.sum(
                F.when(F.col("n_toks") > F.col("ctx_limit"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_truncated"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(F.least("n_toks", "ctx_limit"))
            .cast("long")
            .alias("kept_tokens"),
            F.expr(
                "CAST(SUM(least(n_toks, ctx_limit)) * 1000000"
                " DIV NULLIF(SUM(n_toks), 0) AS BIGINT)"
            ).alias("kept_share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup pair token-diff statistics
# ---------------------------------------------------------------------------


@register(
    "dup_pair_diff_stats",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id,
             list_distinct({_toks_of_norm('text')}) AS t
      FROM corpus
    ),
    pairs AS (
      SELECT a.doc_id AS base_id,
             len(list_filter(a.t, x -> NOT list_contains(b.t, x)))
               AS only_base,
             len(list_filter(b.t, x -> NOT list_contains(a.t, x)))
               AS only_mutant,
             len(list_filter(a.t, x -> list_contains(b.t, x)))
               AS shared
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 100000
      WHERE a.doc_id % 5 = 0 AND a.doc_id < 100000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(shared) // COUNT(*) AS BIGINT) AS mean_shared,
           CAST(SUM(only_base) // COUNT(*) AS BIGINT)
             AS mean_only_base,
           CAST(SUM(only_mutant) // COUNT(*) AS BIGINT)
             AS mean_only_mutant,
           CAST(MAX(only_base + only_mutant) AS BIGINT)
             AS max_changed,
           CAST(SUM(shared) * 1000000
                // NULLIF(SUM(shared + only_base + only_mutant), 0) AS BIGINT)
             AS mean_overlap_micro
    FROM pairs
    """,
)
def dup_pair_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup explainability: for every planted near-dup pair
    (base ↔ mutant), the DISTINCT-token diff — tokens only in the
    base, only in the mutant, and shared — rolled up to the means and
    the worst changed-token count. This is the row a human reviewer
    reads when auditing a merge decision ('they share 97% of their
    vocabulary; the mutant adds 2 tokens'), and the ground-truth
    companion of the similarity SCORES the dedup family thresholds
    on: overlap_micro here is exactly the token-set Jaccard numerator
    and denominator the MinHash pipeline estimates.

    Scale shape: one distinct-token projection, one equi-join on the
    planted id offset (candidate generation by construction — never
    all-pairs), set arithmetic inside each joined row (array
    expressions — no explode, no shuffle beyond the join), one global
    rollup. Determinism: exact set sizes, truncating DIV."""
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    corpus = _near_corpus(spark, sf_dir)
    toks = corpus.select(
        "doc_id",
        F.array_distinct(TX.tokens(TX.normalize_text("text"))).alias(
            "t"
        ),
    )
    a = toks.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 100000)
    ).select(F.col("doc_id").alias("base_id"), F.col("t").alias("ta"))
    b = toks.select(
        (F.col("doc_id") - 100000).alias("base_id"),
        F.col("t").alias("tb"),
    ).filter(F.col("base_id") >= 0)
    pairs = a.join(b, "base_id").select(
        F.size(F.array_except("ta", "tb")).alias("only_base"),
        F.size(F.array_except("tb", "ta")).alias("only_mutant"),
        F.size(F.array_intersect("ta", "tb")).alias("shared"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(shared) DIV COUNT(*) AS BIGINT)").alias(
            "mean_shared"
        ),
        F.expr("CAST(SUM(only_base) DIV COUNT(*) AS BIGINT)").alias(
            "mean_only_base"
        ),
        F.expr("CAST(SUM(only_mutant) DIV COUNT(*) AS BIGINT)").alias(
            "mean_only_mutant"
        ),
        F.max(F.col("only_base") + F.col("only_mutant"))
        .cast("long")
        .alias("max_changed"),
        F.expr(
            "CAST(SUM(shared) * 1000000"
            " DIV NULLIF(SUM(shared + only_base + only_mutant), 0) AS BIGINT)"
        ).alias("mean_overlap_micro"),
    )
