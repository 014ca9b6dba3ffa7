"""Batch-31 queries: tokenizer fertility by language, score
calibration (reliability bins + Brier), and order-header/line-detail
reconciliation.

Families (each entry hash-oracled; determinism per the established
recipes):

- Tokenizer fertility: per detected language, sub-word tokens per
  whitespace word and characters per sub-word token — THE metric a
  tokenizer team reads per language before training (high fertility =
  the tokenizer fragments that language, inflating sequence length
  and cost). Uses the engine's lang-ID and BPE-ish pre-tokenizer with
  a new DuckDB mirror of the latter.
- Score calibration: an empirical failure-rate score FITTED on the
  even-keyed half of orders and EVALUATED on the odd half —
  reliability bins (predicted vs observed rate per decile) plus the
  global Brier score, all in exact integer micro arithmetic. The
  eval any score-producing pipeline needs before its scores gate
  anything.
- Order reconciliation: header total vs the line-detail recomputation
  (extendedprice x (1-discount) x (1+tax), DECIMAL-exact per the q01
  recipe), bucketed per status: missing line items, within-a-dollar,
  and large gaps with exact cent bounds. The audit that catches a
  broken ETL between fact tables.

Reference parity: extends the reference's validation/report lane
(series_tiempo_ar_scraping reports + indicators) with the
cross-table consistency and model-eval reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _EN, _ES, _TOKS_SQL

# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------

# DuckDB mirror of textops.bpe_ish_tokens: pad punctuation with spaces,
# trim, split on whitespace (NO empty-token filter — the Spark side
# doesn't filter either; an empty text yields [''] in both engines).
_BPE_TOKS_SQL = (
    "regexp_split_to_array(trim(regexp_replace({c},"
    " '([.,!?;:()\\[\\]])', ' \\1 ', 'g')), '\\s+')"
)


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL.format(c='text')} AS toks,
             {_BPE_TOKS_SQL.format(c='text')} AS bpe,
             length(text) AS n_chars
      FROM documents
    ),
    langed AS (
      SELECT CASE WHEN en_hits > es_hits AND en_hits > 0 THEN 'en'
                  WHEN es_hits > en_hits AND es_hits > 0 THEN 'es'
                  WHEN en_hits = es_hits AND en_hits > 0 THEN 'tie'
                  ELSE 'und' END AS lang_guess,
             n_words, n_bpe, n_chars
      FROM (
        SELECT len(list_filter(toks, x -> lower(x) IN ({_EN})))
                 AS en_hits,
               len(list_filter(toks, x -> lower(x) IN ({_ES})))
                 AS es_hits,
               len(toks) AS n_words, len(bpe) AS n_bpe, n_chars
        FROM t
      )
    )
    SELECT lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe) * 1000000 // greatest(SUM(n_words), 1)
                AS BIGINT) AS fertility_micro,
           CAST(SUM(n_chars) * 1000000 // greatest(SUM(n_bpe), 1)
                AS BIGINT) AS chars_per_token_micro
    FROM langed
    GROUP BY 1
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per detected language: sub-word (BPE-ish)
    tokens per whitespace word, and characters per sub-word token —
    the per-language cost model of a tokenizer (fertility >> 1 means
    the language fragments into many sub-words, inflating every
    sequence). Language is the engine's stopword-argmax lang-ID;
    tokenization is the engine's BPE-ish pre-tokenizer, mirrored into
    DuckDB here for the first time (punctuation padded with spaces,
    whitespace split, NO empty filter — both engines yield [''] for
    empty text identically).

    Scale shape: every feature is a per-row expression (no explode —
    counts come from array lengths), then ONE groupBy over a 4-value
    language key; map-side combine flattens it. Determinism: exact
    integer sums; truncating micro divisions with a greatest(,1)
    floor."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        TX.lang_id(F.col("text")).alias("lang_guess"),
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_words"),
        F.size(TX.bpe_ish_tokens(F.col("text")))
        .cast("long")
        .alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per.groupBy("lang_guess").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "CAST(SUM(n_bpe) * 1000000 DIV greatest(SUM(n_words), 1)"
            " AS BIGINT)"
        ).alias("fertility_micro"),
        F.expr(
            "CAST(SUM(n_chars) * 1000000 DIV greatest(SUM(n_bpe), 1)"
            " AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


# ---------------------------------------------------------------------------
# Score calibration: reliability bins + Brier
# ---------------------------------------------------------------------------


@register(
    "score_calibration_bins",
    oracle="""
    WITH train AS (
      SELECT o_orderpriority AS priority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS score_micro
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
    ),
    test AS (
      SELECT t.score_micro,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN train t ON t.priority = o.o_orderpriority
      WHERE o.o_orderkey % 2 = 1
    ),
    binned AS (
      SELECT least(score_micro * 10 // 1000000, 9) AS bin,
             score_micro, y
      FROM test
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(score_micro) // COUNT(*) AS BIGINT)
               AS mean_pred_micro,
             CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT)
               AS obs_rate_micro,
             CAST(SUM((score_micro - y * 1000000)
                      * (score_micro - y * 1000000)) AS BIGINT) AS sq
      FROM binned GROUP BY 1
    )
    SELECT bin, n, mean_pred_micro, obs_rate_micro,
           CAST(abs(mean_pred_micro - obs_rate_micro) AS BIGINT)
             AS gap_micro,
           CAST(SUM(sq) OVER () // (SUM(n) OVER () * 1000000)
                AS BIGINT) AS brier_micro
    FROM per_bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of an empirical failure-rate score: fit per-priority
    failure rates on the even-keyed half of orders, score the odd half,
    then report reliability bins (mean predicted vs observed rate per
    decile bin, with the gap) and the global Brier score — the
    squared-error proper scoring rule, here in exact integer micro
    arithmetic ((score - y*1e6)^2 summed, one truncating division at
    the end). A well-calibrated score has gap ~ 0 in every bin; Brier
    combines calibration and sharpness.

    Scale shape: the 'model' is a bounded per-priority frame joined
    broadcast onto the test half (Spark side asserts broadcast via
    hint-free small frame); bins aggregate map-side; the global Brier
    is an unbounded window over the <= 10-row bin frame, never a second
    data scan. Determinism: exact integer sums and truncating
    divisions throughout; squared terms stay far below 2^63."""
    orders = load_table(spark, sf_dir, "orders")
    train = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0"
                " END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("score_micro")
        )
    )
    test = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .join(
            F.broadcast(train),
            F.col("priority") == F.col("o_orderpriority"),
        )
        .select(
            "score_micro",
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    per_bin = (
        test.select(
            F.least(
                F.expr("score_micro * 10 DIV 1000000"), F.lit(9)
            ).alias("bin"),
            "score_micro",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                "CAST(SUM(score_micro) DIV COUNT(*) AS BIGINT)"
            ).alias("mean_pred_micro"),
            F.expr(
                "CAST(SUM(y) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("obs_rate_micro"),
            F.expr(
                "CAST(SUM((score_micro - y * 1000000)"
                " * (score_micro - y * 1000000)) AS BIGINT)"
            ).alias("sq"),
        )
    )
    return per_bin.select(
        "bin",
        "n",
        "mean_pred_micro",
        "obs_rate_micro",
        F.abs(F.col("mean_pred_micro") - F.col("obs_rate_micro"))
        .cast("long")
        .alias("gap_micro"),
        F.expr(
            "CAST(SUM(sq) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " UNBOUNDED FOLLOWING) DIV (SUM(n) OVER (ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * 1000000)"
            " AS BIGINT)"
        ).alias("brier_micro"),
    )


# ---------------------------------------------------------------------------
# Order-header vs line-detail reconciliation
# ---------------------------------------------------------------------------


@register(
    "order_amount_reconciliation",
    oracle="""
    WITH detail AS (
      SELECT l_orderkey,
             ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(6,4)))
                       * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2) AS s
      FROM lineitem GROUP BY 1
    ),
    recon AS (
      SELECT o.o_orderstatus AS status,
             d.s IS NULL AS no_items,
             CASE WHEN d.s IS NOT NULL
                  THEN CAST((CAST(o.o_totalprice AS DECIMAL(12,2)) - d.s)
                            * 100 AS BIGINT) END AS diff_cents
      FROM orders o LEFT JOIN detail d ON d.l_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN no_items THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_items,
           CAST(SUM(CASE WHEN NOT no_items AND abs(diff_cents) <= 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_dollar,
           CAST(SUM(CASE WHEN NOT no_items AND abs(diff_cents) > 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_large_gap,
           CAST(MIN(diff_cents) AS BIGINT) AS min_diff_cents,
           CAST(MAX(diff_cents) AS BIGINT) AS max_diff_cents,
           CAST(SUM(abs(diff_cents)) AS BIGINT) AS sum_abs_diff_cents
    FROM recon
    GROUP BY 1
    """,
)
def order_amount_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header-vs-detail reconciliation: recompute every order's total
    from its line items (extendedprice x (1-discount) x (1+tax),
    DECIMAL-exact per the q01 recipe, rounded to cents) and bucket the
    gap against the header's o_totalprice per status — orders with NO
    line items, within-a-dollar matches, large gaps, and exact cent
    bounds. On this synthetic fixture the header totals are
    independent of the line items, so the audit reports (honestly)
    that ~everything is a large gap — which is precisely the report's
    job when an ETL breaks referential arithmetic.

    Scale shape: one groupBy(l_orderkey) partial-aggregated rollup of
    lineitem, one equi-join to orders on the same key (co-partitioned
    shuffle, AQE-sizable), one status rollup. Determinism: all money
    arithmetic in DECIMAL (exact, associative — double sums would
    diverge across engines on add order), gaps as exact integer
    cents."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    detail = lineitem.groupBy("l_orderkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
                * (F.lit(1) + F.col("l_tax").cast("decimal(6,4)"))
            ),
            2,
        ).alias("s")
    )
    recon = orders.join(
        detail, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(
        F.col("o_orderstatus").alias("status"),
        F.col("s").isNull().alias("no_items"),
        F.when(
            F.col("s").isNotNull(),
            (
                (F.col("o_totalprice").cast("decimal(12,2)") - F.col("s"))
                * 100
            ).cast("long"),
        ).alias("diff_cents"),
    )
    return recon.groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("no_items"), 1).otherwise(0))
        .cast("long")
        .alias("n_no_items"),
        F.sum(
            F.when(
                ~F.col("no_items") & (F.abs("diff_cents") <= 100), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_within_dollar"),
        F.sum(
            F.when(
                ~F.col("no_items") & (F.abs("diff_cents") > 100), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_large_gap"),
        F.min("diff_cents").cast("long").alias("min_diff_cents"),
        F.max("diff_cents").cast("long").alias("max_diff_cents"),
        F.sum(F.abs("diff_cents")).cast("long").alias(
            "sum_abs_diff_cents"
        ),
    )
