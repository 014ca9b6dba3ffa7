"""Batch-48 queries: SymSpell-style typo-candidate mining and the
cohort lifetime-value curve.

Families (each entry hash-oracled; determinism per the established
recipes):

- SymSpell deletion neighborhoods (Garbe 2012): rare vocabulary
  tokens matched to frequent ones through SHARED 1-DELETION KEYS —
  two tokens within edit distance 1 always share a member of each
  other's deletion set, so the candidate join is an equi-join on
  bounded generated keys instead of an all-pairs edit-distance scan
  (|vocab|² comparisons become |vocab|·(len+1) keys). A final
  levenshtein ≤ 1 verify keeps only true neighbors — the
  vocabulary-normalization step a corpus cleaner runs before
  frequency analysis.
- Cohort LTV: cumulative purchase value per user by 7-day cohort
  age, per first-seen cohort — the unit-economics curve
  ``signup_cohort_retention`` (presence) and ``cohort_retention``
  (activity) lead up to; this one carries the money.

Reference parity: the text-normalization and business-report lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _toks_of_norm

# ---------------------------------------------------------------------------
# SymSpell typo candidates
# ---------------------------------------------------------------------------

_SS_MIN_LEN = 5  # ignore short tokens (deletion keys too collisive)
# typo corpus: every 9th document appends a 1-deletion typo of its
# first long token, the deleted position varying with doc_id so the
# planted typos spread over several variants per base word
_SS_TYPO_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             substr(ft, 1, 1 + doc_id % (length(ft) - 1) - 1)
             || substr(ft, 1 + doc_id % (length(ft) - 1) + 1) AS text
      FROM (
        SELECT doc_id,
               list_filter({toks}, x -> length(x) >= 5)[1] AS ft
        FROM documents WHERE doc_id % 9 = 0
      ) WHERE ft IS NOT NULL
"""


def _ss_keys_sql(tok: str) -> str:
    """token ∪ its 1-deletion variants, as a DuckDB list expression."""
    return (
        f"list_append(list_transform(generate_series(1, length({tok})),"
        f" i -> substr({tok}, 1, i - 1)"
        f" || substr({tok}, i + 1)), {tok})"
    )


def _ss_oracle() -> str:
    corpus = _SS_TYPO_SQL.format(toks=_toks_of_norm("text"))
    return f"""
    WITH corpus AS ({corpus}),
    tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_toks_of_norm('text')}) AS token
            FROM corpus)
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ),
    rare AS (
      SELECT token, freq FROM tf CROSS JOIN tot
      WHERE freq * 50 <= n_docs AND length(token) >= {_SS_MIN_LEN}
    ),
    freq_ AS (
      SELECT token, freq FROM tf CROSS JOIN tot
      WHERE freq * 10 >= n_docs AND length(token) >= {_SS_MIN_LEN}
    ),
    rk AS (
      SELECT token, freq, unnest({_ss_keys_sql('token')}) AS k
      FROM rare
    ),
    fk AS (
      SELECT token, freq, unnest({_ss_keys_sql('token')}) AS k
      FROM freq_
    ),
    cand AS (
      SELECT DISTINCT r.token AS rare_token, r.freq AS rare_freq,
             f.token AS correction, f.freq AS corr_freq
      FROM rk r JOIN fk f ON f.k = r.k
      WHERE levenshtein(r.token, f.token) <= 1
        AND r.token <> f.token
    )
    SELECT rare_token, rare_freq, correction, corr_freq
    FROM (
      SELECT *, row_number() OVER (PARTITION BY rare_token
                                   ORDER BY corr_freq DESC, correction)
               AS rn
      FROM cand
    ) WHERE rn = 1
    """


@register("symspell_typo_candidates", oracle=_ss_oracle())
def symspell_typo_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SymSpell-style typo correction candidates (Garbe's deletion-
    neighborhood trick) over a PLANTED typo corpus (every 9th document
    appends a 1-deletion typo of its first long token, the deleted
    position varying with doc_id): rare tokens (freq·50 ≤ n_docs — a
    SCALE-RELATIVE threshold, so the planted typos are rare at every
    fixture scale) and frequent tokens (freq·10 ≥ n_docs) each
    generate themselves plus their 1-deletion variants as join keys;
    any edit-distance-1 pair MUST share a key, so the candidate join
    is an equi-join instead of an all-pairs edit-distance scan, and a
    levenshtein ≤ 1 verify discards key coincidences. Each rare token
    keeps its best correction (max frequency, lexicographic tiebreak)
    — which, by construction, recovers the planted base word (asserted
    in tests). The blocked-candidates shape of the dedup family
    applied to VOCABULARY normalization: |rare|×|frequent| edit
    distances become |vocab|·(len+1) generated keys.

    Scale shape: one token count over the planted corpus, two bounded
    vocab projections, key generation map-side, one equi-join on the
    key, one rank window per rare token. Determinism: exact counts,
    total-order tiebreaks, exact levenshtein."""
    docs = load_table(spark, sf_dir, "documents")
    typo = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .select(
            "doc_id",
            TX.tokens(TX.normalize_text("text")).alias("toks"),
        )
        .select(
            "doc_id",
            F.expr(
                "try_element_at(filter(toks,"
                " x -> length(x) >= 5), 1)"
            ).alias("ft"),
        )
        .filter(F.col("ft").isNotNull())
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.expr(
                "substr(ft, 1, 1 + doc_id % (length(ft) - 1) - 1)"
                " || substr(ft, 1 + doc_id % (length(ft) - 1) + 1)"
            ).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(typo)
    tf = (
        corpus.select(
            F.explode(TX.tokens(TX.normalize_text("text"))).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
        .localCheckpoint(eager=False)
    )
    tot = docs.agg(F.count("*").cast("long").alias("n_docs"))
    keys = F.expr(
        "array_append(transform(sequence(1, length(token)),"
        " i -> substr(token, 1, i - 1) || substr(token, i + 1)),"
        " token)"
    )
    rare = (
        tf.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("freq") * 50 <= F.col("n_docs"))
            & (F.length("token") >= _SS_MIN_LEN)
        )
        .select("token", "freq", F.explode(keys).alias("k"))
    )
    freq_ = (
        tf.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("freq") * 10 >= F.col("n_docs"))
            & (F.length("token") >= _SS_MIN_LEN)
        )
        .select(
            F.col("token").alias("correction"),
            F.col("freq").alias("corr_freq"),
            F.explode(keys).alias("k"),
        )
    )
    cand = (
        rare.join(freq_, "k")
        .filter(
            (F.levenshtein("token", "correction") <= 1)
            & (F.col("token") != F.col("correction"))
        )
        .select(
            F.col("token").alias("rare_token"),
            F.col("freq").alias("rare_freq"),
            "correction",
            "corr_freq",
        )
        .distinct()
    )
    w = Window.partitionBy("rare_token").orderBy(
        F.col("corr_freq").desc(), "correction"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("rare_token", "rare_freq", "correction", "corr_freq")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(date_diff('day', DATE '1992-01-01',
                           CAST(date_trunc('day', ts) AS DATE)))
               AS d0
      FROM events GROUP BY 1
    ),
    cohorts AS (
      SELECT user_id, d0 // 7 AS cohort, d0 FROM first_seen
    ),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY 1
    ),
    rev AS (
      SELECT c.cohort,
             (date_diff('day', DATE '1992-01-01',
                        CAST(date_trunc('day', e.ts) AS DATE))
              - c.d0) // 7 AS age,
             CAST(SUM(CAST(e.value AS DECIMAL(22,4))) * 1000000
                  AS BIGINT) AS rev_micro
      FROM events e
      JOIN cohorts c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT r.cohort, r.age, s.n_users,
           CAST(SUM(r.rev_micro) OVER (PARTITION BY r.cohort
                                       ORDER BY r.age
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_rev_micro,
           CAST(SUM(r.rev_micro) OVER (PARTITION BY r.cohort
                                       ORDER BY r.age
                                       ROWS UNBOUNDED PRECEDING)
                // s.n_users AS BIGINT) AS ltv_per_user_micro
    FROM rev r JOIN sizes s ON s.cohort = r.cohort
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by 7-day first-seen
    cohort; per cohort and 7-day AGE, the cumulative purchase value
    per cohort member — the unit-economics readout ('a Q1 user is
    worth X by week 3') that prices acquisition, and the money-
    carrying sibling of ``signup_cohort_retention`` (same triangle
    shape, revenue instead of presence). Ages use the same portable
    day-arithmetic as the cohort itself (day DIV 7 — no calendar
    edge cases across engines; weekly because the fixture spans ~29
    days, and at fleet scale the divisor is just a knob).

    Scale shape: one first-seen rollup, one purchase join
    co-partitioned on user_id, one (cohort, age) aggregate, then
    cumulative windows over the bounded triangle. Determinism:
    DECIMAL revenue sums → exact micro, truncating DIV."""
    events = load_table(spark, sf_dir, "events")
    dday = F.expr(
        "timestampdiff(DAY, TIMESTAMP '1992-01-01 00:00:00',"
        " date_trunc('day', ts))"
    )
    first_seen = events.groupBy("user_id").agg(
        F.min(dday).alias("d0")
    )
    cohorts = first_seen.select(
        "user_id", F.expr("d0 DIV 7").alias("cohort"), "d0"
    ).localCheckpoint(eager=False)
    sizes = cohorts.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_users")
    )
    rev = (
        events.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort",
            ((dday - F.col("d0")).cast("long") / 7)
            .cast("long")
            .alias("age"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(22,4)")) * 1000000)
            .cast("bigint")
            .alias("rev_micro")
        )
    )
    wc = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "age",
            "n_users",
            F.sum("rev_micro").over(wc).cast("long").alias(
                "cum_rev_micro"
            ),
            F.expr(
                "CAST(SUM(rev_micro) OVER (PARTITION BY cohort"
                " ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND"
                " CURRENT ROW) DIV n_users AS BIGINT)"
            ).alias("ltv_per_user_micro"),
        )
    )
