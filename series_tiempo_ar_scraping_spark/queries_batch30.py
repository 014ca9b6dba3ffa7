"""Batch-30 queries: two-pass exact heavy hitters (Misra-Gries
candidates, exact verify), winnowing fingerprint overlap (the
MOSS/Schleimer local-fingerprint scheme), and leave-one-source-out
quality contribution.

Families (each entry hash-oracled; determinism per the established
recipes):

- Heavy hitters, two-pass: pass 1 is a per-partition Misra-Gries
  summary (bounded memory, Arrow-batched, mergeable per Agarwal et
  al.'s mergeable-summaries result), whose candidate union provably
  contains every token above the frequency threshold; pass 2 counts
  ONLY the candidates exactly. The final output is exact and
  partitioning-invariant even though the candidate set is not — the
  canonical way to get exact heavy hitters from 100 TB in two scans.
- Winnowing fingerprints: positional 3-token shingle hashes, window
  minima (w=4) as the fingerprint SET per document (set semantics
  make tie-handling irrelevant — equal shingles hash equally), then
  pairwise overlap through the inverted fingerprint index with a
  common-fingerprint cap. The plagiarism/near-dup primitive of
  Schleimer, Wilkerson & Aiken (SIGMOD'03), distinct from the
  whole-doc ``text_fingerprint`` and the MinHash family: winnowing
  guarantees any shared run of >= w+k-1 tokens shares a fingerprint.
- Leave-one-source-out contribution: each source's influence on the
  corpus-level mean quality score, computed ALGEBRAICALLY from one
  per-source aggregate pass (mean_all - mean_without_source needs
  only per-group sums + the global rollup) — data-valuation-lite for
  curation: which source is dragging the corpus down.

Reference parity: extends the reference's indicator/report lane
(series_tiempo_ar_scraping/indicators.py) with the corpus-curation
reports a fleet-scale pipeline reads before acting.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import dedup as DD
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import det_round, register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _NEAR_CORPUS_SQL,
    _QUALITY_SQL,
    _hex60_seeded,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters (Misra-Gries candidates + exact verify)
# ---------------------------------------------------------------------------

# Report tokens with frequency > 1/_HH_PHI of all tokens. The MG summary
# keeps _HH_COUNTERS entries; the survival guarantee needs
# _HH_COUNTERS + 1 > _HH_PHI (any token above the global threshold is,
# by pigeonhole, above the local threshold in some partition, and an
# MG summary with C counters under-counts by at most n_p/(C+1), so a
# token with local count > n_p/(C+1) keeps a positive counter).
_HH_PHI = 200
_HH_COUNTERS = 256


def _mg_candidates(pdfs: Iterator) -> Iterator:
    """Per-partition Misra-Gries summary over the ``tok`` column.

    Vectorized per Arrow batch (exact ``value_counts``), then compressed
    to ``_HH_COUNTERS`` entries by subtracting the (C+1)-th largest
    count — the mergeable-summaries compression, which preserves the
    additive error bound <= n_p/(C+1). Emits the surviving candidate
    tokens; counts are NOT emitted because pass 2 recounts exactly
    (a partial count would invite someone to trust it)."""
    import pandas as pd

    acc: dict[str, int] = {}
    for pdf in pdfs:
        for tok, c in pdf["tok"].value_counts().items():
            acc[tok] = acc.get(tok, 0) + int(c)
        if len(acc) > _HH_COUNTERS:
            vals = sorted(acc.values(), reverse=True)
            sub = vals[_HH_COUNTERS]
            acc = {k: v - sub for k, v in acc.items() if v > sub}
    yield pd.DataFrame({"tok": list(acc)})


@register(
    "heavy_hitters_two_pass",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_toks_of_norm('text')}) AS tok FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) * 1000000 // max(n.n_tokens) AS BIGINT)
             AS freq_micro
    FROM toks, n
    GROUP BY tok
    HAVING COUNT(*) * {_HH_PHI} > max(n.n_tokens)
    """,
)
def heavy_hitters_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens above 1/200 of total token mass) in
    two scans: a per-partition Misra-Gries candidate pass (bounded
    memory — 256 counters per partition regardless of vocabulary size)
    followed by an exact count restricted to the candidate union. The
    MG guarantee makes the candidate union a superset of the true
    heavy hitters under ANY partitioning, so the exact second pass
    yields a partitioning-INVARIANT result — the oracle is simply the
    exact GROUP BY with the same threshold.

    Scale shape: pass 1 is map-only with O(C) state (no shuffle — one
    candidate frame of <= C rows per partition); the candidate union is
    collected small and broadcast into the pass-2 semi-join, so the
    exact count aggregates only candidate rows. At 100 TB this is two
    sequential scans and one tiny shuffle, where the naive exact GROUP
    BY shuffles the full token mass. Determinism: exact counts; one
    truncating division."""
    from series_tiempo_ar_scraping_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok")
    )
    candidates = toks.mapInPandas(_mg_candidates, "tok string").distinct()
    n = toks.agg(F.count("*").cast("long").alias("n_tokens"))
    exact = (
        # candidates is a vocabulary subset (grows with the corpus):
        # no broadcast hint; AQE decides (r12 audit)
        toks.join(candidates, "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * _HH_PHI > F.col("n_tokens"))
        .select(
            "tok",
            "cnt",
            F.expr("CAST(cnt * 1000000 DIV n_tokens AS BIGINT)").alias(
                "freq_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken)
# ---------------------------------------------------------------------------

_WIN_W = 4  # winnowing window (in shingle positions)
_WIN_SEED = 17  # fingerprint hash seed
_WIN_DF_CAP = 20  # drop fingerprints shared by more docs (boilerplate)
_WIN_MIN_SHARED = 3  # report pairs sharing at least this many prints


def _winnow_oracle() -> str:
    h = _hex60_seeded(str(_WIN_SEED), "sh_arr[pos + 1]")
    return f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    sh AS (
      SELECT doc_id, sh_arr, len(sh_arr) AS m
      FROM (
        SELECT doc_id,
               list_transform(
                 generate_series(0, len(t) - 3),
                 i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])) AS sh_arr
        FROM (SELECT doc_id, {_toks_of_norm('text')} AS t FROM corpus)
        WHERE len(t) >= 3
      )
    ),
    hashes AS (
      SELECT doc_id, m, unnest(generate_series(0, m - 1)) AS pos, sh_arr
      FROM sh
    ),
    hv AS (SELECT doc_id, m, pos, {h} AS h FROM hashes),
    wins AS (
      SELECT doc_id, m, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WIN_W - 1} PRECEDING
                          AND CURRENT ROW) AS wm
      FROM hv
    ),
    fp AS (
      SELECT DISTINCT doc_id, wm AS h FROM wins
      WHERE pos >= least({_WIN_W - 1}, m - 1)
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp FROM fp GROUP BY 1
    ),
    rare AS (
      SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {_WIN_DF_CAP}
    ),
    fpr AS (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM fpr a JOIN fpr b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           CAST(shared * 1000000 // least(sa.nfp, sb.nfp) AS BIGINT)
             AS overlap_micro
    FROM pairs
    JOIN sizes sa ON sa.doc_id = pairs.doc_a
    JOIN sizes sb ON sb.doc_id = pairs.doc_b
    WHERE shared >= {_WIN_MIN_SHARED}
    """


@register("winnowing_fingerprint_pairs", oracle=_winnow_oracle())
def winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken): per document, hash
    every positional 3-token shingle, slide a w=4 window over the hash
    sequence, and keep each window's MINIMUM as the fingerprint set —
    guaranteeing any shared token run of length >= w + k - 1 leaves a
    shared fingerprint (the property MinHash does NOT give). Documents
    shorter than a full window contribute their global minimum (the
    ``pos >= least(w-1, m-1)`` rule keeps exactly the full windows plus
    the one degenerate all-hashes window). Fingerprint SET semantics
    make tie-handling irrelevant: equal shingles hash equally, so
    whichever tied position is 'selected' contributes the same value.
    Pairs then come from the inverted fingerprint index with a
    doc-frequency cap (prints shared by > 20 docs are boilerplate, the
    MOSS noise filter), scored by overlap coefficient against the
    smaller fingerprint set.

    Scale shape: shingle/hash/window-min are all partition-local per
    document (one window over each doc's hash sequence); the pair
    generation is the repo's bucket idiom — group by fingerprint,
    sorted collect_list capped at 20, upper-triangle expansion — never
    an all-pairs self-join. Determinism: md5 hashes, exact counts, one
    truncating division."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, 13)").alias("text"),
    )
    corpus = docs.unionByName(mutants)
    sh = (
        corpus.select(
            "doc_id",
            TX.tokens(TX.normalize_text(F.col("text"))).alias("t"),
        )
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            ).alias("sh_arr"),
        )
        .select("doc_id", F.size("sh_arr").alias("m"),
                F.posexplode("sh_arr").alias("pos", "s"))
    )
    hv = sh.select(
        "doc_id", "m", "pos",
        DD.hash64_seeded(F.col("s"), _WIN_SEED).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), 0)
    )
    fp = (
        hv.select(
            "doc_id", "pos", "m", F.min("h").over(w).alias("wm")
        )
        .filter(F.col("pos") >= F.least(F.lit(_WIN_W - 1), F.col("m") - 1))
        .select("doc_id", F.col("wm").alias("h"))
        .distinct()
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").cast("long").alias("nfp"))
    buckets = (
        fp.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _WIN_DF_CAP))
    )
    pairs = (
        buckets.select(
            F.explode(
                DD.upper_triangle_pairs(
                    F.col("ds"),
                    lambda x, y: F.struct(
                        x.alias("doc_a"), y.alias("doc_b")
                    ),
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= _WIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("nfp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nfp_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "shared",
            F.expr(
                "CAST(shared * 1000000 DIV least(nfp_a, nfp_b) AS BIGINT)"
            ).alias("overlap_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-source-out quality contribution
# ---------------------------------------------------------------------------


@register(
    "loo_source_contribution",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    q AS ({_QUALITY_SQL}),
    per AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(FLOOR(q.quality * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS s_q
      FROM q JOIN documents d USING (doc_id)
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
             CAST(SUM(s_q) AS BIGINT) AS q_all
      FROM per
    )
    SELECT source, n_docs,
           CAST(s_q * 100 // n_docs AS BIGINT) AS mean_q_micro,
           CAST(q_all * 100 // n_all AS BIGINT) AS mean_all_micro,
           CASE WHEN n_all > n_docs
                THEN CAST((q_all - s_q) * 100 // (n_all - n_docs)
                          AS BIGINT) END AS loo_mean_micro,
           CASE WHEN n_all > n_docs
                THEN CAST(q_all * 100 // n_all
                          - (q_all - s_q) * 100 // (n_all - n_docs)
                          AS BIGINT) END AS delta_micro
    FROM per, tot
    """,
)
def loo_source_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out contribution: for every source, the corpus
    mean quality WITH it, WITHOUT it, and the signed delta — computed
    algebraically from ONE per-source (count, sum) pass (mean without
    source g is just (S - s_g)/(N - n_g)), never by re-scoring the
    corpus per source. Data-valuation-lite: a positive delta means the
    source pulls the corpus mean UP (dropping it would hurt); the most
    negative delta is the first candidate for exclusion. Quality is the
    canonical det-rounded composite re-floored to an exact integer
    micro scale, so every downstream stat is integer arithmetic.

    Scale shape: one groupBy(source) aggregate (map-side combinable),
    then an unbounded window over the BOUNDED per-source frame for the
    global totals (one documents scan total — a crossJoin against a
    separately-aggregated total would scan it twice) — scoring 100 TB
    once covers every leave-one-out variant. A source
    owning the whole corpus yields NULL loo columns (honest: there is
    no leave-one-out corpus), identically in both engines.
    Determinism: exact integer sums; truncating divisions."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "source",
        F.floor(
            det_round(TX.quality_score(F.col("text")), 4) * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q4"),
    )
    per = q.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("q4").cast("long").alias("s_q"),
    )
    # global totals as an unbounded window over the BOUNDED source frame
    # (post-aggregate, one row per source) — one scan of documents, no
    # crossJoin recompute of the aggregate for the 1-row total
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = per.select(
        "source",
        "n_docs",
        "s_q",
        F.sum("n_docs").over(wall).cast("long").alias("n_all"),
        F.sum("s_q").over(wall).cast("long").alias("q_all"),
    )
    loo = F.when(
        F.col("n_all") > F.col("n_docs"),
        F.expr("CAST((q_all - s_q) * 100 DIV (n_all - n_docs) AS BIGINT)"),
    )
    return per.select(
        "source",
        "n_docs",
        F.expr("CAST(s_q * 100 DIV n_docs AS BIGINT)").alias(
            "mean_q_micro"
        ),
        F.expr("CAST(q_all * 100 DIV n_all AS BIGINT)").alias(
            "mean_all_micro"
        ),
        loo.alias("loo_mean_micro"),
        F.when(
            F.col("n_all") > F.col("n_docs"),
            F.expr("CAST(q_all * 100 DIV n_all AS BIGINT)") - loo,
        ).alias("delta_micro"),
    )
