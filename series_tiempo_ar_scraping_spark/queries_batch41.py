"""Batch-41 queries: language-ID confusion matrix vs ground truth,
embedding class-separation report, and the MinHash band-load health
report.

Families (each entry hash-oracled; determinism per the established
recipes):

- Lang-ID confusion: the stopword heuristic (``textops.lang_id``)
  EVALUATED against the corpus's ground-truth ``lang`` column — the
  confusion matrix plus per-truth recall that turns "we have a
  language detector" into "here is how wrong it is, per language"
  (the fixture's de/fr/zh rows measure the und/abstain behavior).
- Class separation: per-label embedding centroids, within-class mean
  squared distance, and the nearest other centroid — the Fisher-style
  separation readout a classifier-data audit reads before training.
  All float accumulation uses the engine's 2^k power-of-two
  scale/floor/integer-sum recipe (exact, order-independent).
- Band-load report: per LSH band, the bucket-size distribution and
  the candidate-pair load Σ c·(c−1)/2 — the operational health check
  of ``dedup_minhash_lsh`` (a hot bucket is a quadratic blowup the
  ``lsh_scurve_planner`` cannot see because it models probabilities,
  not data skew).

Reference parity: the eval/ops lane of the LLM-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import dedup as D
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import (
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _EN,
    _ES,
    _TOKS_SQL,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _NEAR_CORPUS_SQL,
    _SHINGLES_SQL,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Language-ID confusion matrix
# ---------------------------------------------------------------------------


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH t AS (
      SELECT lang, {_TOKS_SQL.format(c='text')} AS toks FROM documents
    ),
    hits AS (
      SELECT lang,
        len(list_filter(toks, x -> lower(x) IN ({_EN}))) AS en_hits,
        len(list_filter(toks, x -> lower(x) IN ({_ES}))) AS es_hits
      FROM t
    ),
    guessed AS (
      SELECT lang AS actual,
        CASE WHEN en_hits > es_hits AND en_hits > 0 THEN 'en'
             WHEN es_hits > en_hits AND es_hits > 0 THEN 'es'
             WHEN en_hits = es_hits AND en_hits > 0 THEN 'tie'
             ELSE 'und' END AS detected
      FROM hits
    ),
    tot AS (
      SELECT actual, CAST(COUNT(*) AS BIGINT) AS n_actual
      FROM guessed GROUP BY 1
    )
    SELECT g.actual, g.detected,
           CAST(COUNT(*) AS BIGINT) AS n,
           t.n_actual,
           CAST(COUNT(*) * 1000000 // t.n_actual AS BIGINT)
             AS share_of_actual_micro,
           CAST(CASE WHEN g.actual = g.detected THEN 1 ELSE 0 END
                AS INT) AS is_correct
    FROM guessed g JOIN tot t ON t.actual = g.actual
    GROUP BY 1, 2, 4
    """,
)
def langid_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language-ID confusion matrix: ``textops.lang_id``'s guess
    (en/es/tie/und — the stopword-hit heuristic every quality
    pipeline starts with) cross-tabulated against the corpus's
    ground-truth ``lang`` column, with each cell's share of its truth
    row (= recall on the diagonal). The fixture's de/fr/zh documents
    measure the detector's ABSTAIN behavior (they should land in
    'und'; a de→en cell is a false-positive a downstream en-only
    filter would act on). The eval row that licenses using the
    detector as a corpus filter — the detector itself
    (``text_lang_quality``) ships the per-doc guesses.

    Scale shape: one map-side stopword count per document, ONE
    confusion aggregate (≤ truths × guesses rows), totals joined from
    the same bounded frame. Determinism: exact counts, truncating
    DIV."""
    docs = load_table(spark, sf_dir, "documents")
    guessed = docs.select(
        F.col("lang").alias("actual"),
        TX.lang_id(F.col("text")).alias("detected"),
    )
    cells = (
        guessed.groupBy("actual", "detected")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = cells.groupBy("actual").agg(
        F.sum("n").cast("long").alias("n_actual")
    )
    return cells.join(F.broadcast(tot), "actual").select(
        "actual",
        "detected",
        "n",
        "n_actual",
        F.expr(
            "CAST(n * 1000000 DIV n_actual AS BIGINT)"
        ).alias("share_of_actual_micro"),
        F.expr(
            "CAST(CASE WHEN actual = detected THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# Embedding class-separation report
# ---------------------------------------------------------------------------

_CS_SCALE = 262144  # 2^18: exact float->int scaling; squares stay in BIGINT


@register(
    "class_separation_report",
    oracle=f"""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * {_CS_SCALE}) AS BIGINT) AS xs
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(xs) // COUNT(*) AS c
      FROM flat GROUP BY 1, 2
    ),
    within AS (
      SELECT f.label,
             CAST(MAX(cent.n) AS BIGINT) AS n,
             SUM((f.xs - cent.c) * (f.xs - cent.c))
               // MAX(cent.n) AS w_q36
      FROM flat f
      JOIN cent ON cent.label = f.label AND cent.dim = f.dim
      GROUP BY 1
    ),
    between_ AS (
      SELECT d.label, MIN(d.d2) AS b_q36
      FROM (
        SELECT a.label, b.label AS other,
               SUM((a.c - b.c) * (a.c - b.c)) AS d2
        FROM cent a JOIN cent b
          ON b.dim = a.dim AND b.label <> a.label
        GROUP BY 1, 2
      ) d
      GROUP BY 1
    )
    SELECT w.label, w.n,
           {det_round_sql(
               f'CAST(w.w_q36 AS DOUBLE) / ({_CS_SCALE}.0 * {_CS_SCALE})',
               6)} AS within_msd,
           {det_round_sql(
               f'CAST(b.b_q36 AS DOUBLE) / ({_CS_SCALE}.0 * {_CS_SCALE})',
               6)} AS nearest_centroid_sqdist,
           CAST(b.b_q36 * 1000 // greatest(w.w_q36, 1) AS BIGINT)
             AS separation_milli
    FROM within w JOIN between_ b ON b.label = w.label
    """,
)
def class_separation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding class-separation audit (the Fisher-criterion shape):
    per label, the within-class mean squared distance to the label
    centroid and the squared distance to the NEAREST other centroid,
    plus their ratio — a label whose nearest neighbor sits inside its
    own spread (ratio < 1) is unlearnable as a class, the readout a
    training-data audit needs before fitting a classifier on the
    embeddings. Floats enter the exact lane immediately: scale by
    2^18 (power of two — never rounds), floor to BIGINT, and every
    distance/centroid after that is exact integer arithmetic
    (the ``embedding_dim_profile`` recipe extended to second
    moments; 2^18 keeps the squared sums far under 2^63).

    Scale shape: one posexplode pass (map-side), one (label, dim)
    centroid aggregate (bounded: labels × dims), one rejoin of the
    flat frame to the BROADCAST centroids for the within sums, and a
    labels²×dims pair join on the bounded centroid frame.
    Determinism: power-of-two scaling, floor, exact integer sums,
    truncating DIV, det-rounded doubles only at the published edge."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _CS_SCALE)
        .cast("bigint")
        .alias("xs"),
    )
    cent = (
        flat.groupBy("label", "dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr("SUM(xs) DIV COUNT(*)").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    within = (
        flat.join(
            F.broadcast(cent.select("label", "dim", "n", "c")),
            ["label", "dim"],
        )
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.expr(
                "SUM((xs - c) * (xs - c)) DIV MAX(n)"
            ).alias("w_q36"),
        )
    )
    a = cent.alias("a")
    b = cent.alias("b")
    between = (
        a.join(
            F.broadcast(b),
            (F.col("b.dim") == F.col("a.dim"))
            & (F.col("b.label") != F.col("a.label")),
        )
        .groupBy(
            F.col("a.label").alias("label"),
            F.col("b.label").alias("other"),
        )
        .agg(
            F.expr("SUM((a.c - b.c) * (a.c - b.c))").alias("d2")
        )
        .groupBy("label")
        .agg(F.min("d2").alias("b_q36"))
    )
    q36 = float(_CS_SCALE) * _CS_SCALE
    return within.join(F.broadcast(between), "label").select(
        "label",
        "n",
        det_round(F.col("w_q36").cast("double") / q36, 6).alias(
            "within_msd"
        ),
        det_round(F.col("b_q36").cast("double") / q36, 6).alias(
            "nearest_centroid_sqdist"
        ),
        F.expr(
            "CAST(b_q36 * 1000 DIV greatest(w_q36, 1) AS BIGINT)"
        ).alias("separation_milli"),
    )


# ---------------------------------------------------------------------------
# MinHash band-load health report
# ---------------------------------------------------------------------------


@register(
    "minhash_band_load_report",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM corpus
    ),
    sigs AS (
      SELECT doc_id, {_minhash_sig_sql()} FROM sh
    ),
    banded AS (
      SELECT doc_id, band.* FROM sigs,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()})
               v(band_idx, band_key)) band
    ),
    buckets AS (
      SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS c
      FROM banded GROUP BY 1, 2
    )
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY 1
    """,
)
def minhash_band_load_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH band-load health report: per band, the bucket
    count, the LARGEST bucket, the singleton count, and the candidate
    -pair load Σ c·(c−1)/2 the bucket join will generate — the
    operational counterpart of ``lsh_scurve_planner`` (the planner
    models collision PROBABILITY; this measures the actual skew:
    one hot bucket of 10k docs is 50M pairs regardless of what the
    S-curve promised, and is the row that tells you to add a band
    key salt or raise rows-per-band BEFORE launching the fleet pass).
    Shares the exact signature/banding fragments with
    ``dedup_minhash_lsh``, so the report audits precisely the
    production banding.

    Scale shape: signatures are map-side; ONE (band, key) aggregate
    then a 4-row band rollup — the report costs one shuffle of
    bucket-count partials, never materializing the pairs it counts.
    Determinism: md5-derived signatures, exact counts, integer DIV."""
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    sigs = D.minhash_signatures(_near_corpus(spark, sf_dir))
    banded = D.band_signatures(sigs)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").cast("long").alias("c")
    )
    return buckets.groupBy("band_idx").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singletons"),
        F.expr(
            "CAST(SUM(c * (c - 1) DIV 2) AS BIGINT)"
        ).alias("candidate_pairs"),
    )
