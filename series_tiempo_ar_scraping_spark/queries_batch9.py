"""Batch-9 queries (round 7): PNG real-decode and the composed
corpus-curation pipeline.

Reference parity notes: the reference engine (datosgobar
series-tiempo-ar-scraping) has no image path — the PNG entry extends the
multimodal surface mandated by the build brief (decode/feature-extract
as Arrow-batched kernels); the curation pipeline composes the quality
funnel, exact+LSH dedup, decontamination, and sequence packing stages
that individually mirror reference-style catalog hygiene
(``scrapers_test.py``-style validation chains) into the single nightly
shape a training-data corpus actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import dedup as D
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import det_round, register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _SHINGLES_SQL,
    _TOKS_SQL,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _toks_of_norm,
)


@register(
    "multimodal_png_stats",
    oracle="""
    SELECT media_id, width, height, mean_luma FROM (
      SELECT doc_id AS media_id,
             CAST(1 + doc_id % 7 AS INT) AS width,
             CAST(1 + doc_id % 5 AS INT) AS height,
             SUM(CAST((doc_id + 3 * x + 5 * y + 11 * c) % 256 AS DOUBLE))
               / ((1 + doc_id % 7) * (1 + doc_id % 5) * 3) AS mean_luma
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(doc_id % 7 AS BIGINT))) AS x) gx,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(doc_id % 5 AS BIGINT))) AS y) gy,
           LATERAL (SELECT unnest(generate_series(0, 2)) AS c) gc
      GROUP BY doc_id
    )
    """,
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-format decode, hash-oracled: synthesize a
    deterministic gradient PNG per document (pixel (y,x,c) =
    (doc_id + 3x + 5y + 11c) % 256, scanline filter = doc_id % 5 so the
    corpus hits every PNG predictor — None/Sub/Up/Average/Paeth), then
    decode through the stdlib zlib codec (chunk CRC verify → IDAT
    inflate → per-row unfilter) and report actual width/height and the
    mean over all RGB bytes. The oracle restates the gradient in closed
    form via a 3-way LATERAL expansion, so any chunk/filter/stride bug
    in either codec direction breaks the hash. The byte sum is an exact
    integer in float64 (≤ 255·105 per image) and both engines divide the
    same two doubles, so the mean matches bit-for-bit. Map-only end to
    end: generate → decode → project, zero shuffles at any scale."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        image_stats,
        synthesize_png_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_stats(synthesize_png_media(docs)).select(
        "media_id", "width", "height", "mean_luma"
    )


# ---------------------------------------------------------------------------
# Composed corpus-curation pipeline: the nightly-run shape.
# ---------------------------------------------------------------------------

_EVAL_MAX_DOC = 25  # doc_id < 25 plays the benchmark/eval corpus
_DECON_MIN_SHARED = 5  # ≥ this many shared eval shingles ⇒ contaminated

# Ingest corpus: training docs plus planted exact copies and near copies
# (prefix-stripped), so the dedup stages demonstrably fire. Offsets sit
# at 10^12 / 2*10^12 — far past any plausible doc_id — so a planted id
# can never collide with a real document (a collision would make the
# packing ORDER BY doc_id tie-dependent and hence nondeterministic).
_DUP_OFF = 10**12
_CURATION_CORPUS_SQL = f"""
      SELECT doc_id, text, lang FROM documents WHERE doc_id >= {_EVAL_MAX_DOC}
      UNION ALL
      SELECT doc_id + {_DUP_OFF} AS doc_id, text, lang FROM documents
      WHERE doc_id >= {_EVAL_MAX_DOC} AND doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + {2 * _DUP_OFF} AS doc_id, substr(text, 13) AS text, lang
      FROM documents WHERE doc_id >= {_EVAL_MAX_DOC} AND doc_id % 5 = 0
"""


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH corpus AS ({_CURATION_CORPUS_SQL}),
    feat AS (
      SELECT doc_id, text, lang, length(text) AS n_chars,
             len({_TOKS_SQL.format(c='text')}) AS n_toks,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct
      FROM corpus
    ),
    kept AS (
      SELECT doc_id, text FROM feat
      WHERE n_chars >= 120 AND lang IN ('en', 'es')
        AND CAST(punct AS DOUBLE) / greatest(n_chars, 1) <= 0.04
        AND n_toks >= 25
    ),
    exact AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                 AS rk
        FROM kept
      ) WHERE rk = 1
    ),
    sh AS (
      SELECT doc_id,
             {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles,
             len({_toks_of_norm('text')}) AS n_tokens
      FROM exact
    ),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} FROM sh),
    banded AS (
      SELECT doc_id, band.* FROM sigs,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()})
               v(band_idx, band_key)) band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT p.doc_b,
        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / greatest(len(list_distinct(sa.shingles || sb.shingles)), 1)
          AS jac
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    ),
    dropped AS (
      SELECT DISTINCT doc_b AS doc_id FROM scored
      WHERE CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) >= 0.3
    ),
    near AS (
      SELECT s.doc_id, s.shingles, s.n_tokens FROM sh s
      LEFT JOIN dropped d ON s.doc_id = d.doc_id
      WHERE d.doc_id IS NULL
    ),
    evsh AS (
      SELECT DISTINCT unnest(
        {_SHINGLES_SQL.format(t=_toks_of_norm('text'))}) AS s
      FROM documents WHERE doc_id < {_EVAL_MAX_DOC}
    ),
    shared AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM (SELECT doc_id, unnest(shingles) AS s FROM near) t
      JOIN evsh e ON t.s = e.s
      GROUP BY 1
    ),
    final AS (
      SELECT n.doc_id, n.n_tokens FROM near n
      LEFT JOIN shared s ON n.doc_id = s.doc_id
      WHERE COALESCE(s.n_shared, 0) < {_DECON_MIN_SHARED}
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               / 2048.0) AS BIGINT) AS bin_id
      FROM final
    )
    SELECT bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY 1
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed nightly corpus-curation run, hash-oracled end to end:
    ingest (training docs + planted exact/near duplicates) → quality
    filter funnel → exact dedup (min-id per content hash) → MinHash-LSH
    near-dedup (banded candidates, Jaccard ≥ 0.3 verify, drop the
    higher-id doc of each verified pair) → benchmark decontamination
    (drop docs sharing ≥ {_DECON_MIN_SHARED} shingles with the eval
    corpus) → 2048-token sequence packing of the survivors. Per-bin
    stats are the output, so a single wrongly kept/dropped document
    anywhere upstream shifts the packing and breaks the hash.

    Scale shape (asserted in tests/test_plans.py): the funnel is a
    map-side filter fused into the scan stage; exact dedup is one
    hash-partition window; the survivors are tokenized+shingled ONCE
    into a checkpointed frame reused by the signature stage, BOTH sides
    of the Jaccard verify join, the decontamination explode, and the
    packing token counts (without the checkpoint the md5-heavy shingle
    derivation re-runs five times); LSH candidates come from a banded
    bucket equi-join, never an all-pairs compare; the eval shingle set
    is broadcast so the corpus never shuffles for decontamination; and
    packing's global prefix sum is the two-phase form (local sums +
    broadcast per-partition carries), not a single-partition window."""
    final = _curation_final(spark, sf_dir)

    # Stage 5 — 2048-token sequence packing (two-phase prefix sum)
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    running = two_phase_prefix_sum(
        final.select("doc_id", "n_tokens"),
        ["doc_id"],
        "n_tokens",
        out_col="prefix_tokens",
    )
    packed = running.select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("prefix_tokens") - F.col("n_tokens")) / F.lit(2048.0)
        ).alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _curation_final(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """Stages 1-4 of the curation pipeline, returning the packing input
    (doc_id, shingles, n_tokens). ``checkpoint=False`` keeps the whole
    lineage lazy so tests/test_plans.py can audit the end-to-end plan
    (the eager localCheckpoint otherwise truncates it)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    base = docs.filter(F.col("doc_id") >= _EVAL_MAX_DOC)
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + _DUP_OFF).alias("doc_id"), "text", "lang"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2 * _DUP_OFF).alias("doc_id"),
            F.expr("substring(text, 13)").alias("text"),
            "lang",
        )
    )

    # Stage 1 — quality funnel (keep = passes every rule; same rule set
    # as curation_filter_funnel's first-reject CASE)
    f = TX.quality_features(F.col("text"))
    kept = corpus.filter(
        (f["n_chars"] >= 120)
        & F.col("lang").isin("en", "es")
        & (f["punct_ratio"] <= 0.04)
        & (f["n_tokens"] >= 25)
    ).select("doc_id", "text")

    # Stage 2 — exact dedup: survivors, not groups (min doc_id per hash)
    from pyspark.sql import Window

    # ONE full-text exchange for both the dedup window and the shingle
    # parallelism (r13): repartition by the window's own partition key
    # FIRST — the explicit numPartitions pins the width (user repartitions
    # are exempt from AQE size-based coalescing, which would otherwise
    # collapse the few-MB shuffle to one partition and serialize the
    # md5-heavy shingle projection, measured 16s -> 1.5s at sf0.1), and
    # hash-partitioning on md5(text) satisfies the window's required
    # distribution, so the old second repartition (a second full-text
    # shuffle) planned right after the window is gone.
    nparts = spark.sparkContext.defaultParallelism
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    exact = (
        kept.repartition(nparts, F.md5(F.col("text")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )

    # Tokenize + shingle ONCE; this checkpointed frame feeds signatures,
    # both Jaccard join sides, decontamination, and packing.
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    sh = exact.select(
        "doc_id",
        TX.shingles_from_tokens(toks, 3).alias("shingles"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    if checkpoint:
        sh = sh.localCheckpoint(eager=False)

    # Stage 3 — MinHash-LSH near-dedup: drop the higher-id doc of every
    # verified candidate pair
    sigs = D.minhash_signatures_from_shingles(sh.select("doc_id", "shingles"))
    cand = D.lsh_candidate_pairs(sigs)
    joined = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    dropped = (
        joined.select(
            "doc_b", det_round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jac")
        )
        .filter(F.col("jac") >= 0.3)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    near = sh.join(dropped, "doc_id", "left_anti")

    # Stage 4 — decontamination: eval shingle set is tiny ⇒ broadcast
    ev_toks = TX.tokens(TX.normalize_text(F.col("text")))
    evsh = (
        docs.filter(F.col("doc_id") < _EVAL_MAX_DOC)
        .select(F.explode(TX.shingles_from_tokens(ev_toks, 3)).alias("sh"))
        .distinct()
    )
    # shingles are per-doc distinct already, so COUNT(*) == COUNT(DISTINCT).
    # Overlap is computed from the CHECKPOINTED sh frame, not `near`: the
    # final anti-join below only removes docs that are in `near` anyway
    # (identical result — the oracle states it over `near`), and this keeps
    # the LSH-verify subtree single-use so the production plan computes the
    # candidate join once, not once per consumer of `near`.
    shared = (
        sh.select("doc_id", F.explode("shingles").alias("sh"))
        .join(F.broadcast(evsh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    contaminated = shared.filter(
        F.col("n_shared") >= _DECON_MIN_SHARED
    ).select("doc_id")
    return near.join(contaminated, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Curation batch (round 7): redaction, containment dedup, LM scoring,
# range-partitioner boundaries.
# ---------------------------------------------------------------------------

# Shared with queries_batch6's pii_pattern_scan (via sqlfrags): same
# synthetic injection and patterns, so scan and redaction provably
# agree on what PII is.
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _PII_AUG_SQL,
    _PII_EMAIL,
    _PII_IPV4,    _pii_augmented_col,
)


@register(
    "pii_redaction",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}'))
                  + len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)
               AS n_redacted,
             regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                            '{_PII_IPV4}', '<IP>', 'g') AS redacted
      FROM aug
    )
    SELECT doc_id, n_redacted, md5(redacted) AS redacted_hash FROM red
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the transform the scan (``pii_pattern_scan``) is
    the pre-pass for: emails → ``<EMAIL>``, IPv4s → ``<IP>``, applied to
    the same deterministically-augmented corpus with the same patterns,
    reporting the replacement count and the md5 of the redacted text
    (hashed so the oracle pins the EXACT output bytes without shipping
    them). Pure regexp_replace column expressions: JVM regex inside
    whole-stage codegen, map-only, zero shuffles at any scale — the
    shape that lets a 100 TB redaction pass run as a pure scan."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _pii_augmented_col()
    t = docs.select("doc_id", aug.alias("t"))
    n_red = (
        F.regexp_count("t", F.lit(_PII_EMAIL))
        + F.regexp_count("t", F.lit(_PII_IPV4))
    ).cast("bigint")
    redacted = F.regexp_replace(
        F.regexp_replace("t", _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
    )
    return t.select(
        "doc_id",
        n_red.alias("n_redacted"),
        F.md5(redacted).alias("redacted_hash"),
    )


# Containment corpus: planted PREFIX-HALF excerpts. An excerpt's shingle
# set is (almost) a subset of its source's, so containment ≈ 1 while
# Jaccard ≈ 0.5 — the case symmetric near-dup scoring misses. The
# excerpt length uses an explicit FLOOR: DuckDB CAST(double AS BIGINT)
# rounds-half-even while Spark truncates, so a bare length/2 cast gives
# excerpts one char apart on odd lengths (found by the sf0.01 hash gate).
_CONTAIN_CORPUS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {10**12} AS doc_id,
             substr(text, 1, CAST(FLOOR(length(text) / 2) AS BIGINT)) AS text
      FROM documents WHERE doc_id % 4 = 1
"""


@register(
    "dedup_containment",
    oracle=f"""
    WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM corpus
    ),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} FROM sh),
    banded AS (
      SELECT doc_id, band.* FROM sigs,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()})
               v(band_idx, band_key)) band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
        CAST(FLOOR(
          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / greatest(least(len(sa.shingles), len(sb.shingles)), 1)
          * 10000 + 0.5) / 10000 AS DOUBLE) AS containment
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, containment FROM scored WHERE containment >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (Broder containment, not Jaccard): score LSH
    candidate pairs by |A∩B| / min(|A|,|B|) — the asymmetric measure
    that catches an excerpt embedded in a longer document (containment
    ≈ 1, Jaccard ≈ ½ — below any symmetric near-dup threshold). The
    planted corpus adds prefix-half excerpts so the operator provably
    fires. Same sub-quadratic shape as the Jaccard path: banded
    bucket-join candidates only, shingles derived once and checkpointed,
    exact set math only on candidate pairs; at a containment threshold
    below the LSH's effective Jaccard recall floor you'd add a second
    LSH over the shorter doc's shingles — same plan, stricter bands."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 10**12).alias("doc_id"),
        F.expr(
            "substring(text, 1, CAST(FLOOR(length(text) / 2) AS BIGINT))"
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    # explicit repartition before the md5-heavy shingle projection: the
    # upstream partitioning (union of cached scans / a coalesced single
    # parquet task) under-parallelizes the CPU-bound compute — same
    # pitfall as the curation pipeline's post-window coalesce
    sh = corpus.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id", TX.shingles_from_tokens(toks, 3).alias("shingles")
    ).localCheckpoint(eager=False)
    sigs = D.minhash_signatures_from_shingles(sh)
    cand = D.lsh_candidate_pairs(sigs)
    joined = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    containment = det_round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.greatest(
            F.least(F.size("sh_a"), F.size("sh_b")), F.lit(1)
        ),
        4,
    )
    return (
        joined.select("doc_a", "doc_b", containment.alias("containment"))
        .filter(F.col("containment") >= 0.9)
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS m FROM toked GROUP BY 1, 2),
    vocab AS (SELECT term, SUM(m) AS c FROM tf GROUP BY 1),
    total AS (SELECT SUM(c) AS n FROM vocab),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(tf.m * ln(CAST(total.n AS DOUBLE) / vocab.c)
                  * 1000000 + 0.5) AS BIGINT) AS micro,
             tf.m
      FROM tf JOIN vocab USING (term) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(SUM(m) AS BIGINT) AS n_tokens,
           CAST(SUM(micro) AS DOUBLE) / (1000000.0 * SUM(m))
             AS avg_neg_logprob
    FROM contrib GROUP BY 1
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy filter of a
    curation pipeline: train token frequencies on the corpus itself,
    score each document by its average negative log-probability
    (high = gibberish/outlier, low = boilerplate). Determinism recipe:
    each (doc, term) contribution m·ln(N/c) is rounded ONCE to integer
    micro-units, so the per-doc aggregate is an exact BIGINT sum that
    commutes across any shuffle order — the pagerank trick applied to
    floating logs (raw double sums would drift with partition order;
    libm ulp differences are absorbed by the per-term rounding exactly
    as in tfidf_top_terms). Three bounded shuffles: (doc,term) counts,
    vocab counts, per-doc sum; corpus total is a 1-row broadcast. At
    100 TB the exact vocab join becomes broadcast top-K vocab + a
    smoothing default for the tail — same plan, smaller right side."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("term"),
    )
    tf = toked.groupBy("doc_id", "term").agg(F.count("*").alias("m"))
    vocab = tf.groupBy("term").agg(F.sum("m").alias("c"))
    total = F.broadcast(vocab.agg(F.sum("c").alias("n")))
    contrib = (
        tf.join(vocab, "term")
        .crossJoin(total)
        .select(
            "doc_id",
            "m",
            F.floor(
                F.col("m")
                * F.log(F.col("n").cast("double") / F.col("c"))
                * 1000000
                + 0.5
            ).cast("bigint").alias("micro"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_tokens"),
        (
            F.sum("micro").cast("double")
            / (F.lit(1000000.0) * F.sum("m"))
        ).alias("avg_neg_logprob"),
    )


@register(
    "equidepth_partition_boundaries",
    oracle="""
    WITH c AS (
      SELECT o_totalprice AS v, COUNT(*) AS cnt FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ),
    n AS (SELECT COUNT(*) AS n_rows FROM orders),
    ranks AS (
      SELECT k, CAST(CEIL(k * n_rows / 8.0) AS BIGINT) AS r
      FROM n, LATERAL (SELECT unnest(generate_series(1, 7)) AS k) g
    ),
    b AS (
      SELECT ranks.k, MIN(cum.v) AS boundary
      FROM ranks JOIN cum ON cum.cum >= ranks.r
      GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(boundary AS DOUBLE) AS boundary
    FROM b
    """,
)
def equidepth_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth range-partitioner boundaries over o_totalprice
    (7 cut points → 8 equal-population ranges): boundary_k = min value
    whose cumulative count reaches ceil(k·n/8). This is the planning
    step of range partitioning / sort-merge bucketing done exactly —
    Spark's RangePartitioner samples; writing shuffle-balanced sorted
    parquet wants the true cuts. Scale shape: collapse to a
    distinct-value count frame (bounded by value cardinality), two-phase
    prefix sum for cumulative counts (no global sort of raw rows, no
    single-partition window over the fact table), then a 7-row broadcast
    inequality join picks each boundary — the only full-width work is
    one map-side groupBy."""
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    counts = counts.localCheckpoint(eager=False)
    cum = two_phase_prefix_sum(counts, ["v"], "cnt", out_col="cum")
    # row total from the (value-cardinality-bounded) counts frame — a
    # second COUNT(*) over the fact table would double the full-width
    # scan the groupBy above already paid for
    n_rows = F.broadcast(counts.agg(F.sum("cnt").alias("n_rows")))
    ranks = (
        spark.range(1, 8)
        .toDF("k")
        .crossJoin(n_rows)
        .select(
            "k",
            F.ceil(F.col("k") * F.col("n_rows") / 8.0).cast("bigint").alias("r"),
        )
    )
    return (
        cum.join(F.broadcast(ranks), F.col("cum") >= F.col("r"))
        .groupBy("k")
        .agg(F.min("v").cast("double").alias("boundary"))
    )


@register(
    "multimodal_g711_stats",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CAST(80 + doc_id % 50 AS INT) AS n_frames,
             255 - (doc_id % 256) AS uc
      FROM documents
    ),
    d AS (
      SELECT doc_id, n_frames,
             (((( uc % 16) * 8) + 132) * CAST(POW(2, (uc // 16) % 8) AS BIGINT)
              - 132) AS mag
      FROM u
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           n_frames,
           CAST(mag AS INT) AS peak,
           CAST(mag AS DOUBLE) AS rms
    FROM d
    """,
)
def multimodal_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 µ-law decode, hash-oracled: synthesize a constant-byte
    µ-law WAV per document (byte = doc_id % 256, so all 256 code points
    appear across the corpus), decode through the vectorized ITU
    expansion (itself pinned byte-for-byte against stdlib audioop in
    tests), and report sample rate, frame count, peak and RMS. The
    oracle restates the expansion in closed form — complement, segment
    exponent/mantissa, ``((m·8+132)·2^e − 132`` — so a sign, bias, or
    shift bug in the codec breaks the hash. A constant signal makes
    RMS = |amplitude| exactly (sqrt of a perfect square in float64).
    Map-only: generate → decode → project, zero shuffles."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        audio_stats,
        synthesize_g711_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_stats(synthesize_g711_media(docs)).select(
        "media_id", "sample_rate", "n_frames", "peak", "rms"
    )


from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _DAILY_SERIES_DDAY_SQL as _DAILY_SQL,
)


@register(
    "series_backtest_mape",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    j AS (
      SELECT d.series_id, d.dday, d.v, p.v AS v7
      FROM daily d
      JOIN daily p ON p.series_id = d.series_id AND p.dday = d.dday - 7
      WHERE d.v <> 0
    ),
    e AS (
      SELECT series_id, abs(v - v7) AS err,
             CAST(FLOOR(CAST(abs(v - v7) AS DOUBLE) / CAST(abs(v) AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS ape_micro
      FROM j
    )
    SELECT series_id,
           CAST(COUNT(*) AS BIGINT) AS n_evaluated,
           CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
           CAST(SUM(ape_micro) AS DOUBLE)
             / (1000000.0 * CAST(COUNT(*) AS DOUBLE)) AS mape
    FROM e GROUP BY 1
    """,
)
def series_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting — the evaluation loop every production
    forecaster runs: score the seasonal-naive model (ŷ(d) = y(d−7),
    same weekday last week) against actuals, per series, reporting MAE
    and MAPE. The 7-day shift is a calendar equi-join on (series,
    dday−7) — NOT a lag(7) window, which would reach 7 *rows* back and
    silently misalign across gaps. Determinism: absolute errors stay in
    exact decimal through the sum (one cast to double at the end);
    per-day percentage errors are rounded once to integer micro-units
    so the per-series aggregate is an exact BIGINT sum that commutes
    across shuffle order (the unigram_logprob_score recipe). Shapes:
    one daily rollup shuffle + one co-partitioned self-join on the
    (series, day) key + one bounded aggregate."""
    from series_tiempo_ar_scraping_spark.queries_batch8 import _daily

    d = _daily(spark, sf_dir)
    prev = d.select(
        "series_id", (F.col("dday") + 7).alias("dday"), F.col("v").alias("v7")
    )
    j = d.join(prev, ["series_id", "dday"]).filter(F.col("v") != 0)
    err = F.abs(F.col("v") - F.col("v7"))
    ape_micro = F.floor(
        err.cast("double") / F.abs(F.col("v")).cast("double") * 1000000 + 0.5
    ).cast("bigint")
    e = j.select("series_id", err.alias("err"), ape_micro.alias("ape_micro"))
    return e.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_evaluated"),
        (F.sum("err").cast("double") / F.count("*").cast("double")).alias("mae"),
        (
            F.sum("ape_micro").cast("double")
            / (F.lit(1000000.0) * F.count("*").cast("double"))
        ).alias("mape"),
    )


@register(
    "multimodal_jpeg_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 * (1 + doc_id % 3) AS INT) AS width,
           CAST(8 * (1 + doc_id % 2) AS INT) AS height,
           CAST(doc_id % 256 AS DOUBLE) AS mean_luma
    FROM documents
    """,
)
def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode, hash-oracled: synthesize a solid-gray baseline
    JPEG per document and decode it through the stdlib/numpy baseline
    decoder (marker parse → canonical Huffman from DHT → dequantize →
    inverse zigzag → float64 IDCT → level shift). A solid block is
    DC-only under all-ones quantization, so the gray level round-trips
    exactly and the mean over all RGB bytes is doc_id % 256 in closed
    form — any Huffman, zigzag, predictor, or IDCT-scaling bug breaks
    the hash. Exercises every dimension pair and all 256 DC levels
    across the corpus. Map-only: generate → decode → project."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        image_stats,
        synthesize_jpeg_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_stats(synthesize_jpeg_media(docs)).select(
        "media_id", "width", "height", "mean_luma"
    )
