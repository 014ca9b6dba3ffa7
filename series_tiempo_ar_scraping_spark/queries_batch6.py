"""Batch-6 queries: training-data curation operators.

The LLM-pipeline surface a 100 TB curation run needs beyond dedup/ANN
(SURVEY extension set, graded alongside §2): benchmark decontamination
(train/eval n-gram overlap), embedding int8 quantization QA, corpus
token-length profiling, boilerplate n-gram detection, and within-doc
repetition scoring. Every operator is a pure DataFrame expression with a
hash-matching DuckDB oracle; shared tokenizer/shingle fragments mirror
``queries_llm.py`` so the Spark and SQL sides stay lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import det_round, register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _SHINGLES_SQL,
    _toks_of_norm,
)

_EVAL_MAX_DOC = 25  # doc_id < 25 plays the benchmark/eval corpus


@register(
    "decontamination_ngram_overlap",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_toks_of_norm('text')} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL.format(t='toks')}) AS sh
      FROM toked
    ),
    tr AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id >= {_EVAL_MAX_DOC}),
    ev AS (SELECT DISTINCT doc_id AS eval_id, sh FROM sh
           WHERE doc_id < {_EVAL_MAX_DOC}),
    j AS (SELECT tr.doc_id, tr.sh, ev.eval_id FROM tr JOIN ev USING (sh))
    SELECT doc_id,
           CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
    FROM j GROUP BY 1
    """,
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, how many
    distinct 3-gram shingles it shares with the eval corpus and how many
    eval documents it touches — the n-gram overlap check run before
    training to drop contaminated documents.

    Scale shape: both sides shingle map-side (tokens materialized once,
    the InferFiltersFromGenerate-safe pattern); the eval side is tiny by
    construction (benchmarks are ~10^4 docs, not 10^9), so the join
    broadcasts it — the training corpus never shuffles. At 100 TB you'd
    join on xxhash64(shingle) to shrink the broadcast, identical plan."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )
    # shingles_from_tokens is per-doc distinct already (array_distinct),
    # so exploded (doc_id, sh) pairs are unique — no .distinct() shuffle.
    sh = toked.select(
        "doc_id", F.explode(TX.shingles_from_tokens(F.col("toks"))).alias("sh")
    )
    tr = sh.filter(F.col("doc_id") >= _EVAL_MAX_DOC)
    ev = sh.filter(F.col("doc_id") < _EVAL_MAX_DOC).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    j = tr.join(F.broadcast(ev), "sh")
    return j.groupBy("doc_id").agg(
        F.countDistinct("sh").alias("n_shared_shingles"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
    )


@register(
    "embedding_int8_quantization",
    oracle="""
    WITH prep AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM prep
    ),
    recon AS (
      SELECT vec_id, v, scale,
             list_transform(v, x ->
               least(greatest(floor(x / scale + 0.5), -127), 127) * scale)
               AS r
      FROM scaled WHERE scale > 0
    )
    SELECT vec_id,
           CAST(FLOOR(scale * 1000000000 + 0.5) / 1000000000 AS DOUBLE)
             AS scale,
           CAST(FLOOR(list_max(list_transform(generate_series(1, 64),
                  i -> abs(v[i] - r[i]))) * 1000000000 + 0.5) / 1000000000
                AS DOUBLE) AS max_abs_err,
           CAST(FLOOR(list_sum(list_transform(generate_series(1, 64),
                  i -> (v[i] - r[i]) * (v[i] - r[i]))) / 64.0
                  * 1000000000 + 0.5) / 1000000000 AS DOUBLE) AS mse
    FROM recon
    """,
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization QA: scale = max|x|/127,
    q = clamp(round-half-up(x/scale)), report reconstruction max-error
    and MSE per vector — the check run before shipping quantized
    embedding shards. Rounding is floor(x+0.5) in BOTH engines (engine
    round() half-even/half-up variants differ; the explicit floor form
    is deterministic). Map-only: no shuffle, no UDF — array math stays
    in whole-stage codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    prep = emb.select("vec_id", v.alias("v"))
    scale = (
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0)
    )
    scaled = prep.select("vec_id", "v", scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    q = lambda x: (  # noqa: E731
        F.least(
            F.greatest(F.floor(x / F.col("scale") + 0.5), F.lit(-127.0)),
            F.lit(127.0),
        )
        * F.col("scale")
    )
    recon = scaled.withColumn("r", F.transform(F.col("v"), q))
    diff = F.zip_with(F.col("v"), F.col("r"), lambda a, b: a - b)
    return recon.select(
        "vec_id",
        det_round(F.col("scale"), 9).alias("scale"),
        det_round(
            F.array_max(F.transform(diff, lambda d: F.abs(d))), 9
        ).alias("max_abs_err"),
        det_round(
            F.aggregate(
                F.transform(diff, lambda d: d * d),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(64.0),
            9,
        ).alias("mse"),
    )


@register(
    "token_length_histogram",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, len({_toks_of_norm('text')}) AS n_tokens
      FROM documents
    )
    SELECT CAST(FLOOR(log2(n_tokens + 1)) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM toked GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile on log2 buckets — the sizing input for
    sequence-packing/bin capacity decisions. One map-side-combinable
    aggregation; the histogram is as wide as log2(max_len), never data-
    sized."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(TX.tokens(TX.normalize_text(F.col("text")))).cast("bigint")
    return (
        docs.select(n.alias("n_tokens"))
        .groupBy(
            F.floor(F.log2(F.col("n_tokens") + 1)).cast("bigint").alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


@register(
    "boilerplate_ngram_detection",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_toks_of_norm('text')} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest({_SHINGLES_SQL.format(t='toks')}) AS sh
      FROM toked
    )
    SELECT sh AS ngram,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM sh GROUP BY 1 HAVING COUNT(*) >= 5
    """,
)
def boilerplate_ngram_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: 3-grams present in ≥5 distinct documents —
    the candidate set a cleaning pass strips (headers, footers, license
    blurbs repeat verbatim across a crawl). Shingle map-side, one
    count-distinct-docs aggregation; the HAVING threshold keeps the
    result boilerplate-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )
    # (doc_id, sh) pairs are unique per doc (array_distinct in the
    # shingle expression), so count(*) per shingle == distinct-doc count
    # with no pre-aggregation shuffle.
    sh = toked.select(
        "doc_id", F.explode(TX.shingles_from_tokens(F.col("toks"))).alias("sh")
    )
    return (
        sh.groupBy(F.col("sh").alias("ngram"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 5)
    )


@register(
    "repetition_score",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_toks_of_norm('text')} AS toks FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
    freq AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(MAX(c) AS BIGINT) AS top_freq,
           CAST(FLOOR(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                * 1000000 + 0.5) / 1000000 AS DOUBLE) AS rep_ratio,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                * 1000000 + 0.5) / 1000000 AS DOUBLE) AS distinct_ratio
    FROM freq GROUP BY 1
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signal: most-frequent-token
    share and distinct-token ratio — the cheap filter that catches
    degenerate pages (keyword stuffing, repeated navigation) before
    heavier dedup runs. Explode + two-level aggregate, both map-side
    combinable on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("term"),
    )
    freq = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_freq"),
        det_round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("rep_ratio"),
        det_round(
            F.count("*").cast("double") / F.sum("c").cast("double"), 6
        ).alias("distinct_ratio"),
    )


# PII patterns + deterministic injection live in sqlfrags (shared with
# queries_batch9's redaction without an import cycle).
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _PII_AUG_SQL,
    _PII_EMAIL,
    _PII_IPV4,
    _pii_augmented_col,
)


@register(
    "pii_pattern_scan",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)
             AS n_ips,
           CAST(CASE WHEN regexp_matches(t, '{_PII_EMAIL}')
                       OR regexp_matches(t, '{_PII_IPV4}')
                THEN 1 ELSE 0 END AS BIGINT) AS has_pii
    FROM aug
    """,
)
def pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern scan — the redaction pre-pass of a curation pipeline:
    per-document counts of email and IPv4 matches plus a has-PII flag.
    Pure `regexp_count` column expressions (JVM regex, whole-stage
    codegen, map-only); at 100 TB the flag column partitions the corpus
    into redact/pass-through streams with zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _pii_augmented_col()
    t = docs.select("doc_id", aug.alias("t"))
    n_emails = F.regexp_count("t", F.lit(_PII_EMAIL)).cast("bigint")
    n_ips = F.regexp_count("t", F.lit(_PII_IPV4)).cast("bigint")
    return t.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        ((n_emails > 0) | (n_ips > 0)).cast("bigint").alias("has_pii"),
    )


_SPLIT_HASH = "('0x' || substr(md5('13' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"


@register(
    "dataset_split_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN ({_SPLIT_HASH}) % 100 < 80 THEN 'train'
                  WHEN ({_SPLIT_HASH}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM assigned GROUP BY 1, 2
    """,
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by seeded
    content hash — a pure function of (seed, doc_id), so reruns, both
    engines, and any cluster layout assign identically, and growing the
    corpus never moves an existing document between splits. Map-only
    assignment + one map-combinable aggregate for the per-language
    distribution check."""
    from series_tiempo_ar_scraping_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    bucket = D.hash64_seeded(F.col("doc_id").cast("string"), 13) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
