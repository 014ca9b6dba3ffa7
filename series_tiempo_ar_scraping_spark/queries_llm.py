"""Query catalog, batch 2 — LLM-training-data pipeline operators with
DuckDB oracles (dedup, text analysis, similarity search).

Oracle-generation notes:

- DuckDB ``regexp_replace`` needs the explicit ``'g'`` flag (Spark always
  replaces globally).
- Shingle concatenation uses ``concat_ws`` in BOTH engines (it skips
  NULLs identically; ``||`` would null out short docs in DuckDB).
- MinHash / SimHash / LSH-plane SQL is *generated* from the same Python
  constants the Spark operators use, so signatures match bit-for-bit.
- Near-dup test corpora are built inside the query (documents ∪ mutated /
  duplicated copies) so the dedup operators have planted positives to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import dedup as D
from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import ORACLES, det_round, register
from series_tiempo_ar_scraping_spark.session import load_table

# Shared SQL fragments live in the leaf module sqlfrags; re-exported here
# for existing importers.
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: F401
    _EN,
    _ES,
    _HEX60,
    _NEAR_CORPUS_SQL,
    _NORM_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
    _cc_oracle,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _neardup_edges_ctes,
    _toks_of_norm,
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL.format(c='text')} AS toks FROM documents
    )
    SELECT doc_id,
      len(toks) AS n_tokens,
      length(text) AS n_chars,
      CAST(FLOOR(CAST(len(list_filter(toks, x -> lower(x) IN ({_EN}))) AS DOUBLE)
           / greatest(len(toks), 1) * 10000 + 0.5) / 10000 AS DOUBLE) AS stop_ratio,
      CAST(FLOOR(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           / greatest(length(text), 1) * 10000 + 0.5) / 10000 AS DOUBLE) AS punct_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features as one projection (no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    f = TX.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["n_chars"].alias("n_chars"),
        det_round(f["stop_ratio"], 4).alias("stop_ratio"),
        det_round(f["punct_ratio"], 4).alias("punct_ratio"),
    )


@register(
    "text_lang_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL.format(c='text')} AS toks,
             length(text) AS n_chars
      FROM documents
    ), hits AS (
      SELECT doc_id, text, toks, n_chars,
        len(list_filter(toks, x -> lower(x) IN ({_EN}))) AS en_hits,
        len(list_filter(toks, x -> lower(x) IN ({_ES}))) AS es_hits,
        len(toks) AS n_toks,
        len(regexp_extract_all(text, '[.,!?;:]')) AS punct
      FROM t
    )
    SELECT doc_id,
      CASE WHEN en_hits > es_hits AND en_hits > 0 THEN 'en'
           WHEN es_hits > en_hits AND es_hits > 0 THEN 'es'
           WHEN en_hits = es_hits AND en_hits > 0 THEN 'tie'
           ELSE 'und' END AS lang_guess,
      CAST(FLOOR((
        least(1.0, n_toks / 200.0) * 0.5
        + least(1.0, (CAST(en_hits AS DOUBLE) / greatest(n_toks, 1)) * 4) * 0.3
        + (1.0 - least(1.0, (CAST(punct AS DOUBLE) / greatest(n_chars, 1)) * 10)) * 0.2
      ) * 10000 + 0.5) / 10000 AS DOUBLE) AS quality
    FROM hits
    """,
)
def text_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + composite quality score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.lang_id(F.col("text")).alias("lang_guess"),
        det_round(TX.quality_score(F.col("text")), 4).alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint over canonicalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

_EXACT_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL})
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy) over a corpus with planted duplicates."""
    return D.exact_dedup(_exact_corpus(spark, sf_dir))




def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 13)").alias("text"),
    )
    return docs.unionByName(mut)


@register(
    "dedup_ngram_jaccard",
    oracle=None,  # filled in below after the minhash fragments are defined
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard verification over MinHash-LSH candidate pairs
    — the two-stage shape of a production near-dup pipeline (candidates
    subquadratic via banding, exact set similarity only on candidates)."""
    corpus = _near_corpus(spark, sf_dir)
    # Tokenize+shingle ONCE, checkpoint, and feed signatures AND the
    # verification join from the same materialized frame — without this the
    # shingle derivation (the md5-heavy part) runs three times (signature
    # stage + each join side).
    toked = corpus.select(
        "doc_id", TX.tokens(TX.normalize_text(F.col("text"))).alias("_toks")
    )
    sh = toked.select(
        "doc_id", TX.shingles_from_tokens(F.col("_toks"), 3).alias("shingles")
    ).localCheckpoint(eager=False)
    pairs = D.lsh_candidate_pairs(D.minhash_signatures_from_shingles(sh))
    joined = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
    )
    jac = D.jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        joined.select("doc_a", "doc_b", det_round(jac, 4).alias("jac"))
        .filter(F.col("jac") >= 0.3)
    )


def _ngram_jaccard_oracle() -> str:
    """Composes the SHARED near-dup CTE prefix (sqlfrags) and rounds the
    raw jac for output — the prefix's `verified` applies the identical
    rounded threshold, so this oracle and the CC oracles provably see
    the same edges."""
    return f"""
    WITH {_neardup_edges_ctes()}
    SELECT doc_a, doc_b,
           CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) AS jac
    FROM scored
    WHERE CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) >= 0.3
    """


@register(
    "dedup_minhash_lsh",
    # composes the SHARED near-dup CTE prefix (sqlfrags) — its `pairs`
    # CTE is exactly the LSH candidate set; one derivation, no drift
    oracle=f"""
    WITH {_neardup_edges_ctes()}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (shingle→minhash→band→bucket-join)."""
    corpus = _near_corpus(spark, sf_dir)
    sigs = D.minhash_signatures(corpus)
    return D.lsh_candidate_pairs(sigs)


@register("dedup_connected_components", oracle=None)  # assigned below (_cc_oracle)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster collapse: connected components over the exact
    n-gram-Jaccard-verified near-dup pairs (LSH candidates → Jaccard ≥ 0.3
    → min-label propagation). `component_id == doc_id` picks the kept
    representative; everything else is the discard set."""
    corpus = _near_corpus(spark, sf_dir)
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return D.connected_components(corpus.select("doc_id"), edges)


@register("dedup_cc_star", oracle=None)  # assigned below (_cc_oracle)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component map as ``dedup_connected_components`` via the
    O(log n)-round large-star/small-star contraction (Kiveris et al.) —
    the variant that survives long-chain graphs where min-label's
    O(diameter) rounds explode. Hash-checked against the identical
    recursive-CTE oracle, so the two algorithms are mutually pinned."""
    corpus = _near_corpus(spark, sf_dir)
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return D.connected_components_star(corpus.select("doc_id"), edges)


def _simhash_sql() -> str:
    h = _HEX60.format(x="'0' || '|' || t")
    bits = " + ".join(
        f"CASE WHEN COALESCE(list_sum(list_transform(dtoks, t -> "
        f"CASE WHEN (({h}) >> {j}) & 1 = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return bits


@register(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct({_toks_of_norm('text')}) AS dtoks
      FROM documents WHERE doc_id < 60
    )
    SELECT doc_id, {_simhash_sql()} AS simhash FROM t
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (single projection, higher-order
    aggregate per bit — no explode, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return D.with_simhash(docs).select("doc_id", "simhash")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _COS64_SQL as _COS_SQL,
)


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS_SQL.format(a='qv', b='cv')} AS sim
      FROM c, q
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank,
           CAST(FLOOR(sim * 1000000000 + 0.5) / 1000000000 AS DOUBLE) AS sim
    FROM ranked WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (the ANN correctness baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.cosine_topk(
        emb.filter(F.col("vec_id") >= 8), emb.filter(F.col("vec_id") < 8), k=5
    )
    return out.withColumn("sim", det_round(F.col("sim"), 9))


def _planes_sql(coeffs: list[list[int]]) -> str:
    selects = []
    for j, plane in enumerate(coeffs):
        lits = ", ".join(str(float(v)) for v in plane)
        selects.append(
            f"CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST(v[i] AS DOUBLE) * ([{lits}])[i])) >= 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(selects)


_PLANES = S.plane_coeffs(S.N_PLANES, 64)


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, {_planes_sql(_PLANES)} AS bucket
      FROM (SELECT vec_id, embedding AS v FROM embeddings)
    )
    SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec_id
    FROM b GROUP BY bucket
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (the ANN scale path: the
    corpus is bucketed once; probes touch one bucket, not the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            S.hyperplane_bucket(F.col("embedding"), _PLANES).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "ann_topk_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, v AS embedding, {_planes_sql(_PLANES)} AS bucket
      FROM (SELECT vec_id, embedding AS v FROM embeddings)
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
          FROM b WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket
          FROM b WHERE vec_id >= 8),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS_SQL.format(a='qv', b='cv')} AS sim
      FROM c JOIN q USING (bucket)
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank,
           CAST(FLOOR(sim * 1000000000 + 0.5) / 1000000000 AS DOUBLE) AS sim
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Approximate vs the *exact* top-k,
    but fully deterministic given the (already-oracled) bucket assignment
    — the oracle reproduces the same probe-one-bucket ranking, so the
    approximation itself is hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ann_topk_lsh(
        emb.filter(F.col("vec_id") >= 8), emb.filter(F.col("vec_id") < 8), k=5
    )
    return out.withColumn("sim", det_round(F.col("sim"), 9))


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(strlen(text) AS INT) AS n_bytes,
           md5(text) AS checksum,
           CAST(1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 4096 AS INT)
             AS feat_width,
           CAST(1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 4096 AS INT)
             AS feat_height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature plumbing: binary media column → Arrow-
    batched feature extraction. The stub kernel's features are
    deterministic (byte length + md5-derived dims), so the pandas-UDF
    path is hash-checkable against pure SQL — same trick as
    ``multimodal_resize``."""
    from series_tiempo_ar_scraping_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.documents_as_media(docs))


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toked GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(FLOOR(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df)
                  * 1000000 + 0.5) / 1000000 AS DOUBLE) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per document. Three shuffles total:
    (doc, term) counts, term document-frequencies, and the per-doc top-k
    window; the corpus size is a 1-row broadcast cross-join, never a
    collect. Ranking ties break on the *rounded* score then term so the
    order is stable across engines (raw ln() can differ in the last ulp
    between libms)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("term"),
    )
    tf = toked.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "term",
            det_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


_SAMPLE_HASH = _HEX60.format(x="'7' || '|' || CAST(doc_id AS VARCHAR)")


@register(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ({_SAMPLE_HASH}) % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 30 ELSE 10 END
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: per-language rates applied by
    seeded content hash, not rand() — the sample is a pure function of
    (seed, doc_id), so reruns, retries, and both engines select the same
    rows. At 100 TB this is a map-only filter (no shuffle, no state), and
    changing rates re-uses the same hash so strata stay nested
    (rate 10% ⊂ rate 30%)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = D.hash64_seeded(F.col("doc_id").cast("string"), 7) % 100
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "es", 30)
        .otherwise(10)
    )
    return docs.filter(bucket < rate).select("doc_id", "lang", "source")


ORACLES["dedup_ngram_jaccard"] = _ngram_jaccard_oracle()
ORACLES["dedup_connected_components"] = _cc_oracle()
ORACLES["dedup_cc_star"] = _cc_oracle()


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_NEAR_CORPUS_SQL})
      WHERE doc_id < 60 OR (doc_id >= 100000 AND doc_id - 100000 < 60)
    ),
    t AS (
      SELECT doc_id, list_distinct({{toks}}) AS dtoks FROM corpus
    ),
    sigs AS (SELECT doc_id, {{sim}} AS simhash FROM t),
    banded AS (
      SELECT doc_id, simhash, band_idx,
             (simhash >> (8 * band_idx)) & 255 AS band_key
      FROM sigs, (VALUES (0), (1), (2), (3)) v(band_idx)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= 3
    """.format(toks="PLACEHOLDER_TOKS", sim="PLACEHOLDER_SIM"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (the signature query `dedup_simhash` only
    emits signatures): byte-banded buckets — any pair within hamming ≤ 3
    shares at least one intact byte of the 32-bit signature (pigeonhole
    over 4 bands) — then exact hamming via bit_count(xor) on candidates
    only. Same subquadratic band-join shape as MinHash-LSH, with the
    verify step a 2-instruction bit op instead of a set intersection."""
    corpus = _near_corpus(spark, sf_dir).filter(
        (F.col("doc_id") < 60)
        | ((F.col("doc_id") >= 100000) & (F.col("doc_id") - 100000 < 60))
    )
    sigs = D.with_simhash(corpus).select("doc_id", "simhash")
    pairs = D.simhash_near_pairs(sigs, max_hamming=3)
    return pairs


ORACLES["simhash_hamming_pairs"] = ORACLES["simhash_hamming_pairs"].replace(
    "PLACEHOLDER_TOKS", _toks_of_norm("text")
).replace("PLACEHOLDER_SIM", _simhash_sql())


@register(
    "document_chunking",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_toks_of_norm('text')} AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             list_slice(toks, i * 24 + 1, i * 24 + 32) AS chunk
      FROM toked,
      LATERAL (SELECT unnest(generate_series(
                 0, CAST(greatest(ceil((len(toks) - 8) / 24.0), 1)
                         AS BIGINT) - 1)) AS i)
    )
    SELECT doc_id, chunk_idx,
           len(chunk) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks WHERE len(chunk) > 0
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 32 tokens, stride 24 — 8
    tokens of overlap): the context-window preparation step of an LLM
    training pipeline. Chunk starts are generated per doc with
    sequence+explode (a generator: no join, rows multiply map-side) and
    each chunk is a slice of the ONE materialized token array — the token
    split runs once per document, not once per chunk. Chunk count per doc
    is ceil((len-overlap)/stride), min 1, so short docs yield exactly one
    chunk. All integer window math — engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )
    size, stride, overlap = 32, 24, 8
    n_chunks = F.greatest(
        F.ceil((F.size("toks") - F.lit(overlap)) / F.lit(float(stride))),
        F.lit(1),
    ).cast("bigint")
    exploded = toked.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("toks"), (F.col("chunk_idx") * stride + 1).cast("int"), size
    )
    return (
        exploded.select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@register(
    "sequence_packing_bins",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, len({_toks_of_norm('text')}) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               / 2048.0) AS BIGINT) AS bin_id
      FROM toked
    )
    SELECT bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY 1
    """,
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents fill 2048-token
    bins in deterministic doc_id order, bin = floor(prefix_tokens / B) —
    the streaming 'contiguous fill' approximation of bin packing (exact
    first-fit-decreasing is inherently sequential; contiguous fill is one
    window + arithmetic, scales to any corpus, and wastes at most one
    document's tokens per boundary).

    The global prefix sum is TWO-PHASE, not a single-partition window:
    range-partition by doc_id, local prefix sums per partition, then a
    broadcast join against per-partition carry offsets (the only global
    window runs over #partitions rows, not #documents). localCheckpoint
    pins the range partitioning so ``spark_partition_id`` is stable
    across the two uses of the frame. Integer math throughout."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.size(TX.tokens(TX.normalize_text(F.col("text")))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    running = two_phase_prefix_sum(
        toked, ["doc_id"], "n_tokens", out_col="prefix_tokens"
    )
    packed = running.select(
        "doc_id",
        "n_tokens",
        # bin by the EXCLUSIVE prefix (inclusive minus own count)
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
