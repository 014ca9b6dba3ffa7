"""Batch-13 queries: retrieval, sampling theory, and revenue analytics
shapes rounding out the 100 TB curation/BI surface.

Families (each entry hash-oracled; plan contracts in tests/test_plans.py):

- Retrieval: full BM25 scoring (Lucene idf variant) for a fixed query
  term set — tf stays a map-side projection (no explode), df/avgdl are
  one scalar frame, top-k is a global TakeOrdered.
- Exact substring-level dedup (Lee et al. 2022 "Deduplicating Training
  Data Makes Language Models Better" at shingle granularity):
  positions of cross-document duplicated k-shingles merged into
  maximal spans via gaps-and-islands, reported as per-doc duplicated
  token coverage.
- Weighted sampling without replacement: Efraimidis–Spirakis A-Res
  (key = u^(1/w), ranked in log space) — exactly k per stratum, fully
  deterministic from the seeded cross-engine hash.
- BI attribution & allocation: mix-shift decomposition (volume vs rate
  effects with exact telescoping closure), RFM quintile segmentation
  (prefix-sum scores, never a global ntile), largest-remainder seat
  apportionment (exact-integer Hamilton method).
- Distributed ML as dataflow: per-group multiple regression from exact
  Gram sums + Cramer's rule (ONE exchange), multinomial naive Bayes
  train+apply (broadcast model frames, micro-floored log terms),
  decision-stump split finding (prefix-summed class counts, exact
  integer Gini comparison), NDCG@10 ranking eval (Python-precomputed
  micro-int discount table — no runtime transcendental).
- Spatial & graph: grid-blocked DBSCAN (eps-cell blocking + star CC),
  k-core extraction by iterative peeling (the monotone-shrink
  iterative shape — the 7th iterative family).

Determinism recipe (repo standard, queries_batch8/12): exact
bigint/decimal arithmetic end-to-end; the seeded cross-engine hash is
the ONE ``hash64_seeded`` / ``_hex60_seeded`` spelling; ln/exp feed on
single divisions of exact values and every transcendental term is
micro-floored BEFORE any cross-partition sum; at most one double
division of identical integers per output column.

Reference parity: extends the reference's report/indicator family
(reference/scrapers/base.py generate_summary_indicators — aggregate
health deltas per catalog) to segment-attribution analytics, and its
dedup/validation lane to substring-level duplication audits — the
curation extensions SURVEY §2.13 calls for.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import (
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _sp_points_sql,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Mix-shift decomposition (BI attribution family)
# ---------------------------------------------------------------------------

_MS_Y0, _MS_Y1 = 1994, 1995


@register(
    "mix_shift_decomposition",
    oracle=f"""
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(year(o_orderdate) AS INT) AS yr,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) IN ({_MS_Y0}, {_MS_Y1})
      GROUP BY 1, 2
    ),
    w AS (
      SELECT segment,
             COALESCE(MAX(CASE WHEN yr = {_MS_Y0} THEN n END), 0) AS n0,
             COALESCE(MAX(CASE WHEN yr = {_MS_Y1} THEN n END), 0) AS n1,
             CAST(COALESCE(MAX(CASE WHEN yr = {_MS_Y0} THEN rev END), 0)
               AS DOUBLE) AS rev0,
             CAST(COALESCE(MAX(CASE WHEN yr = {_MS_Y1} THEN rev END), 0)
               AS DOUBLE) AS rev1
      FROM seg GROUP BY 1
    )
    SELECT segment, n0, n1, rev0, rev1,
           {det_round_sql('rev0 / NULLIF(n0, 0)', 4)} AS rate0,
           {det_round_sql('rev1 / NULLIF(n1, 0)', 4)} AS rate1,
           {det_round_sql('(n1 - n0) * (rev0 / NULLIF(n0, 0))', 4)}
             AS mix_effect,
           {det_round_sql(
               'n1 * (rev1 / NULLIF(n1, 0) - rev0 / NULLIF(n0, 0))', 4)}
             AS rate_effect,
           {det_round_sql('rev1 - rev0', 4)} AS delta
    FROM w
    """,
)
def mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Period-over-period revenue change per market segment, decomposed
    into a volume/mix effect ((n1−n0)·rate0 — "we did more/fewer
    orders") and a rate effect (n1·(rate1−rate0) — "orders got
    bigger/smaller"), the standard telescoping identity: the two
    effects sum EXACTLY to the segment's revenue delta. The
    attribution query behind every "why did revenue move" dashboard.

    Scale shape: one orders-customer join (segment lookup), one
    (segment, year) aggregate, then a 5-row pivot — all downstream
    arithmetic happens on the tiny segment frame. Determinism: counts
    and decimal revenue sums are exact; each rate is ONE double
    division of identical exact values; effects are fixed op trees on
    those doubles, det-rounded."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    yr = F.year("o_orderdate")
    seg = (
        orders.join(
            customer,
            orders["o_custkey"] == customer["c_custkey"],
        )
        .filter(yr.isin(_MS_Y0, _MS_Y1))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            yr.cast("int").alias("yr"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias(
                "rev"
            ),
        )
    )

    def _year_col(col: str, y: int):
        return F.max(F.when(F.col("yr") == y, F.col(col)))

    w = seg.groupBy("segment").agg(
        F.coalesce(_year_col("n", _MS_Y0), F.lit(0))
        .cast("long")
        .alias("n0"),
        F.coalesce(_year_col("n", _MS_Y1), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(_year_col("rev", _MS_Y0), F.lit(0))
        .cast("double")
        .alias("rev0"),
        F.coalesce(_year_col("rev", _MS_Y1), F.lit(0))
        .cast("double")
        .alias("rev1"),
    )
    rate0 = F.col("rev0") / F.nullif(F.col("n0"), F.lit(0))
    rate1 = F.col("rev1") / F.nullif(F.col("n1"), F.lit(0))
    return w.select(
        "segment",
        "n0",
        "n1",
        "rev0",
        "rev1",
        det_round(rate0, 4).alias("rate0"),
        det_round(rate1, 4).alias("rate1"),
        det_round((F.col("n1") - F.col("n0")) * rate0, 4).alias(
            "mix_effect"
        ),
        det_round(F.col("n1") * (rate1 - rate0), 4).alias(
            "rate_effect"
        ),
        det_round(F.col("rev1") - F.col("rev0"), 4).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (LLM curation family)
# ---------------------------------------------------------------------------

_SPAN_K = 3  # shingle width in tokens
_SPAN_SEED = 7


@register(
    "substring_span_dedup",
    oracle=f"""
    WITH t2 AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, {_toks_of_norm('text')} AS toks
            FROM documents)
      WHERE len(toks) >= {_SPAN_K}
    ),
    sh AS (
      SELECT doc_id, n_tokens,
             unnest(list_transform(
               generate_series(0, len(toks) - {_SPAN_K}),
               i -> struct_pack(
                 pos := i,
                 h := {_hex60_seeded(
                     str(_SPAN_SEED),
                     "concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])")}
               ))) AS u
      FROM t2
    ),
    sp AS (
      SELECT doc_id, n_tokens, CAST(u.pos AS BIGINT) AS pos, u.h AS h
      FROM sh
    ),
    dup AS (
      SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    d AS (
      SELECT doc_id, n_tokens, pos FROM sp
      WHERE h IN (SELECT h FROM dup)
    ),
    isl AS (
      SELECT doc_id, n_tokens, pos,
             SUM(CASE WHEN prev IS NULL
                        OR pos - prev > {_SPAN_K} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT doc_id, n_tokens, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS prev
            FROM d)
    ),
    spans AS (
      SELECT doc_id, n_tokens, island,
             CAST(COUNT(*) AS BIGINT) AS n_positions,
             MAX(pos) - MIN(pos) + {_SPAN_K} AS covered
      FROM isl GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           MAX(n_tokens) AS n_tokens,
           CAST(SUM(n_positions) AS BIGINT) AS n_dup_positions,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           {det_round_sql(
               'CAST(SUM(covered) AS DOUBLE) / MAX(n_tokens)', 6)}
             AS dup_coverage
    FROM spans GROUP BY doc_id
    """,
)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection at k-shingle granularity
    (the distributable core of Lee et al. 2022's suffix-array exact
    substring dedup): every k-token window that appears in ≥2 distinct
    documents is a duplicated position; adjacent/overlapping duplicated
    positions merge into maximal spans (gaps-and-islands), and each doc
    reports how much of it is covered by cross-document duplicated
    text — the signal used to strip boilerplate/quoted spans rather
    than drop whole near-dup docs.

    Scale shape: positional shingle explode (linear in corpus tokens),
    ONE shuffle on the 60-bit shingle hash for the duplicated-hash set,
    a semi join back on the same hash, then per-doc windows on the
    (much smaller) duplicated-position frame. n_tokens rides along the
    explode so no join back to the token frame is needed. At 100 TB
    the hash groupBy is the canonical approach (suffix arrays don't
    distribute; shingle hashing does). Determinism: positions and
    counts are exact ints; the only double is the final coverage ratio
    (one division, det-rounded)."""
    docs = load_table(spark, sf_dir, "documents")
    t2 = docs.select(
        "doc_id", TX.tokens(TX.normalize_text("text")).alias("toks")
    ).select(
        "doc_id", "toks", F.size("toks").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") >= _SPAN_K)

    # positional k-shingles: (doc_id, pos, hash) — explode of a
    # transform over the start-index range, token frame evaluated once
    sh = t2.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.size("toks") - F.lit(_SPAN_K)
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at("toks", i + 1),
                    F.try_element_at("toks", i + 2),
                    F.try_element_at("toks", i + 3),
                ),
            )
        ).alias("pos", "s"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("pos").cast("long").alias("pos"),
        hash64_seeded(F.col("s"), _SPAN_SEED).alias("h"),
    ).localCheckpoint(eager=False)
    # lazy checkpoint (r13): the duplicated-hash aggregate AND the semi
    # join both read sh — uncheckpointed, the md5-heavy positional
    # shingle projection executed twice (once inside the dup-set
    # broadcast build, again in the main pass)

    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    d = sh.join(dup, "h", "left_semi")

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = d.withColumn("prev", F.lag("pos").over(w_doc)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0)
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "n_tokens", "island").agg(
        F.count("*").alias("n_positions"),
        (F.max("pos") - F.min("pos") + F.lit(_SPAN_K)).alias(
            "covered"
        ),
    )
    return spans.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.sum("n_positions").cast("long").alias("n_dup_positions"),
        F.count("*").alias("n_spans"),
        F.sum("covered").cast("long").alias("covered_tokens"),
        det_round(
            F.sum("covered").cast("double") / F.max("n_tokens"), 6
        ).alias("dup_coverage"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (search / retrieval family)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "hash", "stream", "window", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_term_sql(term: str) -> str:
    """One BM25 term contribution, micro-floored (DuckDB side).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))   [Lucene's non-negative form]
    tfn = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    """
    tf = f"len(list_filter(toks, x -> x = '{term}'))"
    df = f"df_{term}"
    idf = f"ln(1 + (n_docs - {df} + 0.5) / ({df} + 0.5))"
    tfn = (
        f"({tf} * {_BM25_K1 + 1}) / ({tf} + {_BM25_K1} * "
        f"(1 - {_BM25_B} + {_BM25_B} * (dl / avgdl)))"
    )
    return (
        f"CAST(FLOOR({idf} * {tfn} * 1000000 + 0.5) AS BIGINT)"
    )


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_toks_of_norm('text')} AS toks
      FROM documents
    ),
    d AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
      FROM tk WHERE len(toks) > 0
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {', '.join(
                 f"CAST(SUM(CASE WHEN len(list_filter(toks, "
                 f"x -> x = '{t}')) > 0 THEN 1 ELSE 0 END) AS BIGINT)"
                 f" AS df_{t}"
                 for t in _BM25_TERMS)}
      FROM d
    ),
    scored AS (
      SELECT doc_id, dl,
             CAST({' + '.join(
                 f"CASE WHEN len(list_filter(toks, x -> x = '{t}')) > 0 "
                 f"THEN 1 ELSE 0 END" for t in _BM25_TERMS)} AS BIGINT)
               AS matched_terms,
             ({' + '.join(_bm25_term_sql(t) for t in _BM25_TERMS)})
               AS micro
      FROM d CROSS JOIN stats
    )
    SELECT doc_id, dl, matched_terms,
           CAST(micro AS DOUBLE) / 1000000 AS bm25_score
    FROM scored
    ORDER BY micro DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 ranking (Lucene's non-negative idf variant, k1=1.2,
    b=0.75) of the corpus against a fixed conjunctive-ish query term
    set, returning the global top-20 — the retrieval workload behind
    every search/RAG candidate generator, complementing
    ``tfidf_top_terms`` (per-doc keyword extraction) and the ANN family
    (dense retrieval) with the sparse lexical scorer.

    Scale shape: tf per query term is a map-side higher-order filter
    over the token array (NO explode, NO per-term join — the term set
    is fixed and small); df/avgdl/N are ONE scalar aggregate frame
    cross-joined back (1-row broadcast); top-k is a global
    TakeOrdered, not a full sort. Determinism: tf/df/dl exact ints;
    avgdl is one division; each term's idf·tfn is a fixed double op
    tree micro-floored to bigint BEFORE the (map-side, 5-term) sum;
    ties broken by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select(
            "doc_id",
            TX.tokens(TX.normalize_text("text")).alias("toks"),
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").cast("long").alias("dl"),
        )
        .filter(F.col("dl") > 0)
    )

    def _tf(term: str):
        return F.size(F.filter(F.col("toks"), lambda x: x == term))

    stats = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(_tf(t) > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def _term_micro(term: str):
        tf = _tf(term).cast("double")
        df = F.col(f"df_{term}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        tfn = (tf * F.lit(_BM25_K1 + 1)) / (
            tf
            + F.lit(_BM25_K1)
            * (
                F.lit(1 - _BM25_B)
                + F.lit(_BM25_B)
                * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        )
        return F.floor(idf * tfn * 1000000 + F.lit(0.5)).cast("bigint")

    scored = d.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "dl",
        sum(
            (
                F.when(_tf(t) > 0, 1).otherwise(0)
                for t in _BM25_TERMS
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("matched_terms"),
        sum(
            (_term_micro(t) for t in _BM25_TERMS), F.lit(0).cast("bigint")
        ).alias("micro"),
    )
    return (
        scored.orderBy(F.col("micro").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select(
            "doc_id",
            "dl",
            "matched_terms",
            (F.col("micro").cast("double") / 1000000).alias(
                "bm25_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-Res)
# ---------------------------------------------------------------------------

_ARES_SEED = 31
_ARES_K = 10
_ARES_U_BUCKETS = 1048576  # 2^20 — u is an exact dyadic rational


@register(
    "weighted_sample_ares",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
             CAST(FLOOR(
               ln(CAST(({_hex60_seeded(
                   str(_ARES_SEED), 'CAST(doc_id AS VARCHAR)')}
                        % {_ARES_U_BUCKETS} + 1) AS DOUBLE)
                  / {_ARES_U_BUCKETS})
               / GREATEST(n_chars, 1) * 1000000000000 + 0.5)
               AS BIGINT) AS key_micro
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, weight, key_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY key_micro DESC, doc_id)
               AS sample_rank
      FROM keyed
    )
    SELECT source, doc_id, weight, key_micro,
           CAST(sample_rank AS INT) AS sample_rank
    FROM ranked WHERE sample_rank <= {_ARES_K}
    """,
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement per stratum
    (source), by Efraimidis–Spirakis A-Res: each row draws
    u ∈ (0, 1] from the seeded hash and keeps key = u^(1/w); the top-k
    keys per stratum ARE a weighted sample without replacement.
    Ranked in log space (ln(u)/w — monotone in the key, avoids pow)
    and micro-floored so the order is integer-exact cross-engine. The
    exactly-k companion to ``quality_weighted_sampling``'s Bernoulli
    thinning (which can't hit a target count) and
    ``stratified_sample_documents``' unweighted quota.

    Scale shape: the key is one map-side expression; per-stratum top-k
    is a rank-filtered window, which Spark executes as WindowGroupLimit
    (partial top-k BEFORE the shuffle), so the exchange carries ~k rows
    per stratum, not the corpus. Determinism: u is an exact dyadic
    rational of the 60-bit hash; ln of one exact division, one more
    division by the exact integer weight, micro-floored to bigint;
    ties broken by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    u = (
        (
            hash64_seeded(F.col("doc_id").cast("string"), _ARES_SEED)
            % _ARES_U_BUCKETS
            + 1
        ).cast("double")
        / _ARES_U_BUCKETS
    )
    keyed = docs.select(
        "source",
        "doc_id",
        w.alias("weight"),
        F.floor(F.log(u) / w * 1000000000000 + F.lit(0.5))
        .cast("bigint")
        .alias("key_micro"),
    )
    win = Window.partitionBy("source").orderBy(
        F.col("key_micro").desc(), "doc_id"
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= _ARES_K)
        .select(
            "source",
            "doc_id",
            "weight",
            "key_micro",
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-blocked DBSCAN (spatial + graph family)
# ---------------------------------------------------------------------------

_DB_EPS = 300  # neighborhood radius (grid units)
_DB_EPS2 = _DB_EPS * _DB_EPS
_DB_MINPTS = 4  # core point: |closed eps-neighborhood| >= 4
# Contraction sub-cell edge: the largest integer s with 2*s^2 <= eps^2,
# so any two points sharing an s-cell are within eps (diagonal bound).
_DB_SUB = math.isqrt(_DB_EPS2 // 2)
assert 2 * _DB_SUB * _DB_SUB <= _DB_EPS2


def _dbscan_cand_sql() -> str:
    """Shared candidate-pair CTEs: eps-cell blocking, 3x3 probe, exact
    squared-distance filter — the same blocking recipe as
    spatial_cell_knn_join with cell edge = eps (so the 3x3 neighborhood
    provably covers every eps-ball)."""
    return f"""
    pts AS ({_sp_points_sql()}),
    probe AS (
      SELECT pid, x, y,
             (x // {_DB_EPS}) + dx.d AS cx,
             (y // {_DB_EPS}) + dy.d AS cy
      FROM pts,
           generate_series(-1, 1) dx(d),
           generate_series(-1, 1) dy(d)
    ),
    cand AS (
      SELECT p.pid AS a, c.pid AS b
      FROM probe p
      JOIN pts c ON c.x // {_DB_EPS} = p.cx
                AND c.y // {_DB_EPS} = p.cy
                AND c.pid <> p.pid
      WHERE (p.x - c.x) * (p.x - c.x)
            + (p.y - c.y) * (p.y - c.y) <= {_DB_EPS2}
    ),
    ncnt AS (SELECT a, COUNT(*) AS n_nb FROM cand GROUP BY a),
    cores AS (SELECT a AS pid FROM ncnt WHERE n_nb + 1 >= {_DB_MINPTS})
    """


@register(
    "spatial_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE {_dbscan_cand_sql()},
    ce AS (
      SELECT a AS src, b AS dst FROM cand
      WHERE a IN (SELECT pid FROM cores)
        AND b IN (SELECT pid FROM cores)
    ),
    reach(id, comp) AS (
      SELECT pid, pid FROM cores
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN ce e ON e.src = r.id
    ),
    comp AS (SELECT id AS pid, MIN(comp) AS component_id
             FROM reach GROUP BY id),
    border AS (
      SELECT c.a AS pid, MIN(k.component_id) AS component_id
      FROM cand c JOIN comp k ON c.b = k.pid
      WHERE c.a NOT IN (SELECT pid FROM cores)
      GROUP BY c.a
    ),
    cl AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_core
           FROM comp GROUP BY 1),
    bd AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_border
           FROM border GROUP BY 1)
    SELECT cl.component_id AS cluster_id,
           cl.n_core,
           COALESCE(bd.n_border, 0) AS n_border,
           cl.n_core + COALESCE(bd.n_border, 0) AS n_total
    FROM cl LEFT JOIN bd USING (component_id)
    """,
)
def spatial_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the deterministic spatial point cloud (the seeded
    [0,10000)² customer points shared with ``spatial_cell_knn_join``):
    eps=300, minPts=4. Core points have ≥ minPts points in their closed
    eps-ball; clusters are connected components of the core-core
    eps-graph; border points attach to the min cluster label among
    their core neighbors; everything else is noise. Reported per
    cluster: core/border/total counts.

    Scale shape: the eps-ball test is grid-blocked (cell edge = eps, so
    a 3×3 cell probe provably covers every ball — an EQUI-join on cell
    ids, never an all-pairs distance join); the candidate-pair frame is
    checkpointed ONCE and reused by the degree count, the core-core
    edge list, and the border assignment; components run on
    large-star/small-star (O(log n) rounds — at 100 TB density the
    core graph has a giant component whose diameter would sink
    min-label propagation). All-integer geometry end to end.
    Cites: Ester et al. KDD'96 (DBSCAN); Kiveris et al. SoCC'14 (CC)."""
    return _dbscan_clusters_frame(spark, sf_dir, grid=10000)


def _dbscan_clusters_frame(
    spark: SparkSession, sf_dir: str, grid: int
) -> DataFrame:
    """Grid-parameterized DBSCAN builder. The registered entry pins
    ``grid=10000`` (the oracle's ``_SP_GRID``); ``tools/sf1_probe.py``'s
    value-space-scaled variant runs ``grid=31623`` (10000·√10) against
    the 10x corpus so point DENSITY stays constant — the new-content
    growth regime — alongside the fixed-domain run, which deliberately
    models densification (10x rows into the same domain → ~100x
    in-cell pair work). The pair of curves is the standing scale
    adjudication for this entry (SCALE.md r12)."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        connected_components_star,
    )

    customer = load_table(spark, sf_dir, "customer")
    pts = customer.select(
        F.col("c_custkey").alias("pid"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 11) % grid)
        .alias("x"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 12) % grid)
        .alias("y"),
    ).localCheckpoint(eager=False)
    # HALF-PAIR candidate generation (r13, guide §2.3): probe only 5
    # of the 9 neighborhood cells — same cell (tie-broken b > pid) and
    # the 4 "forward" offsets E/NE/N/NW; the 4 backward directions are
    # covered when the roles swap, so every unordered eps-pair is
    # generated EXACTLY once. The blocking join ships 5n probe rows
    # instead of 9n and evaluates the distance predicate once per
    # unordered pair (half the former work); the direction union after
    # the filter restores the identical directed cand frame.
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
        ]
    )
    probe = pts.select(
        "pid", "x", "y", F.explode(offs).alias("o")
    ).select(
        "pid",
        "x",
        "y",
        (F.expr(f"x DIV {_DB_EPS}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"y DIV {_DB_EPS}") + F.col("o.dy")).alias("cy"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same"),
    )
    cand_src = pts.select(
        F.col("pid").alias("b"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.expr(f"x DIV {_DB_EPS}").alias("cx"),
        F.expr(f"y DIV {_DB_EPS}").alias("cy"),
    )
    # The half-pair checkpoint carries each endpoint's SUB-CELL id
    # (edge eps/sqrt(2), so 2*sub^2 <= eps^2 and any two points sharing
    # a sub-cell are provably within eps) — the key the geometric
    # pre-contraction below needs, computed map-side while the pair is
    # being built instead of re-joined to pts afterwards.
    half = (
        probe.join(cand_src, ["cx", "cy"])
        .filter(
            F.when(F.col("same"), F.col("b") > F.col("pid")).otherwise(
                F.lit(True)
            )
        )
        .filter(
            (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
            + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny"))
            <= _DB_EPS2
        )
        .select(
            F.col("pid").alias("a"),
            "b",
            F.expr(f"x DIV {_DB_SUB}").alias("sax"),
            F.expr(f"y DIV {_DB_SUB}").alias("say"),
            F.expr(f"nx DIV {_DB_SUB}").alias("sbx"),
            F.expr(f"ny DIV {_DB_SUB}").alias("sby"),
        )
        .localCheckpoint(eager=False)  # reused: degrees, contraction, border
    )
    cand = half.select("a", "b").unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    cores = (
        cand.groupBy("a")
        .agg(F.count("*").alias("n_nb"))
        .filter(F.col("n_nb") + 1 >= _DB_MINPTS)
        .select(F.col("a").alias("pid"))
        .localCheckpoint(eager=False)
    )
    # GEOMETRIC PRE-CONTRACTION (r13, guide §2.2): cores sharing an
    # eps/sqrt(2) sub-cell are pairwise within eps, hence provably in
    # the same cluster — contract each occupied sub-cell's cores to its
    # minimum pid (the supernode) and run connected components on the
    # contracted graph: #nodes drops from |cores| to #occupied
    # sub-cells (bounded by (domain/sub)^2 — the GEOMETRY, not the
    # corpus) and the edge list dedups to distinct cell-pair links.
    # Exactness: every same-cell core pair is a direct cand edge (dist
    # <= eps and the 3x3 eps-cell probe covers it), so the contraction
    # merges only nodes already connected; component minima are
    # preserved because each supernode IS the min pid of its cell.
    core_pts = pts.join(cores, "pid", "left_semi").select(
        "pid",
        F.expr(f"x DIV {_DB_SUB}").alias("sx"),
        F.expr(f"y DIV {_DB_SUB}").alias("sy"),
    )
    sup_map = core_pts.groupBy("sx", "sy").agg(F.min("pid").alias("sup"))
    core_half = half.join(
        cores.select(F.col("pid").alias("a")), "a", "left_semi"
    ).join(cores.select(F.col("pid").alias("b")), "b", "left_semi")
    contracted = (
        core_half.join(
            sup_map.select(
                F.col("sx").alias("sax"),
                F.col("sy").alias("say"),
                F.col("sup").alias("sup_a"),
            ),
            ["sax", "say"],
        )
        .join(
            sup_map.select(
                F.col("sx").alias("sbx"),
                F.col("sy").alias("sby"),
                F.col("sup").alias("sup_b"),
            ),
            ["sbx", "sby"],
        )
        .filter(F.col("sup_a") != F.col("sup_b"))
        .select(F.col("sup_a").alias("a"), F.col("sup_b").alias("b"))
    )
    comp_super = connected_components_star(
        sup_map.select(F.col("sup").alias("pid")),
        contracted,
        id_col="pid",
        src_col="a",
        dst_col="b",
    )
    comp = (
        core_pts.join(sup_map, ["sx", "sy"])
        .join(comp_super.withColumnRenamed("pid", "sup"), "sup")
        .select("pid", "component_id")
    )
    border = (
        cand.join(
            cores.select(F.col("pid").alias("a")), "a", "left_anti"
        )
        .join(comp.select(F.col("pid").alias("b"), "component_id"), "b")
        .groupBy(F.col("a").alias("pid"))
        .agg(F.min("component_id").alias("component_id"))
    )
    cl = comp.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_core")
    )
    bd = border.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_border")
    )
    return (
        cl.join(bd, "component_id", "left")
        .select(
            F.col("component_id").alias("cluster_id"),
            "n_core",
            F.coalesce(F.col("n_border"), F.lit(0))
            .cast("long")
            .alias("n_border"),
            (
                F.col("n_core")
                + F.coalesce(F.col("n_border"), F.lit(0))
            )
            .cast("long")
            .alias("n_total"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group multiple linear regression (distributed-ML family)
# ---------------------------------------------------------------------------

# Cramer expansions for the 3x3 normal-equation system, written ONCE as
# format templates so the Spark and DuckDB op trees are character-for-
# character the same shape (identical IEEE evaluation order).
_OLS_DET = (
    "({n} * ({s11} * {s22} - {s12} * {s12})"
    " - {s1} * ({s1} * {s22} - {s12} * {s2})"
    " + {s2} * ({s1} * {s12} - {s11} * {s2}))"
)
_OLS_DET0 = (
    "({sy} * ({s11} * {s22} - {s12} * {s12})"
    " - {s1} * ({s1y} * {s22} - {s12} * {s2y})"
    " + {s2} * ({s1y} * {s12} - {s11} * {s2y}))"
)
_OLS_DET1 = (
    "({n} * ({s1y} * {s22} - {s12} * {s2y})"
    " - {sy} * ({s1} * {s22} - {s12} * {s2})"
    " + {s2} * ({s1} * {s2y} - {s1y} * {s2}))"
)
_OLS_DET2 = (
    "({n} * ({s11} * {s2y} - {s1y} * {s12})"
    " - {s1} * ({s1} * {s2y} - {s1y} * {s2})"
    " + {sy} * ({s1} * {s12} - {s11} * {s2}))"
)

_OLS_VARS = {
    "n": "CAST(n AS DOUBLE)",
    "s1": "CAST(s1s AS DOUBLE) / 100",
    "s2": "CAST(s2s AS DOUBLE) / 10000",
    "sy": "CAST(sys AS DOUBLE) / 100",
    "s11": "CAST(s11s AS DOUBLE) / 10000",
    "s12": "CAST(s12s AS DOUBLE) / 1000000",
    "s22": "CAST(s22s AS DOUBLE) / 100000000",
    "s1y": "CAST(s1ys AS DOUBLE) / 10000",
    "s2y": "CAST(s2ys AS DOUBLE) / 1000000",
    "syy": "CAST(syys AS DOUBLE) / 10000",
}


@register(
    "ols_normal_equations",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS x1,
             CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)
               AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
               AS BIGINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x1 AS DECIMAL(38,0))) AS s1s,
             SUM(CAST(x2 AS DECIMAL(38,0))) AS s2s,
             SUM(CAST(y AS DECIMAL(38,0))) AS sys,
             SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS s11s,
             SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS s12s,
             SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS s22s,
             SUM(CAST(x1 AS DECIMAL(38,0)) * y) AS s1ys,
             SUM(CAST(x2 AS DECIMAL(38,0)) * y) AS s2ys,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syys
      FROM m GROUP BY 1
    )
    SELECT l_returnflag, n,
           {det_round_sql(
               _OLS_DET0.format(**_OLS_VARS)
               + ' / ' + _OLS_DET.format(**_OLS_VARS), 6)} AS b0,
           {det_round_sql(
               _OLS_DET1.format(**_OLS_VARS)
               + ' / ' + _OLS_DET.format(**_OLS_VARS), 6)} AS b1,
           {det_round_sql(
               _OLS_DET2.format(**_OLS_VARS)
               + ' / ' + _OLS_DET.format(**_OLS_VARS), 6)} AS b2,
           {det_round_sql(
               '1 - ({syy} - ({d0} / {d}) * {sy} - ({d1} / {d}) * {s1y}'
               ' - ({d2} / {d}) * {s2y})'
               ' / ({syy} - {sy} * {sy} / {n})'.format(
                   d=_OLS_DET.format(**_OLS_VARS),
                   d0=_OLS_DET0.format(**_OLS_VARS),
                   d1=_OLS_DET1.format(**_OLS_VARS),
                   d2=_OLS_DET2.format(**_OLS_VARS),
                   **_OLS_VARS), 6)} AS r2
    FROM g
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group multiple linear regression (extendedprice ~ quantity +
    discount per return flag) solved in closed form from the normal
    equations: ONE aggregate computes the Gram-matrix sums (n, Σx, Σxxᵀ,
    Σxy, Σyy), then Cramer's rule on the tiny per-group frame yields
    coefficients and R². The canonical "distributed ML as aggregation"
    shape (the scale story): at 100 TB the fit costs exactly one map-side-combined
    shuffle of 10 numbers per group — no gradient iterations, no
    driver-side matrix library.

    Determinism: inputs quantize to exact ints (cents / basis points);
    all Gram sums are decimal(38,0) — exact and commutative, so
    partial-aggregation order can't matter; the decimal→double casts
    and the Cramer op tree are format-template-shared with the oracle,
    so both engines evaluate the identical IEEE expression DAG."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x1"),
        (F.col("l_discount").cast("decimal(6,4)") * 10000)
        .cast("bigint")
        .alias("x2"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = m.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dec("x1")).alias("s1s"),
        F.sum(dec("x2")).alias("s2s"),
        F.sum(dec("y")).alias("sys"),
        F.sum(dec("x1") * F.col("x1")).alias("s11s"),
        F.sum(dec("x1") * F.col("x2")).alias("s12s"),
        F.sum(dec("x2") * F.col("x2")).alias("s22s"),
        F.sum(dec("x1") * F.col("y")).alias("s1ys"),
        F.sum(dec("x2") * F.col("y")).alias("s2ys"),
        F.sum(dec("y") * F.col("y")).alias("syys"),
    )
    d = _OLS_DET.format(**_OLS_VARS)
    d0 = _OLS_DET0.format(**_OLS_VARS)
    d1 = _OLS_DET1.format(**_OLS_VARS)
    d2 = _OLS_DET2.format(**_OLS_VARS)
    v = _OLS_VARS
    r2 = (
        "1 - ({syy} - ({d0} / {d}) * {sy} - ({d1} / {d}) * {s1y}"
        " - ({d2} / {d}) * {s2y})"
        " / ({syy} - {sy} * {sy} / {n})"
    ).format(d=d, d0=d0, d1=d1, d2=d2, **v)
    from series_tiempo_ar_scraping_spark.registry import det_round_sql as drs

    return g.selectExpr(
        "l_returnflag",
        "n",
        f"{drs(d0 + ' / ' + d, 6)} AS b0",
        f"{drs(d1 + ' / ' + d, 6)} AS b1",
        f"{drs(d2 + ' / ' + d, 6)} AS b2",
        f"{drs(r2, 6)} AS r2",
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (BI family)
# ---------------------------------------------------------------------------

_RFM_SEGMENT_CASE = """
    CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
           THEN 'champion'
         WHEN r_score >= 3 AND f_score >= 4 THEN 'loyal'
         WHEN m_score >= 4 THEN 'big_spender'
         WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
         WHEN r_score <= 2 THEN 'hibernating'
         ELSE 'regular' END
"""


@register(
    "rfm_customer_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE)
                        FROM orders)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT r.*,
             COUNT(*) OVER (ORDER BY recency_days) AS cum_r,
             COUNT(*) OVER (ORDER BY frequency) AS cum_f,
             COUNT(*) OVER (ORDER BY monetary_cents) AS cum_m,
             (SELECT COUNT(*) FROM rfm) AS n
      FROM rfm r
    ),
    sc AS (
      SELECT custkey, recency_days, frequency, monetary_cents,
             CAST(6 - (cum_r * 5 + n - 1) // n AS INT) AS r_score,
             CAST((cum_f * 5 + n - 1) // n AS INT) AS f_score,
             CAST((cum_m * 5 + n - 1) // n AS INT) AS m_score
      FROM s
    )
    SELECT custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           frequency,
           CAST(monetary_cents AS DOUBLE) / 100 AS monetary,
           r_score, f_score, m_score,
           {_RFM_SEGMENT_CASE} AS segment
    FROM sc
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — THE
    classic customer-base scoring: each dimension maps to a 1-5 score
    (5 best: most recent, most orders, most spend), combined into named
    segments (champion / loyal / big_spender / at_risk / hibernating /
    regular). Ties share a score by construction: the quintile of a
    metric VALUE is ceil(5·cum/n) of its inclusive cumulative count, so
    equal values can never straddle a boundary (the determinism trap in
    ntile()).

    Scale shape (r14, guide §2.4): the three quantile scales share ONE
    pass — the per-customer frame melts to a (metric, value) long frame
    whose per-(metric, value) counts run through a single two-phase
    prefix sum with a per-metric reset (one range exchange, one local
    window, one carry — the former shape paid three of each), and the
    per-metric (value, score) lookups are filters of the one
    checkpointed score frame. recency/frequency lookups are genuinely
    tiny — broadcast; monetary cents are near-distinct (the score frame
    scales with the customer count), so that join must stay a shuffle
    join at fleet scale. The per-customer frame itself is one orders
    aggregate. Determinism: day counts, order counts, and cent sums
    are exact ints; ceiling division is ``(cum*5 + n - 1) DIV n``
    (positive operands — the Spark DIV vs DuckDB // guard); the only
    double is cents/100 at the edge."""
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("ref_date")
    )
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_od"),
            F.count("*").alias("frequency"),
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff(F.col("ref_date"), F.col("last_od"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .localCheckpoint(eager=False)  # reused by the melt + join
    )
    n_frame = rfm.agg(F.count("*").cast("long").alias("n"))

    _METRICS = ("recency_days", "frequency", "monetary_cents")
    melted = rfm.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("m"), F.col(c).alias("v")
                    )
                    for i, c in enumerate(_METRICS)
                ]
            )
        ).alias("p")
    ).select("p.m", "p.v")
    counts = melted.groupBy("m", "v").agg(F.count("*").alias("cnt"))
    cum = two_phase_prefix_sum(
        counts, ["v"], "cnt", out_col="cum", reset_cols=["m"]
    )
    q = F.expr("(cum * 5 + n - 1) DIV n")
    score_lut = (
        cum.crossJoin(F.broadcast(n_frame))
        .select("m", "v", q.cast("int").alias("q"))
        .localCheckpoint(eager=False)  # read once per metric below
    )

    def scores(i: int, value_col: str, invert: bool) -> DataFrame:
        return score_lut.filter(F.col("m") == i).select(
            F.col("v").alias(value_col),
            (F.lit(6) - F.col("q") if invert else F.col("q"))
            .cast("int")
            .alias(f"{value_col}_score"),
        )

    r_sc = scores(0, "recency_days", invert=True)
    f_sc = scores(1, "frequency", invert=False)
    m_sc = scores(2, "monetary_cents", invert=False)
    # recency (~thousands of day values) and frequency (tens) are
    # genuinely tiny lookups — broadcast. monetary cents are near-
    # DISTINCT (the score frame scales with the customer count), so
    # that join must stay a shuffle join at fleet scale — no forced
    # broadcast; AQE may still choose one at small SF.
    out = (
        rfm.join(F.broadcast(r_sc), "recency_days")
        .join(F.broadcast(f_sc), "frequency")
        .join(m_sc, "monetary_cents")
        .select(
            "custkey",
            "recency_days",
            "frequency",
            (F.col("monetary_cents").cast("double") / 100).alias(
                "monetary"
            ),
            F.col("recency_days_score").alias("r_score"),
            F.col("frequency_score").alias("f_score"),
            F.col("monetary_cents_score").alias("m_score"),
        )
    )
    return out.withColumn("segment", F.expr(_RFM_SEGMENT_CASE))


# ---------------------------------------------------------------------------
# NDCG ranking evaluation (retrieval-eval family)
# ---------------------------------------------------------------------------

import math  # noqa: E402

_NDCG_K = 10
# Discount table 1/log2(i+1), micro-quantized ONCE in Python and embedded
# as integer literals in BOTH engines — no runtime transcendental at all,
# so there is nothing to diverge.
_NDCG_D = [
    int(math.floor(1000000 / math.log2(i + 1) + 0.5))
    for i in range(1, _NDCG_K + 1)
]
_NDCG_PREFIX = [0]
for _d in _NDCG_D:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _d)

from series_tiempo_ar_scraping_spark.sqlfrags import _COS64_SQL  # noqa: E402


@register(
    "ndcg_ranking_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS nid,
             q.label AS qlabel, v.label AS nlabel,
             {_COS64_SQL.format(a='q.embedding', b='v.embedding')} AS sim
      FROM q JOIN embeddings v ON v.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, qlabel, nlabel,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, nid) AS rk
      FROM scored
    ),
    dc AS (
      SELECT query_id, MAX(qlabel) AS qlabel,
             CAST(SUM(CASE WHEN nlabel = qlabel
                           THEN ({_NDCG_D})[rk] ELSE 0 END)
               AS BIGINT) AS dcg_micro
      FROM ranked WHERE rk <= {_NDCG_K}
      GROUP BY query_id
    ),
    pool AS (
      SELECT label, CAST(COUNT(*) - 1 AS BIGINT) AS n_rel_pool
      FROM embeddings GROUP BY 1
    )
    SELECT d.query_id, p.n_rel_pool, d.dcg_micro,
           CAST(({_NDCG_PREFIX})[
             CAST(LEAST(p.n_rel_pool, {_NDCG_K}) AS INT) + 1]
             AS BIGINT) AS idcg_micro,
           {det_round_sql(
               'CAST(d.dcg_micro AS DOUBLE) / NULLIF(('
               + str(_NDCG_PREFIX)
               + ')[CAST(LEAST(p.n_rel_pool, ' + str(_NDCG_K)
               + ') AS INT) + 1], 0)', 6)} AS ndcg_at_10
    FROM dc d JOIN pool p ON p.label = d.qlabel
    """,
)
def ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact-cosine retrieval ranking against label-match
    relevance: DCG discounts each relevant neighbor by 1/log2(rank+1);
    IDCG is the best achievable ordering given how many relevant items
    exist in the whole pool; NDCG = DCG/IDCG. The graded-ranking
    complement to ``ann_recall_eval``'s recall/MRR — the metric that
    notices WHERE in the top-k the relevant results sit.

    Determinism: the discount table is quantized to micro-ints ONCE in
    Python and embedded as literals in both engines (no runtime log2
    anywhere); DCG/IDCG are exact integer sums; NDCG is one double
    division, det-rounded. Scale shape: ranking reuses the brute-force
    cosine top-k (documented exact baseline — broadcast query side,
    WindowGroupLimit top-k); relevance and pool counts are broadcast
    label lookups."""
    from series_tiempo_ar_scraping_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    ranked = S.cosine_topk(
        emb, queries, k=_NDCG_K, exclude_self=True
    )
    labels = emb.select("vec_id", "label")
    j = (
        ranked.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nlabel"),
                )
            ),
            "neighbor_id",
        )
    )
    d_arr = F.array(*[F.lit(x) for x in _NDCG_D])
    dc = j.groupBy("query_id").agg(
        F.max("qlabel").alias("qlabel"),
        F.sum(
            F.when(
                F.col("nlabel") == F.col("qlabel"),
                F.element_at(d_arr, F.col("rank")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_micro"),
    )
    pool = emb.groupBy("label").agg(
        (F.count("*") - 1).cast("long").alias("n_rel_pool")
    )
    p_arr = F.array(*[F.lit(x) for x in _NDCG_PREFIX])
    idcg = F.element_at(
        p_arr,
        F.least(F.col("n_rel_pool"), F.lit(_NDCG_K)).cast("int") + 1,
    ).cast("bigint")
    return (
        dc.join(
            F.broadcast(pool), dc["qlabel"] == pool["label"]
        )
        .select(
            "query_id",
            "n_rel_pool",
            "dcg_micro",
            idcg.alias("idcg_micro"),
            det_round(
                F.col("dcg_micro").cast("double")
                / F.nullif(idcg, F.lit(0)),
                6,
            ).alias("ndcg_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder apportionment (BI allocation family)
# ---------------------------------------------------------------------------

_SEATS = 100


@register(
    "largest_remainder_apportionment",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_nationkey, n.n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
               AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    t AS (SELECT NULLIF(SUM(cents), 0) AS total_cents FROM rev),
    b AS (
      SELECT r.*, t.total_cents,
             (r.cents * {_SEATS}) // t.total_cents AS base_seats,
             r.cents * {_SEATS}
               - ((r.cents * {_SEATS}) // t.total_cents)
                 * t.total_cents AS rem_num
      FROM rev r, t
    ),
    s AS (SELECT SUM(base_seats) AS base_total FROM b),
    rk AS (
      SELECT b.*, s.base_total,
             row_number() OVER (ORDER BY b.rem_num DESC, b.n_nationkey)
               AS rem_rank
      FROM b, s
    )
    SELECT n_nationkey AS nationkey, n_name AS nation,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           CAST(base_seats AS BIGINT) AS base_seats,
           CAST(rem_rank AS INT) AS rem_rank,
           CAST(base_seats + CASE WHEN rem_rank <= {_SEATS} - base_total
                                  THEN 1 ELSE 0 END AS BIGINT) AS seats
    FROM rk
    """,
)
def largest_remainder_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamilton / largest-remainder apportionment: allocate a fixed
    budget of 100 "seats" across nations proportionally to revenue —
    each nation gets floor(share·seats), and the leftover seats go to
    the largest fractional remainders. The exact-integer allocation
    shape behind budget splits, shard assignment, and sampling quotas
    (sums to EXACTLY the budget, no float drift).

    Scale shape: one fact aggregate to a 25-row nation frame; every
    subsequent step (totals, remainder rank) is scalar-frame math —
    the final window runs over the bounded dimension frame, never the
    facts. Determinism: all quotas are exact bigint products and
    truncating DIV (positive operands); remainders are exact; ties
    broken by nationkey."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_nationkey", "n_name")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    t = rev.agg(
        F.expr("NULLIF(SUM(cents), 0)").alias("total_cents")
    )
    b = rev.crossJoin(F.broadcast(t)).select(
        "*",
        F.expr(f"(cents * {_SEATS}) DIV total_cents").alias(
            "base_seats"
        ),
        F.expr(
            f"cents * {_SEATS}"
            f" - ((cents * {_SEATS}) DIV total_cents) * total_cents"
        ).alias("rem_num"),
    )
    s = b.agg(F.sum("base_seats").alias("base_total"))
    win = Window.orderBy(F.col("rem_num").desc(), F.col("n_nationkey"))
    rk = (
        b.crossJoin(F.broadcast(s))
        # 25-row dimension frame: the unpartitioned window is bounded
        .withColumn("rem_rank", F.row_number().over(win))
    )
    return rk.select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.col("base_seats").cast("long").alias("base_seats"),
        F.col("rem_rank").cast("int").alias("rem_rank"),
        (
            F.col("base_seats")
            + F.when(
                F.col("rem_rank")
                <= F.lit(_SEATS) - F.col("base_total"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    )


# ---------------------------------------------------------------------------
# Naive Bayes text classification (text-ML family)
# ---------------------------------------------------------------------------


@register(
    "naive_bayes_classify",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang,
             unnest({_toks_of_norm('text')}) AS token
      FROM documents
    ),
    dt AS (
      SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk GROUP BY 1, 2, 3
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tk),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    cls AS (
      SELECT lang AS cl,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS c_docs,
             CAST(COUNT(*) AS BIGINT) AS c_tokens
      FROM tk GROUP BY 1
    ),
    clx AS (
      SELECT cl, c_docs, c_tokens, v, n_docs,
             CAST(FLOOR(ln(CAST(c_docs AS DOUBLE) / n_docs)
                        * 1000000 + 0.5) AS BIGINT) AS prior_micro,
             CAST(FLOOR(ln(CAST(1 AS DOUBLE) / (c_tokens + v))
                        * 1000000 + 0.5) AS BIGINT) AS default_micro
      FROM cls, vocab, nd
    ),
    tc AS (
      SELECT lang AS cl, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk GROUP BY 1, 2
    ),
    lik AS (
      SELECT tc.cl, tc.token,
             CAST(FLOOR(ln(CAST(tc.cnt + 1 AS DOUBLE)
                           / (x.c_tokens + x.v))
                        * 1000000 + 0.5) AS BIGINT) AS lp_micro
      FROM tc JOIN clx x ON x.cl = tc.cl
    ),
    scored AS (
      SELECT d.doc_id, d.lang AS actual, x.cl,
             MAX(x.prior_micro)
               + SUM(d.c * COALESCE(l.lp_micro, x.default_micro))
               AS score_micro
      FROM dt d
      CROSS JOIN clx x
      LEFT JOIN lik l ON l.cl = x.cl AND l.token = d.token
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micro DESC, cl)
               AS rk
      FROM scored
    )
    SELECT doc_id, actual, cl AS predicted,
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(CASE WHEN cl = actual THEN 1 ELSE 0 END AS INT)
             AS is_correct
    FROM ranked WHERE rk = 1
    """,
)
def naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classification, trained and
    applied distributively: class priors and Laplace-smoothed token
    likelihoods come from counting aggregates; each document scores
    ln P(c) + Σ count(t)·ln P(t|c) per class and takes the argmax —
    text classification as pure join/aggregate dataflow (no model
    object, no driver-side fit). Complements ``lang_id``'s stopword
    heuristic with the actual generative classifier.

    Scale shape: train = two token aggregates; apply = the per-doc
    token-count frame cross-joined with the tiny class frame and
    broadcast-joined to the (class, token) likelihood table — map-side
    after the broadcasts; argmax is a per-doc window over |classes|
    rows. Determinism: every ln feeds on ONE division of exact ints
    and is micro-floored into bigint BEFORE the per-doc sum (exact,
    commutative); argmax ties break on class name."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(TX.normalize_text("text"))).alias("token"),
    )
    # Tokenize ONCE (r13): dt is the sufficient statistic for everything
    # downstream — vocab (distinct token), class totals (c_tokens =
    # Σc, c_docs = distinct doc_id) and the (class, token) counts
    # (cnt = Σc) are all exact rollups of it. Formerly vocab/cls/tc each
    # re-ran the regex tokenization + explode over the full corpus (4
    # passes); now one pass is checkpointed and the three aggregates
    # read the much smaller distinct-(doc,token) frame.
    dt = tk.groupBy("doc_id", "lang", "token").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)
    vocab = dt.agg(F.countDistinct("token").alias("v"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    cls = dt.groupBy(F.col("lang").alias("cl")).agg(
        F.countDistinct("doc_id").alias("c_docs"),
        F.sum("c").cast("long").alias("c_tokens"),
    )
    micro_ln = lambda num, den: F.floor(  # noqa: E731
        F.log(num.cast("double") / den) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    clx = (
        cls.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(nd))
        .select(
            "cl",
            "c_tokens",
            "v",
            micro_ln(F.col("c_docs"), F.col("n_docs")).alias(
                "prior_micro"
            ),
            micro_ln(
                F.lit(1), F.col("c_tokens") + F.col("v")
            ).alias("default_micro"),
        )
    )
    tc = dt.groupBy(F.col("lang").alias("cl"), "token").agg(
        F.sum("c").cast("long").alias("cnt")
    )
    lik = tc.join(F.broadcast(clx), "cl").select(
        "cl",
        "token",
        micro_ln(
            F.col("cnt") + 1, F.col("c_tokens") + F.col("v")
        ).alias("lp_micro"),
    )
    scored = (
        dt.crossJoin(
            F.broadcast(clx.select("cl", "prior_micro", "default_micro"))
        )
        # lik is (classes x vocabulary)-sized — vocab grows with the
        # corpus, so no broadcast hint; AQE decides (r12 audit)
        .join(lik, ["cl", "token"], "left")
        .groupBy("doc_id", F.col("lang").alias("actual"), "cl")
        .agg(
            (
                F.max("prior_micro")
                + F.sum(
                    F.col("c")
                    * F.coalesce(
                        F.col("lp_micro"), F.col("default_micro")
                    )
                )
            ).alias("score_micro")
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "cl"
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("cl").alias("predicted"),
            F.col("score_micro").cast("bigint").alias("score_micro"),
            F.when(F.col("cl") == F.col("actual"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Decision stump (distributed-ML family)
# ---------------------------------------------------------------------------

_STUMP_POS = ("1-URGENT", "2-HIGH")


@register(
    "decision_stump_split",
    oracle=f"""
    WITH m AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority IN
                    ('{_STUMP_POS[0]}', '{_STUMP_POS[1]}')
                  THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    vals AS (
      SELECT cents,
             CAST(SUM(pos) AS BIGINT) AS pos_cnt,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM m GROUP BY 1
    ),
    cum AS (
      SELECT cents,
             SUM(pos_cnt) OVER (ORDER BY cents) AS cum_p,
             SUM(cnt) OVER (ORDER BY cents) AS cum_t
      FROM vals
    ),
    tot AS (
      SELECT CAST(SUM(pos_cnt) AS BIGINT) AS p_tot,
             CAST(SUM(cnt) AS BIGINT) AS n_tot
      FROM vals
    ),
    sc AS (
      SELECT c.cents,
             cum_p AS p_l, cum_t - cum_p AS n_l, cum_t AS l,
             t.p_tot - cum_p AS p_r,
             (t.n_tot - cum_t) - (t.p_tot - cum_p) AS n_r,
             t.n_tot - cum_t AS r,
             t.n_tot,
             (cum_t * cum_t - cum_p * cum_p
              - (cum_t - cum_p) * (cum_t - cum_p))
               * (t.n_tot - cum_t)
             + ((t.n_tot - cum_t) * (t.n_tot - cum_t)
                - (t.p_tot - cum_p) * (t.p_tot - cum_p)
                - ((t.n_tot - cum_t) - (t.p_tot - cum_p))
                  * ((t.n_tot - cum_t) - (t.p_tot - cum_p)))
               * cum_t AS cost
      FROM cum c, tot t
      WHERE cum_t < t.n_tot
    )
    SELECT CAST(cents AS BIGINT) AS threshold_cents,
           CAST(cents AS DOUBLE) / 100 AS threshold,
           CAST(l AS BIGINT) AS n_left, CAST(p_l AS BIGINT) AS pos_left,
           CAST(r AS BIGINT) AS n_right,
           CAST(p_r AS BIGINT) AS pos_right,
           {det_round_sql(
               'CAST(cost AS DOUBLE) / (CAST(l AS DOUBLE) * r * n_tot)',
               6)} AS weighted_gini
    FROM sc
    ORDER BY cost, cents
    LIMIT 1
    """,
)
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree: find the price threshold that
    best splits urgent/high-priority orders from the rest by weighted
    Gini impurity — the inner loop of every distributed tree learner
    (XGBoost/LightGBM histogram split finding), expressed as one
    value-level aggregate + prefix sums + a global argmin.

    Scale shape: candidate thresholds are the DISTINCT price values
    (one aggregate), cumulative class counts come from the two-phase
    prefix sum (never a single-partition window over raw facts), and
    the argmin is a TakeOrdered(1). Determinism: the weighted-Gini
    comparison is done on the EXACT integer cross-multiplied cost
    (L²−pL²−nL²)·R + (R²−pR²−nR²)·L — bigint at bench scales (cast to
    decimal(38,0) beyond ~10⁶ rows per side); the reported impurity is
    one double division at the edge; ties break on the threshold."""
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.when(
            F.col("o_orderpriority").isin(*_STUMP_POS), 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    vals = m.groupBy("cents").agg(
        F.sum("pos").cast("long").alias("pos_cnt"),
        F.count("*").alias("cnt"),
    )
    # one range pass for both running sums (r13) — formerly two nested
    # calls paid two range exchanges + two checkpoints for the same data
    cum = two_phase_prefix_sum(
        vals, ["cents"], ["pos_cnt", "cnt"], out_col=["cum_p", "cum_t"]
    )
    tot = vals.agg(
        F.sum("pos_cnt").cast("long").alias("p_tot"),
        F.sum("cnt").cast("long").alias("n_tot"),
    )
    p_l = F.col("cum_p")
    l_ = F.col("cum_t")
    n_l = l_ - p_l
    r_ = F.col("n_tot") - l_
    p_r = F.col("p_tot") - p_l
    n_r = r_ - p_r
    cost = (l_ * l_ - p_l * p_l - n_l * n_l) * r_ + (
        r_ * r_ - p_r * p_r - n_r * n_r
    ) * l_
    sc = (
        cum.crossJoin(F.broadcast(tot))
        .filter(l_ < F.col("n_tot"))
        .select(
            "cents",
            l_.alias("l"),
            p_l.alias("p_l"),
            r_.alias("r"),
            p_r.alias("p_r"),
            F.col("n_tot"),
            cost.alias("cost"),
        )
    )
    return (
        sc.orderBy("cost", "cents")
        .limit(1)
        .select(
            F.col("cents").cast("long").alias("threshold_cents"),
            (F.col("cents").cast("double") / 100).alias("threshold"),
            F.col("l").cast("long").alias("n_left"),
            F.col("p_l").cast("long").alias("pos_left"),
            F.col("r").cast("long").alias("n_right"),
            F.col("p_r").cast("long").alias("pos_right"),
            det_round(
                F.col("cost").cast("double")
                / (
                    F.col("l").cast("double")
                    * F.col("r")
                    * F.col("n_tot")
                ),
                6,
            ).alias("weighted_gini"),
        )
    )


# ---------------------------------------------------------------------------
# k-core extraction (iterative graph family — peeling)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ORACLE_ROUNDS = 12  # converges in <=10 at gate scale; margin +2


def _kcore_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS MATERIALIZED (
      SELECT src AS id FROM edges
      WHERE src IN (SELECT id FROM {prev})
        AND dst IN (SELECT id FROM {prev})
      GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
    )"""


def _kcore_oracle() -> str:
    # pair construction mirrors queries_batch5._PAGERANK_EDGES_SQL
    # (basket upper-triangle, co-occurrence count >= 2) — keep lockstep
    rounds = ",".join(
        _kcore_round_sql(f"a{i}", f"a{i + 1}")
        for i in range(_KCORE_ORACLE_ROUNDS)
    )
    return f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    {rounds}
    SELECT e.src AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    WHERE e.src IN (SELECT id FROM a{_KCORE_ORACLE_ROUNDS})
      AND e.dst IN (SELECT id FROM a{_KCORE_ORACLE_ROUNDS})
    GROUP BY 1
    """


@register("graph_kcore_extraction", oracle=_kcore_oracle())
def graph_kcore_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (k=3) over the part co-occurrence graph by
    iterative peeling: repeatedly delete nodes with degree < k until
    the remainder is stable; report each surviving node with its
    within-core degree. The density-mining primitive behind community
    seeds, spam-cluster detection, and graph sparsification — the
    PEELING iterative shape (monotone shrinking vertex set), distinct
    from propagation (PageRank/CC/Bellman-Ford) and assignment
    (k-means) iterations.

    Scale shape: the symmetric edge list is checkpointed ONCE; each
    round is two semi joins (edge endpoints against the alive set) +
    one degree aggregate, with the alive frame checkpointed per round
    (O(1) plan size). Because the alive set only SHRINKS, convergence
    detection is just the count — one scalar action per round, no
    hash fingerprint needed. The oracle unrolls 12 rounds (gate scale
    converges in ≤10; extra rounds are idempotent). Determinism: all-integer end to end.
    Cites: Kiveris et al. SoCC'14 for the iterative discipline;
    Matula & Beck 1983 for k-core peeling."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        upper_triangle_pairs,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups per basket — no pre-distinct shuffle (r13)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("pb").alias("src"), F.col("pa").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    alive = edges.select(F.col("src").alias("id")).distinct()
    alive = alive.localCheckpoint(eager=False)
    prev_n = alive.count()
    for _ in range(30):
        surv = (
            edges.join(
                alive.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(
                alive.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=False)
        )
        n = surv.count()
        alive = surv
        if n == prev_n:  # monotone shrink: equal count == fixpoint
            break
        prev_n = n
    return (
        edges.join(
            alive.select(F.col("id").alias("src")), "src", "left_semi"
        )
        .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
        .groupBy(F.col("src").alias("part_id"))
        .agg(F.count("*").cast("long").alias("core_degree"))
    )
