"""Batch-15 queries: data-governance passes of a training-data platform.

Families (each entry hash-oracled; determinism per the batch-8/12
recipe — exact integers end to end, one det-rounded division max):

- PII detection: regex census of planted email/phone/SSN-shaped
  spans per corpus source — the pre-training privacy scrub every
  published dataset pipeline runs (C4, RefinedWeb, FineWeb all
  document one). The corpus PLANTS deterministic PII into the
  fixture text (both engines construct the identical string), so
  the detector has known ground truth at every scale.
- PII redaction: the matching rewrite pass — replace matched spans
  with typed placeholder tags, prove the redacted corpus via an
  order-free commutative-sum fingerprint and exact length deltas
  (the ``cdc_apply_roundtrip`` fingerprint discipline).
- Repetition quality filters (Gopher / Rae et al. 2021 family):
  per-document duplicate-trigram mass and token-diversity ratios
  with integer cross-multiplied thresholds — the
  repetition-pathology screen that catches boilerplate/spam docs
  plain length/stopword filters miss.
- Table profiling (ANALYZE-style): per-column null count / exact
  NDV / min / max in ONE aggregate scan per table, fanned out to
  long rows by a generator — the stats-collection pass that feeds
  CBO estimates and data-quality dashboards.

Regex portability: patterns use explicit character classes only (no
\\d, \\b, lookarounds) — the subset where Java regex (Spark) and RE2
(DuckDB) agree exactly, including for regexp_replace.

Reference parity: extends the reference's validation family
(reference/scrapers/base.py validate + reports) with the data-level
governance passes its published output catalogs would need next.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    PII_CORPUS_SQL,
    PII_PATTERNS,
    _hex60_seeded,
    _toks_of_norm,
)

# ---------------------------------------------------------------------------
# Planted-PII corpus (shared by detection + redaction; the pattern and
# corpus-SQL fragments live in sqlfrags, shared with the batch-17
# streaming monitor's oracle)
# ---------------------------------------------------------------------------

_PII_PATTERNS = PII_PATTERNS

# Deterministic planting: both engines append the IDENTICAL spans to
# the same docs (pure arithmetic on doc_id), so detection counts have
# arithmetic ground truth at every scale.
_PII_CORPUS_SQL = PII_CORPUS_SQL


def _pii_planted_text():
    """The planted-text Column (pure doc_id/text/source arithmetic) —
    shared by the batch corpus and the streaming monitor so both lanes
    plant the IDENTICAL spans."""
    did = F.col("doc_id")

    def lpad_num(mod: int, width: int):
        return F.lpad((did % mod).cast("string"), width, "0")

    return F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" tel +1-555-"), lpad_num(10000, 4)),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" id 900-"),
                lpad_num(100, 2),
                F.lit("-"),
                lpad_num(10000, 4),
            ),
        ).otherwise(F.lit("")),
    )


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", _pii_planted_text().alias("text")
    )


@register(
    "pii_detection_report",
    oracle=f"""
    WITH corpus AS ({_PII_CORPUS_SQL}),
    per_doc AS (
      SELECT source,
             {", ".join(
                 f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
                 for name, pat in _PII_PATTERNS
             )}
      FROM corpus
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(SUM(n_{name}) AS BIGINT) AS {name}_matches, "
               f"CAST(SUM(CASE WHEN n_{name} > 0 THEN 1 ELSE 0 END) "
               f"AS BIGINT) AS {name}_docs"
               for name, _ in _PII_PATTERNS
           )}
    FROM per_doc GROUP BY source
    """,
)
def pii_detection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII census per corpus source: match counts and affected-doc
    counts for email / phone / SSN-shaped spans over the planted
    corpus — the detection half of the privacy scrub (the rewrite is
    ``pii_redaction_audit``). Ground truth is arithmetic: doc_id
    multiples of 5/7/11 carry exactly one planted span each.

    Scale shape: pure map-side regex extraction (one pass over the
    text, no Python) into a per-source conditional-sum aggregate —
    the same one-scan contract as the expectation suite.
    Determinism: patterns stay in the Java/RE2 common subset
    (explicit classes, bounded quantifiers, no lookarounds) so both
    engines count the same spans; all outputs are exact counts."""
    corpus = _pii_corpus(spark, sf_dir)
    per_doc = corpus.select(
        "source",
        *[
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
            for name, pat in _PII_PATTERNS
        ],
    )
    aggs = [F.count("*").cast("long").alias("n_docs")]
    for name, _ in _PII_PATTERNS:
        aggs.append(
            F.sum(f"n_{name}").cast("long").alias(f"{name}_matches")
        )
        aggs.append(
            F.sum(F.when(F.col(f"n_{name}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"{name}_docs")
        )
    return per_doc.groupBy("source").agg(*aggs)


@register(
    "pii_redaction_audit",
    oracle=f"""
    WITH corpus AS ({_PII_CORPUS_SQL}),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_PII_PATTERNS[0][1]}',
                                '<EMAIL>', 'g'),
                 '{_PII_PATTERNS[1][1]}', '<PHONE>', 'g'),
               '{_PII_PATTERNS[2][1]}', '<SSN>', 'g') AS rtext,
             text
      FROM corpus
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS chars_before,
           CAST(SUM(len(rtext)) AS BIGINT) AS chars_after,
           CAST(SUM(CASE WHEN rtext <> text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_redacted,
           CAST(CAST(SUM(CAST({_hex60_seeded(31, "rtext")}
                         AS DECIMAL(38,0)))
                AS DECIMAL(38,0)) AS VARCHAR) AS redacted_fingerprint
    FROM red
    """,
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of the privacy scrub: replace every matched
    span with a typed placeholder tag and PROVE the redacted corpus —
    exact char-length deltas plus an order-free commutative sum of
    seeded 60-bit hashes over the redacted text (the
    ``cdc_apply_roundtrip`` fingerprint discipline: any engine
    divergence in even one replacement flips the sum).

    Scale shape: three chained map-side regexp_replace passes (no
    shuffle until the single 1-row aggregate); the fingerprint sum is
    map-side combinable. Replacement stays deterministic because the
    patterns sit in the Java/RE2 common subset (leftmost-longest
    agreement, no backrefs)."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    corpus = _pii_corpus(spark, sf_dir)
    rtext = F.col("text")
    for name, pat in _PII_PATTERNS:
        rtext = F.regexp_replace(
            rtext, pat, f"<{name.upper()}>"
        )
    red = corpus.select(
        "doc_id", "text", rtext.alias("rtext")
    )
    return red.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("chars_before"),
        F.sum(F.length("rtext")).cast("long").alias("chars_after"),
        F.sum(F.when(F.col("rtext") != F.col("text"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_redacted"),
        # VARCHAR, not DECIMAL(38): a decimal crosses the pandas
        # boundary as float64 and poisons whole-row dtype upcasting in
        # the comparator; the digit string is exact in both engines
        F.sum(hash64_seeded(F.col("rtext"), 31).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("redacted_fingerprint"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters
# ---------------------------------------------------------------------------

# Non-distinct trigram list (the dedup fragments deliberately
# list_distinct; repetition metrics need the multiset).
_TRIGRAMS_SQL = """
  list_transform(
    generate_series(0, greatest(len({t}) - 3, 0)),
    i -> concat_ws(' ', {t}[i+1], {t}[i+2], {t}[i+3]))
"""


@register(
    "gopher_repetition_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_toks_of_norm('text')} AS t
      FROM documents
    ),
    tri AS (
      SELECT doc_id, source, len(t) AS n_tokens,
             unnest({_TRIGRAMS_SQL.format(t='t')}) AS g
      FROM toks WHERE len(t) >= 3
    ),
    cnt AS (
      SELECT doc_id, source, n_tokens, g,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM tri GROUP BY 1, 2, 3, 4
    ),
    per_doc AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(c) AS BIGINT) AS total_tri,
             CAST(MAX(c) AS BIGINT) AS top_tri,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS dup_tri_mass,
             CAST(COUNT(*) AS BIGINT) AS distinct_tri
      FROM cnt GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN top_tri * 100 > 18 * total_tri
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged_top_trigram,
           CAST(SUM(CASE WHEN dup_tri_mass * 100 > 30 * total_tri
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged_dup_mass,
           CAST(SUM(CASE WHEN distinct_tri * 100 < 60 * total_tri
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged_low_diversity,
           CAST(SUM(dup_tri_mass) AS BIGINT) AS total_dup_mass,
           CAST(SUM(total_tri) AS BIGINT) AS total_trigrams
    FROM per_doc GROUP BY source
    """,
)
def gopher_repetition_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repetition-pathology screen (the Gopher / Rae et al. 2021 rule
    family): per document, the mass of duplicated trigrams, the share
    of the single most repeated trigram, and trigram diversity —
    flagged against fixed thresholds (top trigram > 18% of all
    trigrams; duplicate mass > 30%; distinct/total < 60%) and rolled
    up per corpus source. Catches boilerplate/spam documents that
    pass length and stopword filters. All comparisons are integer
    cross-multiplications — no ratio ever materializes. Documents
    under 3 tokens are gated out UPSTREAM (``n_tokens >= 3`` on both
    engines, r10 — closing the r9 COVERAGE edge): the real Gopher
    rules apply a minimum-length filter before the repetition screens,
    and without it a 1-2-token doc contributes one degenerate partial
    n-gram that always trips the top-trigram flag.

    Scale shape: tokenize once, explode the trigram MULTISET (the
    dedup family's distinct-shingle fragment deliberately doesn't
    apply here), count per (doc, gram) — the only shuffle — then two
    cheap grouped rollups. At corpus scale this rides the same
    shingle-kernel budget the probe measures (~2.4 MB/s/core).
    Determinism: every flag is an integer cross-multiplication of
    exact counts — no ratio ever materializes, nothing to round."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", TX.tokens(TX.normalize_text(F.col("text"))).alias("t")
    )
    idx = F.sequence(
        F.lit(0), F.greatest(F.size("t") - 3, F.lit(0))
    )
    tri = toks.filter(F.size("t") >= 3).select(
        "doc_id",
        "source",
        F.size("t").alias("n_tokens"),
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(F.col("t"), i + 1),
                    F.try_element_at(F.col("t"), i + 2),
                    F.try_element_at(F.col("t"), i + 3),
                ),
            )
        ).alias("g"),
    )
    cnt = tri.groupBy("doc_id", "source", "n_tokens", "g").agg(
        F.count("*").cast("long").alias("c")
    )
    per_doc = cnt.groupBy("doc_id", "source", "n_tokens").agg(
        F.sum("c").cast("long").alias("total_tri"),
        F.max("c").cast("long").alias("top_tri"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("dup_tri_mass"),
        F.count("*").cast("long").alias("distinct_tri"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("top_tri") * 100 > 18 * F.col("total_tri"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged_top_trigram"),
        F.sum(
            F.when(
                F.col("dup_tri_mass") * 100 > 30 * F.col("total_tri"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged_dup_mass"),
        F.sum(
            F.when(
                F.col("distinct_tri") * 100 < 60 * F.col("total_tri"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged_low_diversity"),
        F.sum("dup_tri_mass").cast("long").alias("total_dup_mass"),
        F.sum("total_tri").cast("long").alias("total_trigrams"),
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table profiling
# ---------------------------------------------------------------------------

# (column, typed min/max spelling). MIN/MAX run on the NATIVE type and
# only the aggregated result casts to text — stringifying first would
# turn them lexicographic ("99996" > "600000"). o_totalprice goes
# through the exact cents recipe (floor(x*100 + 0.5) as BIGINT) because
# double->string formatting is the one place Spark (shortest decimal
# repr) and DuckDB (binary value) legitimately disagree.
_PROFILE_COLS = (
    ("o_orderkey", "{c}"),
    ("o_custkey", "{c}"),
    ("o_orderstatus", "{c}"),
    ("o_orderpriority", "{c}"),
    ("o_orderdate", "CAST({c} AS DATE)"),
    ("o_totalprice", "CAST(FLOOR({c} * 100 + 0.5) AS BIGINT)"),
)


@register(
    "table_profile_report",
    oracle=f"""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {", ".join(
                 f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS nulls_{i}, "
                 f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_{i}, "
                 f"CAST(MIN({fmt.format(c=c)}) AS VARCHAR) AS min_{i}, "
                 f"CAST(MAX({fmt.format(c=c)}) AS VARCHAR) AS max_{i}"
                 for i, (c, fmt) in enumerate(_PROFILE_COLS)
             )}
      FROM orders
    )
    {" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nulls_{i} AS n_nulls, "
        f"ndv_{i} AS ndv, min_{i} AS min_value, max_{i} AS max_value "
        f"FROM agg"
        for i, (c, _) in enumerate(_PROFILE_COLS)
    )}
    """,
)
def table_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table: null count,
    exact NDV, and min/max (as text) for every column, computed in ONE
    aggregate scan and fanned out to long rows by a generator — the
    expectation-suite pattern applied to stats collection (feeds CBO
    estimates and quality dashboards; the HLL entries are its sketch
    twin for when exact NDV is too expensive).

    Scale shape: one scan, map-side combinable aggregates (NDV is the
    one shuffle-heavy term — COUNT(DISTINCT) expands per column; at
    fleet scale the HLL register path replaces it per SCALE.md).
    Determinism: min/max aggregate on the NATIVE type and cast to
    text only after (string-first would be lexicographic); the DOUBLE
    column goes through the exact cents recipe because
    double->string formatting is the one spot the engines
    legitimately diverge."""
    orders = load_table(spark, sf_dir, "orders")

    def typed(c: str, fmt: str) -> F.Column:
        if "FLOOR" in fmt:
            return F.floor(F.col(c) * 100 + 0.5).cast("long")
        if "DATE" in fmt:
            return F.col(c).cast("date")
        return F.col(c)

    # Six COUNT(DISTINCT) columns in ONE aggregate plan as an Expand
    # (one replica of every row per distinct column + one for the
    # plain aggregates -> a 7x-row full-width shuffle). Split (r13,
    # guide §2.3): the plain aggregates stay one scan; each NDV runs
    # as its own two-phase distinct aggregate (map-side partial dedup
    # of the SINGLE pruned column, so the exchange carries ~ndv rows,
    # not 7x corpus rows) and the seven 1-row results reassemble by
    # broadcast crossJoin. Each NDV subtree re-scans only its own
    # parquet column - ~the bytes of the one full-width scan the
    # Expand paid, without the multiplied shuffle.
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for i, (c, fmt) in enumerate(_PROFILE_COLS):
        aggs += [
            (F.count("*") - F.count(c)).cast("long").alias(f"nulls_{i}"),
            F.min(typed(c, fmt)).cast("string").alias(f"min_{i}"),
            F.max(typed(c, fmt)).cast("string").alias(f"max_{i}"),
        ]
    agg = orders.agg(*aggs)
    for i, (c, _) in enumerate(_PROFILE_COLS):
        agg = agg.crossJoin(
            F.broadcast(
                orders.agg(
                    F.countDistinct(c).cast("long").alias(f"ndv_{i}")
                )
            )
        )
    rows = agg.select(
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"nulls_{i}").alias("n_nulls"),
                        F.col(f"ndv_{i}").alias("ndv"),
                        F.col(f"min_{i}").alias("min_value"),
                        F.col(f"max_{i}").alias("max_value"),
                    )
                    for i, (c, _) in enumerate(_PROFILE_COLS)
                ]
            )
        ).alias("r"),
    )
    return rows.select(
        F.col("r.column_name").alias("column_name"),
        "n_rows",
        F.col("r.n_nulls").alias("n_nulls"),
        F.col("r.ndv").alias("ndv"),
        F.col("r.min_value").alias("min_value"),
        F.col("r.max_value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Inverted index build (retrieval lane)
# ---------------------------------------------------------------------------

_POSTINGS_CAP = 10


@register(
    "inverted_index_build",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS tok
      FROM documents
    ),
    tf AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(
             list_transform(
               list_sort(list(doc_id))[1:{_POSTINGS_CAP}],
               x -> CAST(x AS VARCHAR)),
             ',') AS postings_head
    FROM tf
    GROUP BY tok
    HAVING COUNT(*) >= 2
    """,
)
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the retrieval twin of the TF-IDF/BM25
    scorers: per token, document frequency, total term frequency, and
    the head of its sorted posting list (first 10 doc ids, joined as
    text so the hash comparator sees a scalar). Tokens with df < 2
    drop (singleton postings dominate the vocabulary but serve no
    lookup). This is the Spark-side index-construction pass a search/
    RAG platform runs before handing postings to a serving store.

    Scale shape: tokenize once, ONE (tok, doc) grouped count (the same
    shuffle BM25 pays), then a per-token row_number window CAPS which
    doc ids ever enter the list aggregate — the full posting list of a
    stop-word token never materializes in one reducer row (the classic
    hot-spot; a serving store ingests postings shard-by-shard anyway).
    df/total_tf stay exact over ALL postings. The window sorts on the
    same (tok) shuffle the aggregate already pays, so the cap costs no
    extra exchange. Postings are collected pre-sorted by the window
    order, so the head is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        ),
    )
    tf = toks.groupBy("tok", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    rn = F.row_number().over(
        Window.partitionBy("tok").orderBy("doc_id")
    )
    capped = tf.withColumn("rn", rn)
    return (
        capped.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("rn") <= _POSTINGS_CAP,
                                F.col("doc_id"),
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 2)
    )


# ---------------------------------------------------------------------------
# Deterministic histogram-quantile sketch
# ---------------------------------------------------------------------------

_HQ_BINS = 64
_HQ_QS = (50, 90, 99)


@register(
    "histogram_quantile_sketch",
    oracle=f"""
    WITH v AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v
    ),
    binned AS (
      SELECT CAST(((cents - lo) * {_HQ_BINS}) // (hi - lo + 1) AS BIGINT)
               AS bin,
             lo, hi, n
      FROM v, bounds
    ),
    hist AS (
      SELECT bin, lo, hi, n, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2, 3, 4
    ),
    cum AS (
      SELECT bin, lo, hi, n, c,
             SUM(c) OVER (ORDER BY bin) AS cum_c
      FROM hist
    )
    SELECT q AS quantile_pct,
           (SELECT MIN(lo + (bin * (hi - lo + 1)) // {_HQ_BINS})
            FROM cum
            WHERE cum_c * 100 >= q * n) AS est_cents,
           (SELECT MAX(n) FROM bounds) AS n_rows,
           (SELECT MAX((hi - lo + 1) // {_HQ_BINS} + 1) FROM bounds)
             AS bin_width_cents
    FROM (VALUES {", ".join(f"({q})" for q in _HQ_QS)}) t(q)
    """,
)
def histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable quantile sketch with DETERMINISTIC semantics: a fixed
    64-bin equi-width histogram over exact cents, quantile estimate
    = lower edge of the first bin whose cumulative count crosses q% —
    the answer is off by at most one bin width (pinned by an
    error-bound test against the exact two-phase quantile). The
    deterministic counterpart of t-digest/approx_percentile: histogram
    counts merge across shards by plain addition, so 1000 executors
    sketch independently and sum — and unlike approx_percentile the
    result is bit-identical everywhere (hash-oracled, not rows-only).

    Scale shape: one pass for bounds (min/max/count — map-side
    combinable), one pass to bin + count (64 cells total crossing
    the exchange), a 64-row cumulative window. Integer arithmetic
    end to end: bins and edges come from exact bigint cents via
    truncating division (same semantics both engines on non-negative
    operands)."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    bounds = v.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").cast("long").alias("n"),
    )
    binned = v.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"CAST(((cents - lo) * {_HQ_BINS}) DIV (hi - lo + 1) "
               "AS BIGINT)").alias("bin"),
        "lo",
        "hi",
        "n",
    )
    hist = binned.groupBy("bin", "lo", "hi", "n").agg(
        F.count("*").cast("long").alias("c")
    )
    cum = hist.select(
        "bin",
        "lo",
        "hi",
        "n",
        "c",
        F.sum("c")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
    )
    qs = spark.createDataFrame(
        [(q,) for q in _HQ_QS], "quantile_pct int"
    )
    est = (
        qs.join(
            F.broadcast(cum),
            F.col("cum_c") * 100 >= F.col("quantile_pct") * F.col("n"),
        )
        .groupBy("quantile_pct")
        .agg(
            F.min(
                F.col("lo")
                + F.expr(f"(bin * (hi - lo + 1)) DIV {_HQ_BINS}")
            ).alias("est_cents")
        )
    )
    scalar = bounds.select(
        "n",
        F.expr(f"(hi - lo + 1) DIV {_HQ_BINS} + 1").alias(
            "bin_width_cents"
        ),
    )
    return est.crossJoin(F.broadcast(scalar)).select(
        "quantile_pct",
        "est_cents",
        F.col("n").alias("n_rows"),
        "bin_width_cents",
    )
