"""Batch-7 queries (round 4): physical layout, curation completion,
behavioral analytics, and the ANSI-SQL parity surface.

- **Layout / data skipping**: the Z-value (Morton) computation is pure
  bit arithmetic, so DuckDB verifies every cell assignment; write-path
  effects (per-file footer spans, dynamic partition pruning, runtime
  bloom filters) are pinned by tests/test_layout.py against real parquet
  footers and physical plans.
- **Curation completion**: canonical selection after near-dup CC, the
  quality-filter funnel, and incremental (new-batch-vs-index) dedup.
- **Behavioral analytics**: ordered funnel conversion, cohort retention.
- **ANSI parity**: one SQL text executed verbatim by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.layout import (
    ZBITS,
    interleave_bits_sql,
    with_zvalue,
)
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    det_round,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table

# bucket = top 10 bits of the 32-bit Z-value -> at most 1024 buckets
_BUCKET_SHIFT = 2 * ZBITS - 10

_ZSQL = interleave_bits_sql("zx", "zy", ZBITS)


@register(
    "zorder_bucket_stats",
    oracle=f"""
    WITH base AS (
      SELECT o_totalprice AS price,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS dday
      FROM orders
    ),
    bounds AS (
      SELECT MIN(price) AS minp, MAX(price) AS maxp,
             MIN(dday) AS mind, MAX(dday) AS maxd
      FROM base
    ),
    grid AS (
      SELECT price, dday,
             CASE WHEN maxp = minp THEN 0 ELSE CAST(FLOOR(
               (price - minp) * {float(2 ** ZBITS - 1)} / (maxp - minp)
             ) AS BIGINT) END AS zx,
             CASE WHEN maxd = mind THEN 0 ELSE CAST(FLOOR(
               (CAST(dday AS DOUBLE) - CAST(mind AS DOUBLE))
               * {float(2 ** ZBITS - 1)}
               / (CAST(maxd AS DOUBLE) - CAST(mind AS DOUBLE))
             ) AS BIGINT) END AS zy
      FROM base CROSS JOIN bounds
    ),
    zed AS (SELECT price, dday, ({_ZSQL}) AS zv FROM grid)
    SELECT zv >> {_BUCKET_SHIFT} AS zbucket,
           COUNT(*) AS n,
           CAST(MIN(price) AS DOUBLE) AS min_price,
           CAST(MAX(price) AS DOUBLE) AS max_price,
           MIN(dday) AS min_day,
           MAX(dday) AS max_day
    FROM zed GROUP BY 1
    """,
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order cell assignment, hash-oracled: scale (o_totalprice,
    orderdate-days) onto a 2^16 grid, Morton-interleave the bits with
    pure Catalyst shift/mask expressions, and report per-Z-bucket counts
    and the min/max footprint of each dimension — exactly the zone-map
    content a clustered file would carry. The min-max bounds come from
    ONE 1-row aggregate broadcast back (no window over the fact table);
    everything else is a map-side expression plus one bounded-cardinality
    hash aggregate (≤1024 buckets), so the shuffle is independent of the
    input size. The write-path twin (`write_zordered`) range-partitions
    on this value; tests/test_layout.py proves the resulting parquet
    footers have tight per-file spans in BOTH dimensions."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").alias("price"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("dday"),
    )
    zed = with_zvalue(base, F.col("price"), F.col("dday").cast("double"))
    return zed.groupBy(
        F.shiftright(F.col("zv"), _BUCKET_SHIFT).alias("zbucket")
    ).agg(
        F.count("*").alias("n"),
        F.min("price").cast("double").alias("min_price"),
        F.max("price").cast("double").alias("max_price"),
        F.min("dday").alias("min_day"),
        F.max("dday").alias("max_day"),
    )


# ---------------------------------------------------------------------------
# Curation completion: canonical selection after dedup + the filter funnel.
# Fragments come from queries_llm so both engines share one derivation.
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _NEAR_CORPUS_SQL,
    _QUALITY_SQL,
    _TOKS_SQL,
    _cc_oracle,
)


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH comps AS ({{cc}}),
    corpus AS ({_NEAR_CORPUS_SQL}),
    q AS ({_QUALITY_SQL}),
    j AS (
      SELECT c.doc_id, c.component_id, q.quality
      FROM comps c JOIN q USING (doc_id)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY component_id ORDER BY quality DESC, doc_id ASC
      ) AS rk
      FROM j
    )
    SELECT component_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc_id,
           CAST(MAX(CASE WHEN rk = 1 THEN quality END) AS DOUBLE)
             AS canonical_quality,
           COUNT(*) AS n_members
    FROM r GROUP BY 1
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that makes dedup actionable: collapse each near-dup
    component to ONE kept document, chosen by quality (desc, doc_id as
    the deterministic tiebreak — SURVEY §7 hard part (c)). Composition:
    connected components (min-label over LSH+Jaccard edges) ⋈ per-doc
    quality scores, then a per-component row_number — components are
    near-dup clusters (tiny by construction), so the window sort is
    bounded per key; the output is one row per cluster, the exact frame
    a curation pipeline anti-joins against the corpus to drop dups."""
    from series_tiempo_ar_scraping_spark.queries_llm import (
        _near_corpus,
        dedup_connected_components,
    )

    comps = dedup_connected_components(spark, sf_dir)
    quality = _near_corpus(spark, sf_dir).select(
        "doc_id",
        det_round(TX.quality_score(F.col("text")), 4).alias("quality"),
    )
    j = comps.join(quality, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    r = j.withColumn("rk", F.row_number().over(w))
    return r.groupBy("component_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
            "canonical_doc_id"
        ),
        F.max(F.when(F.col("rk") == 1, F.col("quality")))
        .cast("double")
        .alias("canonical_quality"),
        F.count("*").alias("n_members"),
    )


# _cc_oracle() is itself a WITH RECURSIVE statement; splice it in as the
# comps subquery (nested CTEs are legal in DuckDB subselects).
ORACLES["dedup_keep_canonical"] = ORACLES["dedup_keep_canonical"].format(
    cc=_cc_oracle()
)


@register(
    "curation_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, lang, {_TOKS_SQL.format(c='text')} AS toks,
             length(text) AS n_chars
      FROM documents
    ),
    h AS (
      SELECT doc_id, lang, n_chars, len(toks) AS n_toks,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct
      FROM t
    ),
    staged AS (
      SELECT CASE
        WHEN n_chars < 120 THEN '1_too_short'
        WHEN lang NOT IN ('en', 'es') THEN '2_lang_filter'
        WHEN CAST(punct AS DOUBLE) / greatest(n_chars, 1) > 0.04
          THEN '3_punct_heavy'
        WHEN n_toks < 25 THEN '4_too_few_tokens'
        ELSE '5_kept' END AS stage
      FROM h
    )
    SELECT stage, COUNT(*) AS n_docs FROM staged GROUP BY 1
    """,
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel with reason attribution: every document is
    assigned the FIRST rule that rejects it (ordered CASE — identical
    rule order in both engines), so the per-stage counts read as a
    drop-off funnel and rule changes are reviewable as count diffs. One
    map-side projection plus a ≤5-group aggregate: no shuffle of the
    corpus at any scale. Threshold comparisons divide the same integers
    in IEEE double on both engines, so stage assignment is exact."""
    docs = load_table(spark, sf_dir, "documents")
    f = TX.quality_features(F.col("text"))
    stage = (
        F.when(f["n_chars"] < 120, "1_too_short")
        .when(~F.col("lang").isin("en", "es"), "2_lang_filter")
        .when(f["punct_ratio"] > 0.04, "3_punct_heavy")
        .when(f["n_tokens"] < 25, "4_too_few_tokens")
        .otherwise("5_kept")
    )
    return docs.select(stage.alias("stage")).groupBy("stage").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing index — the ingest-cycle shape.
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.operators import dedup as D  # noqa: E402
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _SHINGLES_SQL,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _toks_of_norm,
)

# The planted new batch: exact copies, near copies (prefix strip), and
# novel docs whose text is hash-derived gibberish (identical md5 output in
# both engines, guaranteed shingle-disjoint from real text).
_NEW_BATCH_SQL = """
      SELECT doc_id + 200000 AS new_id, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 300000 AS new_id, substr(text, 13) AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 400000 AS new_id,
             'novel doc ' || md5(text) || ' ' || md5(text || 'x') || ' tail'
               AS text
      FROM documents WHERE doc_id % 11 = 3
"""

_JAC_SQL = (
    "CAST(FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    " / greatest(len(list_distinct(a.shingles || b.shingles)), 1)"
    " * 10000 + 0.5) / 10000 AS DOUBLE)"
)


@register(
    "incremental_dedup",
    oracle=f"""
    WITH idx AS (SELECT doc_id, text FROM documents),
    newb AS ({_NEW_BATCH_SQL}),
    exact AS (
      SELECT n.new_id, MIN(i.doc_id) AS match_id
      FROM newb n JOIN idx i ON md5(n.text) = md5(i.text)
      GROUP BY 1
    ),
    surv AS (
      SELECT n.* FROM newb n LEFT JOIN exact e USING (new_id)
      WHERE e.new_id IS NULL
    ),
    shn AS (
      SELECT new_id, {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM surv
    ),
    shi AS (
      SELECT doc_id, {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM idx
    ),
    sign AS (SELECT new_id, {_minhash_sig_sql()} FROM shn),
    sigi AS (SELECT doc_id, {_minhash_sig_sql()} FROM shi),
    bn AS (
      SELECT new_id, band.* FROM sign,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()}) v(band_idx, band_key)) band
    ),
    bi AS (
      SELECT doc_id, band.* FROM sigi,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()}) v(band_idx, band_key)) band
    ),
    cand AS (
      SELECT DISTINCT bn.new_id, bi.doc_id AS match_id
      FROM bn JOIN bi
        ON bn.band_idx = bi.band_idx AND bn.band_key = bi.band_key
    ),
    scored AS (
      SELECT c.new_id, c.match_id, {_JAC_SQL} AS jac
      FROM cand c
      JOIN shn a ON a.new_id = c.new_id
      JOIN shi b ON b.doc_id = c.match_id
    ),
    near AS (
      SELECT new_id, match_id, jac FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY new_id ORDER BY jac DESC, match_id ASC
        ) AS rk
        FROM scored WHERE jac >= 0.3
      ) WHERE rk = 1
    )
    SELECT n.new_id,
           CASE WHEN e.new_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.new_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS verdict,
           COALESCE(e.match_id, nr.match_id) AS match_id,
           nr.jac AS jac
    FROM newb n
    LEFT JOIN exact e USING (new_id)
    LEFT JOIN near nr USING (new_id)
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-cycle dedup: classify every NEW document against the
    existing corpus as exact_dup / near_dup / novel without ever
    re-deduping the index against itself. Stage 1 drops exact copies by
    content-hash join (at scale: a fingerprint store lookup). Stage 2
    runs MinHash-LSH of the survivors against the index's banded
    signatures — new side drives the bucket join, so per-cycle cost
    scales with the batch, not the 100 TB corpus — then verifies
    candidates with exact n-gram Jaccard and picks the best match
    deterministically (jac desc, match_id asc). Novel docs are planted
    as md5-derived gibberish so both engines agree on the corpus
    byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_new = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("new_id"), "text"
    )
    near_new = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("new_id"),
        F.expr("substring(text, 13)").alias("text"),
    )
    novel_new = docs.filter(F.col("doc_id") % 11 == 3).select(
        (F.col("doc_id") + 400000).alias("new_id"),
        F.concat(
            F.lit("novel doc "), F.md5("text"), F.lit(" "),
            F.md5(F.concat(F.col("text"), F.lit("x"))), F.lit(" tail"),
        ).alias("text"),
    )
    # r14 (guide §5): newb is a 3-branch filtered union of the docs
    # scan with THREE consumers (the exact-hash join, the anti-join
    # survivor frame, the final verdict assembly) and exact has two —
    # un-checkpointed, each consumer re-executed the union (up to 9
    # documents scans in one execution). Lazy checkpoints materialize
    # each once inside the first job that touches it.
    newb = (
        exact_new.unionByName(near_new)
        .unionByName(novel_new)
        .localCheckpoint(eager=False)
    )

    exact = (
        newb.select("new_id", F.md5("text").alias("_h"))
        .join(docs.select(F.md5("text").alias("_h"), "doc_id"), "_h")
        .groupBy("new_id")
        .agg(F.min("doc_id").alias("match_id"))
        .localCheckpoint(eager=False)
    )
    surv = newb.join(exact, "new_id", "left_anti")

    # Shingle each side ONCE and feed signatures + the verify join from
    # the same materialized frame — BOTH halves of the dedup_ngram_jaccard
    # lesson: tokens materialize in their own projection first (inlining
    # the tokenizer into shingles_from_tokens re-runs the regex per
    # element), then the shingle frame checkpoints.
    def _shingled(df, id_name):
        toked = df.select(
            id_name,
            TX.tokens(TX.normalize_text(F.col("text"))).alias("_toks"),
        )
        return toked.select(
            id_name,
            TX.shingles_from_tokens(F.col("_toks"), 3).alias("shingles"),
        ).localCheckpoint(eager=False)

    shn = _shingled(surv, "new_id")
    shi = _shingled(docs, "doc_id")
    sign = D.minhash_signatures_from_shingles(shn, id_col="new_id")
    sigi = D.minhash_signatures_from_shingles(shi, id_col="doc_id")
    cand = D.incremental_match_candidates(sign, sigi).select(
        "new_id", F.col("doc_id").alias("match_id")
    )

    scored = (
        cand.join(shn.select("new_id", F.col("shingles").alias("sh_a")), "new_id")
        .join(
            shi.select(F.col("doc_id").alias("match_id"),
                       F.col("shingles").alias("sh_b")),
            "match_id",
        )
        .select(
            "new_id", "match_id",
            det_round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= 0.3)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jac"), F.asc("match_id")
    )
    near = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("new_id", F.col("match_id").alias("near_match_id"), "jac")
    )

    return (
        newb.select("new_id")
        .join(exact, "new_id", "left")
        .join(near, "new_id", "left")
        .select(
            "new_id",
            F.when(F.col("match_id").isNotNull(), "exact_dup")
            .when(F.col("near_match_id").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("verdict"),
            F.coalesce("match_id", "near_match_id").alias("match_id"),
            "jac",
        )
    )


# ---------------------------------------------------------------------------
# Behavioral analytics: ordered funnels + cohort retention.
# ---------------------------------------------------------------------------


@register(
    "event_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS mv FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS mc
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.mv
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS mp
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.mc
      GROUP BY 1
    )
    SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 2, 'view>click', COUNT(*) FROM c
    UNION ALL
    SELECT 3, 'view>click>purchase', COUNT(*) FROM p
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose first view precedes a click that
    precedes a purchase — the sequence constraint is the point (a plain
    GROUP BY set-intersection would count out-of-order users). Shape:
    three per-user min-aggregates chained by user-keyed joins, each a
    hash aggregate + one co-partitioned shuffle on user_id — no window
    over raw events, no per-user sort. At 100 TB each stage's frame is
    |users|, not |events|, after the first map-side combine."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("mv"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("mv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("mc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("mc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("mp"))
    )
    return (
        v.agg(F.lit(1).alias("step"), F.lit("view").alias("step_name"),
              F.count("*").alias("n_users"))
        .unionByName(
            c.agg(F.lit(2).alias("step"),
                  F.lit("view>click").alias("step_name"),
                  F.count("*").alias("n_users"))
        )
        .unionByName(
            p.agg(F.lit(3).alias("step"),
                  F.lit("view>click>purchase").alias("step_name"),
                  F.count("*").alias("n_users"))
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    active AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS w
      FROM events
    )
    SELECT f.cohort_week,
           date_diff('day', f.cohort_week, a.w) // 7 AS week_offset,
           COUNT(*) AS n_active
    FROM active a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted in every later week they reappear. Two aggregates (first-seen
    per user; distinct user-weeks) joined on user_id and re-aggregated —
    the per-user frames are |users|-sized after map-side combine, and the
    offset arithmetic is exact integer day math (both week bounds are
    Mondays, so the difference is a clean multiple of 7)."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("w"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# ANSI-SQL parity surface: one SQL text, two engines.
# ---------------------------------------------------------------------------

_ANSI_SHARED_SQL = """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
             AS total_revenue,
           CAST(RANK() OVER (
             PARTITION BY CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
             ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2)))
                           AS DOUBLE) DESC, n_name ASC
           ) AS BIGINT) AS revenue_rank
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
"""


@register("sql_ansi_shared", oracle=_ANSI_SHARED_SQL)
def sql_ansi_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``spark.sql`` surface, proven by construction: this query's
    implementation executes the EXACT SQL text the DuckDB oracle runs —
    one ANSI string (joins, decimal-exact aggregation, windowed RANK
    with deterministic tiebreak), zero dialect forks. Registers the
    tables as temp views and hands the text to Catalyst; the planner
    still broadcasts the dims and partial-aggregates exactly as the
    DataFrame variants do, because it is the same optimizer underneath.
    A user who prefers SQL over the DataFrame API gets the entire engine
    through this door."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_ANSI_SHARED_SQL)


# ---------------------------------------------------------------------------
# Graph metrics over the near-dup graph.
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _neardup_edges_ctes,
)


@register(
    "graph_triangle_stats",
    oracle=f"""
    WITH {_neardup_edges_ctes()},
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM verified e1
      JOIN verified e2 ON e2.doc_a = e1.doc_b
      JOIN verified e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    deg AS (
      SELECT id, COUNT(*) AS d FROM (
        SELECT doc_a AS id FROM verified
        UNION ALL
        SELECT doc_b AS id FROM verified
      ) GROUP BY 1
    ),
    wedge AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
             COUNT(*) AS n_nodes
      FROM deg
    )
    SELECT (SELECT COUNT(*) FROM verified) AS n_edges,
           w.n_nodes,
           t.n_triangles,
           w.n_wedges,
           CAST(FLOOR(CASE WHEN w.n_wedges > 0
                 THEN 3.0 * t.n_triangles / w.n_wedges ELSE 0.0 END
                 * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS clustering_coeff
    FROM tri t, wedge w
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    verified near-dup graph — the standard distributed formulation: with
    edges oriented doc_a < doc_b, each triangle a<b<c is found exactly
    once by joining (a,b)⋈(b,c) and closing with (a,c); wedges come from
    the degree frame (sum of C(d,2)). The edge list is derived ONCE
    (checkpointed) and reused by all three joins — at corpus scale the
    orientation bounds each join's fan-out by the max out-degree of the
    ordering, the classic skew guard. Near-dup clusters are cliques, so
    planted duplicates show up as a high clustering coefficient."""
    from series_tiempo_ar_scraping_spark.queries_llm import (
        dedup_ngram_jaccard,
    )

    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    deg = (
        edges.select(F.col("doc_a").alias("id"))
        .unionAll(edges.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    wedge = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
        F.count("*").alias("n_nodes"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    coeff = F.when(
        F.col("n_wedges") > 0,
        F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
    ).otherwise(F.lit(0.0))
    return (
        n_edges.crossJoin(wedge)
        .crossJoin(tri)
        .select(
            "n_edges", "n_nodes", "n_triangles", "n_wedges",
            det_round(coeff, 6).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization ANN (ADC) — hash-oracled.
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.operators import similarity as S  # noqa: E402

_PQ_SUB = 16  # 64-dim / 4 subspaces


def _pq_l2_sql(a: str, b: str, m: int) -> str:
    off = m * _PQ_SUB
    x = f"CAST({a}[{off} + i] AS DOUBLE)"
    y = f"CAST({b}[{off} + i] AS DOUBLE)"
    return (
        f"list_sum(list_transform(generate_series(1, {_PQ_SUB}),"
        f" i -> ({x} - {y}) * ({x} - {y})))"
    )


@register(
    "pq_ann_topk",
    oracle=f"""
    WITH cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             embedding AS cvec
      FROM embeddings WHERE vec_id % 37 = 1 AND vec_id < 37 * 16
    ),
    pd AS (
      SELECT e.vec_id, cb.centroid_id,
             {", ".join(f"{_pq_l2_sql('e.embedding', 'cb.cvec', m)} AS d{m}" for m in range(4))}
      FROM embeddings e CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id,
             {", ".join(f"(MIN({{'d': d{m}, 'c': centroid_id}})).c AS code{m}" for m in range(4))}
      FROM pd GROUP BY vec_id
    ),
    qd AS (
      SELECT e.vec_id AS query_id, cb.centroid_id,
             {", ".join(f"{_pq_l2_sql('e.embedding', 'cb.cvec', m)} AS qd{m}" for m in range(4))}
      FROM embeddings e CROSS JOIN cb WHERE e.vec_id < 8
    ),
    qt AS (
      SELECT query_id,
             {", ".join(f"list_transform(list_sort(list({{'c': centroid_id, 'q': qd{m}}})), s -> s.q) AS t{m}" for m in range(4))}
      FROM qd GROUP BY query_id
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             t0[code0 + 1] + t1[code1 + 1] + t2[code2 + 1] + t3[code3 + 1]
               AS approx_dist
      FROM codes c CROSS JOIN qt q
      WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist, neighbor_id
      ) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, rk AS rank,
           CAST(FLOOR(approx_dist * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS approx_dist
    FROM ranked WHERE rk <= 5
    """,
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, hash-oracled end to end: corpus vectors
    collapse to 4 subspace codes against a deterministic codebook
    (argmin by (L2², centroid) struct-min — ties break identically in
    both engines), queries precompute 4×K ADC tables, and scoring is
    four array lookups per candidate instead of a 64-dim dot product.
    This is THE memory/compute shape for warehouse-scale ANN (IVF-PQ):
    the search structure is bytes per vector, the codebook broadcasts,
    and per-pair cost is O(M). The oracle reproduces codebook, codes,
    tables and ranking exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = S.pq_topk(emb, queries, dim=64, k=5)
    return out.withColumn("approx_dist", det_round(F.col("approx_dist"), 6))


from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _COS64_SQL as _COS64,
)


@register(
    "ivfpq_ann_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS list_id, embedding AS lvec
      FROM embeddings WHERE vec_id % 61 = 0
    ),
    assigned AS (
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.list_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS64.format(a='v.embedding', b='c.lvec')} DESC,
                          c.list_id
               ) AS crank
        FROM embeddings v, cent c
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT query_id, list_id FROM (
        SELECT q.vec_id AS query_id, c.list_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS64.format(a='q.embedding', b='c.lvec')} DESC,
                          c.list_id
               ) AS crank
        FROM embeddings q, cent c WHERE q.vec_id < 8
      ) WHERE crank <= 2
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             embedding AS cvec
      FROM embeddings WHERE vec_id % 37 = 1 AND vec_id < 37 * 16
    ),
    pd AS (
      SELECT e.vec_id, cb.centroid_id,
             {", ".join(f"{_pq_l2_sql('e.embedding', 'cb.cvec', m)} AS d{m}" for m in range(4))}
      FROM embeddings e CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id,
             {", ".join(f"(MIN({{'d': d{m}, 'c': centroid_id}})).c AS code{m}" for m in range(4))}
      FROM pd GROUP BY vec_id
    ),
    qd AS (
      SELECT e.vec_id AS query_id, cb.centroid_id,
             {", ".join(f"{_pq_l2_sql('e.embedding', 'cb.cvec', m)} AS qd{m}" for m in range(4))}
      FROM embeddings e CROSS JOIN cb WHERE e.vec_id < 8
    ),
    qt AS (
      SELECT query_id,
             {", ".join(f"list_transform(list_sort(list({{'c': centroid_id, 'q': qd{m}}})), s -> s.q) AS t{m}" for m in range(4))}
      FROM qd GROUP BY query_id
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             t0[code0 + 1] + t1[code1 + 1] + t2[code2 + 1] + t3[code3 + 1]
               AS approx_dist
      FROM probes p
      JOIN assigned a ON a.list_id = p.list_id
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN qt ON qt.query_id = p.query_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist, neighbor_id
      ) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, rk AS rank,
           CAST(FLOOR(approx_dist * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS approx_dist
    FROM ranked WHERE rk <= 5
    """,
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the capstone composition and THE warehouse-scale ANN
    shape (FAISS-style): IVF coarse lists bound WHICH candidates are
    scored (each query probes its 2 nearest lists; the candidate set is
    |corpus|·nprobe/|lists|), PQ bounds WHAT scoring costs (4 ADC table
    lookups per candidate against byte codes). The oracle reproduces the
    full composition — list assignment, probes, codebook, codes, ADC
    tables, ranking — so both pruning layers are hash-checked at once."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 61 == 0)
    queries = emb.filter(F.col("vec_id") < 8)
    out = S.ivfpq_topk(emb, queries, centroids, dim=64, k=5, nprobe=2)
    return out.withColumn("approx_dist", det_round(F.col("approx_dist"), 6))


@register(
    "source_cap_sample",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    q AS ({_QUALITY_SQL}),
    scored AS (
      SELECT d.source, d.doc_id, q.quality
      FROM documents d JOIN q USING (doc_id)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY quality DESC, doc_id ASC
      ) AS rk
      FROM scored
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(MIN(CASE WHEN rk <= 10 THEN quality END) AS DOUBLE)
             AS kept_quality_floor
    FROM r GROUP BY 1
    """,
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source capping: keep at most 10 documents per source, best
    quality first (deterministic doc_id tiebreak) — the mix-balancing
    step that stops one crawl domain from dominating a training set.
    One window per source (bounded partitions, keyed shuffle) + one
    aggregate reporting kept counts and the per-source quality floor —
    the numbers a curation review reads before committing the cap."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.select(
        "doc_id",
        "source",
        det_round(TX.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    r = quality.withColumn("rk", F.row_number().over(w))
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("rk") <= 10, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.min(F.when(F.col("rk") <= 10, F.col("quality")))
        .cast("double")
        .alias("kept_quality_floor"),
    )
