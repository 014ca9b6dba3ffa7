"""Batch-10 queries: robust statistics, changepoints, cluster rollups,
and sketch calibration.

Four shapes a production series portal / curation pipeline runs that the
earlier batches stopped short of:

- robust per-series outliers (MAD — the median-based twin of
  ``series_anomaly_zscore``, immune to the outliers it hunts),
- offline changepoint detection (binary-segmentation first split),
- duplicate-CLUSTER accounting (the LSH pair list rolled up through
  connected components into a cluster-size census),
- MinHash estimator calibration (estimated vs exact Jaccard per
  candidate pair — the error the LSH design promises, measured).

Determinism recipe (repo standard, see queries_batch8): exact decimal /
bigint aggregates, ONE cast to double, identical expression trees in
both engines, rank-based (lower) medians instead of interpolated
percentiles — ``(a+b)/2`` interpolation is an engine-specific float
expression; the element at ``FLOOR((n+1)/2)`` is a value both engines
agree on bit-for-bit. Reference parity: extends the validation family of
reference/scrapers/validators.py (series-level QA) with the robust-stat
variants its pandas layer never had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import dedup as D
from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _ivf_trained_ctes,
    _kmeans_ctes,
    _COS64_SQL as _COS,
    _DAILY_SERIES_DDAY_SQL as _DAILY_SQL,
    _EMB_NEAR_SQL,
    _neardup_edges_ctes,
    _planes_sql_b4,
)

# Lower-median rank: the element at FLOOR((n+1)/2) in the sorted order.
# Explicit FLOOR on both sides — DuckDB CAST(double AS BIGINT) rounds
# half-even while Spark truncates (same trap as the containment corpus).
_MID_SQL = "CAST(FLOOR((n + 1) / 2.0) AS BIGINT)"


@register(
    "series_robust_mad_outliers",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    r AS (
      SELECT series_id, dday, v,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY v, dday)
               AS rn,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM daily
    ),
    med AS (
      SELECT series_id, n, v AS med FROM r WHERE rn = {_MID_SQL}
    ),
    a AS (
      SELECT d.series_id, d.dday, ABS(d.v - m.med) AS adev, m.med, m.n
      FROM daily d JOIN med m USING (series_id)
    ),
    r2 AS (
      SELECT series_id, adev, n,
             ROW_NUMBER() OVER (PARTITION BY series_id ORDER BY adev, dday)
               AS rn
      FROM a
    ),
    mad AS (
      SELECT series_id, adev AS mad FROM r2 WHERE rn = {_MID_SQL}
    )
    SELECT a.series_id,
           a.n,
           CAST(MIN(a.med) AS DOUBLE) AS median,
           CAST(MIN(md.mad) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN CAST(a.adev AS DOUBLE)
                              > 4.4478 * CAST(md.mad AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM a JOIN mad md USING (series_id)
    GROUP BY 1, 2
    """,
)
def series_robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier census via MAD (median absolute
    deviation): flag points with ``|v − median| > 3·1.4826·MAD`` — the
    robust z-score every monitoring pipeline prefers over
    ``series_anomaly_zscore`` when the contamination itself inflates the
    mean/σ it is measured against (a single 10⁶-magnitude spike raises σ
    enough to hide itself; it cannot move the median).

    Scale shape: two rank-based medians via per-series windows — the
    window partitions by series, so 10⁶ series spread over the cluster
    and no single sort ever sees more than one series' rows (the repo's
    sanctioned per-entity window shape, vs the global-order two-phase
    scaffold in operators/distributed.py). Medians are LOWER medians
    (element at FLOOR((n+1)/2)) so both engines pick an actual data
    element instead of interpolating — deviations then stay exact
    decimals until the single final cast."""
    from series_tiempo_ar_scraping_spark.queries_batch8 import _daily

    daily = _daily(spark, sf_dir)
    w_ord = Window.partitionBy("series_id").orderBy("v", "dday")
    w_all = Window.partitionBy("series_id")
    mid = F.floor((F.col("n") + 1) / 2.0).cast("long")
    ranked = daily.select(
        "series_id",
        "dday",
        "v",
        F.row_number().over(w_ord).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    med = ranked.filter(F.col("rn") == mid).select(
        "series_id", F.col("n"), F.col("v").alias("med")
    )
    a = daily.join(F.broadcast(med), "series_id").select(
        "series_id",
        "dday",
        F.abs(F.col("v") - F.col("med")).alias("adev"),
        "med",
        "n",
    )
    w_ord2 = Window.partitionBy("series_id").orderBy("adev", "dday")
    ranked2 = a.select(
        "series_id", "adev", "n", F.row_number().over(w_ord2).alias("rn")
    )
    mad = ranked2.filter(F.col("rn") == mid).select(
        "series_id", F.col("adev").alias("mad")
    )
    out = a.join(F.broadcast(mad), "series_id")
    is_out = F.when(
        F.col("adev").cast("double") > 4.4478 * F.col("mad").cast("double"),
        1,
    ).otherwise(0)
    return out.groupBy("series_id", "n").agg(
        F.min(F.col("med").cast("double")).alias("median"),
        F.min(F.col("mad").cast("double")).alias("mad"),
        F.sum(is_out).cast("long").alias("n_outliers"),
    )


@register(
    "series_changepoint_meanshift",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    r AS (
      SELECT series_id, dday,
             ROW_NUMBER() OVER
               (PARTITION BY series_id ORDER BY dday) AS i,
             SUM(v) OVER (PARTITION BY series_id ORDER BY dday
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(v) OVER (PARTITION BY series_id) AS tot,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM daily
    ),
    s AS (
      SELECT series_id, dday, n,
             ABS(CAST(cum AS DOUBLE) * (n - i)
                 - (CAST(tot AS DOUBLE) - CAST(cum AS DOUBLE)) * i)
               / (CAST(i AS DOUBLE) * (n - i)) AS score
      FROM r WHERE i < n AND n > 1
    ),
    best AS (
      SELECT series_id, dday AS change_dday, n, score,
             ROW_NUMBER() OVER (PARTITION BY series_id
                                ORDER BY score DESC, dday) AS rk
      FROM s
    )
    SELECT series_id, n, change_dday,
           {det_round_sql('score', 6)} AS score
    FROM best WHERE rk = 1
    """,
)
def series_changepoint_meanshift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Offline changepoint detection, binary-segmentation first split:
    for every split point t the score is ``|mean(v[..t]) − mean(v[t+1..])|``
    and the reported changepoint is the argmax — the seed step of the
    classic binary-segmentation recursion (and the mean-shift analogue of
    CUSUM, whose running-max recursion is inherently sequential; the
    split-score formulation computes ALL candidate splits from one
    cumulative window pass).

    Scale shape: one per-series ordered window produces position, prefix
    sum, total and count in a single pass; the per-split score is then a
    pure column expression and the argmax one more per-series window —
    no O(n²) split×point join anywhere. Determinism: prefix sums of
    decimals are exact in both engines (sequential per-window order);
    the score combines them cast-once with the cross-multiplied form
    ``|cum·(n−i) − (tot−cum)·i| / (i·(n−i))`` so both engines evaluate
    the identical double expression tree; argmax ties break on earliest
    day."""
    from series_tiempo_ar_scraping_spark.queries_batch8 import _daily

    daily = _daily(spark, sf_dir)
    w_ord = Window.partitionBy("series_id").orderBy("dday")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("series_id")
    r = daily.select(
        "series_id",
        "dday",
        F.row_number().over(w_ord).alias("i"),
        F.sum("v").over(w_cum).alias("cum"),
        F.sum("v").over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("n"),
    )
    n, i = F.col("n"), F.col("i")
    cum_d = F.col("cum").cast("double")
    tot_d = F.col("tot").cast("double")
    score = F.abs(cum_d * (n - i) - (tot_d - cum_d) * i) / (
        i.cast("double") * (n - i)
    )
    s = r.filter((i < n) & (n > 1)).select(
        "series_id", "dday", "n", score.alias("score")
    )
    w_best = Window.partitionBy("series_id").orderBy(
        F.col("score").desc(), "dday"
    )
    return (
        s.select(
            "series_id",
            "n",
            F.col("dday").alias("change_dday"),
            "score",
            F.row_number().over(w_best).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "series_id", "n", "change_dday",
            det_round(F.col("score"), 6).alias("score"),
        )
    )


@register(
    "embedding_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_EMB_NEAR_SQL}),
    b AS (
      SELECT v.vec_id, v.embedding,
             {{planes}} AS bucket
      FROM corpus v
    ),
    pairs AS (
      SELECT a.vec_id AS keep_id, b2.vec_id AS dup_id,
             {_COS.format(a='a.embedding', b='b2.embedding')} AS sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ),
    verified AS (
      SELECT keep_id, dup_id FROM pairs
      WHERE CAST(FLOOR(sim * 1000000 + 0.5) / 1000000 AS DOUBLE) >= 0.95
    ),
    edges AS (
      SELECT keep_id AS src, dup_id AS dst FROM verified
      UNION ALL
      SELECT dup_id AS src, keep_id AS dst FROM verified
    ),
    reach(id, comp) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    comps AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
    sizes AS (
      SELECT comp, COUNT(*) AS cluster_size FROM comps GROUP BY comp
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_vectors
    FROM sizes WHERE cluster_size >= 2 GROUP BY 1
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster census over the embedding corpus: the
    LSH-bucketed cosine pairs (``dedup_embedding_cosine``) rolled up
    through connected components into a cluster-size histogram —
    ``(cluster_size, n_clusters, n_vectors)`` for every size ≥ 2. This
    is the number a curation run actually reports ("12k duplicate
    clusters covering 31k vectors"), and the sanity check that catches a
    too-loose threshold (one giant cluster) before a dedup pass deletes
    half the corpus.

    Scale shape: pairs stay subquadratic (bucket equi-join), components
    via min-label propagation with per-round localCheckpoint
    (operators/dedup.py — plan size O(1) in rounds), and both rollups
    are tiny grouped aggregates keyed by component id then size. The
    oracle re-derives the identical pipeline as one recursive CTE."""
    from series_tiempo_ar_scraping_spark.queries_batch4 import (
        _emb_near_corpus,
        dedup_embedding_cosine,
    )

    corpus = _emb_near_corpus(spark, sf_dir)
    edges = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("keep_id").alias("doc_a"), F.col("dup_id").alias("doc_b")
    )
    comp = D.connected_components(
        corpus.select(F.col("vec_id").alias("doc_id")), edges
    )
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.filter(F.col("cluster_size") >= 2)
        .groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_vectors"),
        )
    )


def _est_jac_sql(k: int) -> str:
    matches = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"({matches}) / {float(k)}"


@register(
    "minhash_jaccard_calibration",
    oracle=f"""
    WITH {_neardup_edges_ctes()}
    SELECT p.doc_a, p.doc_b,
           {det_round_sql(_est_jac_sql(D.MINHASH_K), 6)} AS est_jac,
           {det_round_sql('s.jac', 6)} AS exact_jac,
           {det_round_sql(f'ABS({_est_jac_sql(D.MINHASH_K)} - s.jac)', 6)}
             AS abs_err
    FROM pairs p
    JOIN sigs a ON a.doc_id = p.doc_a
    JOIN sigs b ON b.doc_id = p.doc_b
    JOIN scored s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
    """,
)
def minhash_jaccard_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    the sketch's Jaccard estimate (matching signature positions / K)
    next to the exact shingle-set Jaccard, with the absolute error —
    the measurement that justifies (or indicts) the K=12 signature
    budget before a 100 TB dedup run trusts it. Mirrors the
    ``approx_sketch_stats`` / ``sketch_exact_twin`` pairing, but being
    deterministic both sides, the whole calibration IS hash-oracled.

    Scale shape: identical to ``dedup_ngram_jaccard`` — shingle ONCE
    into a checkpointed frame feeding signatures and the verify join;
    candidates via banded bucket equi-join; exact Jaccard only on
    candidates. The estimate adds no new shuffle (signature frames are
    already keyed by doc id)."""
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    corpus = _near_corpus(spark, sf_dir)
    toked = corpus.select(
        "doc_id", TX.tokens(TX.normalize_text(F.col("text"))).alias("_toks")
    )
    sh = toked.select(
        "doc_id",
        TX.shingles_from_tokens(F.col("_toks"), 3).alias("shingles"),
    ).localCheckpoint(eager=False)
    sigs = D.minhash_signatures_from_shingles(sh).localCheckpoint(eager=False)
    pairs = D.lsh_candidate_pairs(sigs)
    k = D.MINHASH_K
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(k)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(k)],
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = (
        pairs.join(a, "doc_a").join(b, "doc_b").join(sh_a, "doc_a").join(sh_b, "doc_b")
    )
    matches = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = matches / F.lit(float(k))
    jac = D.jaccard(F.col("sh_a"), F.col("sh_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        det_round(est, 6).alias("est_jac"),
        det_round(jac, 6).alias("exact_jac"),
        det_round(F.abs(est - jac), 6).alias("abs_err"),
    )


@register(
    "multimodal_gif_stats",
    oracle="""
    SELECT media_id, width, height, mean_luma FROM (
      SELECT doc_id AS media_id,
             CAST(1 + doc_id % 7 AS INT) AS width,
             CAST(1 + doc_id % 5 AS INT) AS height,
             SUM(CAST(
                   (37 * ((doc_id + 2 * x + 3 * y) % 8) + doc_id) % 256
                 + (59 * ((doc_id + 2 * x + 3 * y) % 8) + 2 * doc_id) % 256
                 + (83 * ((doc_id + 2 * x + 3 * y) % 8) + 3 * doc_id) % 256
                 AS DOUBLE))
               / ((1 + doc_id % 7) * (1 + doc_id % 5) * 3) AS mean_luma
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(doc_id % 7 AS BIGINT))) AS x) gx,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(doc_id % 5 AS BIGINT))) AS y) gy
      GROUP BY doc_id
    )
    """,
)
def multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode, hash-oracled: synthesize a palette-indexed GIF
    per document (8-entry per-doc palette, index raster
    ``(doc_id + 2x + 3y) % 8`` — repeated indices give the LZW
    dictionary real matches) and decode through the stdlib codec
    (`operators/gif.py`: header/descriptor parse, sub-block
    reassembly, variable-width LZW with dictionary growth), reporting
    width/height and the mean over all RGB bytes. The oracle restates
    palette lookup + raster in closed integer form via a 2-way LATERAL
    expansion, so a bit-packing, dictionary-sync, or palette-index bug
    breaks the hash. Byte sums are exact ints in float64 (≤ 255·105);
    one division each side. Map-only: generate → decode → project,
    zero shuffles — with PNG/JPEG this completes the compressed-image
    decode family (DEFLATE, Huffman+DCT, LZW)."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        image_stats,
        synthesize_gif_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_stats(synthesize_gif_media(docs)).select(
        "media_id", "width", "height", "mean_luma"
    )


@register(
    "attribution_linear_credit",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vmic
      FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.purchase_id, p.vmic, c.click_id, c.ts
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.ts >= p.p_ts - INTERVAL 1 HOUR AND c.ts <= p.p_ts
    ),
    r AS (
      SELECT purchase_id, vmic, click_id, ts,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY ts, click_id) AS rnk,
             COUNT(*) OVER (PARTITION BY purchase_id) AS n
      FROM j
    ),
    cr AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS click_date,
             vmic // n
               + CASE WHEN rnk <= vmic % n THEN 1 ELSE 0 END AS credit
      FROM r
    )
    SELECT click_date,
           CAST(SUM(credit) AS BIGINT) AS credit_micro,
           CAST(COUNT(*) AS BIGINT) AS n_clicks
    FROM cr GROUP BY 1
    """,
)
def attribution_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution, linear model, LEDGER-EXACT: every click
    in the hour before a purchase (same user) splits the purchase value
    equally — in integer micro-units with the division remainder going
    to the EARLIEST clicks, so per-purchase credits sum back to the
    purchase value to the last micro-unit (the billing/revenue-ledger
    contract a float split silently violates). Complements
    ``asof_last_click_before_purchase`` (last-touch) with the
    multi-touch model marketing analytics actually reports.

    Scale shape: equi-join keyed by user (the range predicate evaluates
    post-join — same plan as ``range_join_purchase_context``), window
    partitioned by purchase (bounded groups), one grouped aggregate by
    day. Determinism: all-integer credit arithmetic — truncating `div`
    on positive values matches DuckDB `//` (values pinned positive;
    floor-vs-truncate division diverges on negatives), so sums are
    exact bigints, order-free."""
    credits = _click_credits(spark, sf_dir)
    return (
        credits.select(
            F.to_date("ts").alias("click_date"), "credit"
        )
        .groupBy("click_date")
        .agg(
            F.sum("credit").cast("long").alias("credit_micro"),
            F.count("*").alias("n_clicks"),
        )
    )


def _click_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregation credit frame for ``attribution_linear_credit``:
    one row per (purchase, qualifying click) with the integer micro-unit
    ``credit``, plus ``purchase_id``/``vmic`` so the ledger-invariant
    test (per-purchase credits re-sum to vmic exactly) can pin the SAME
    expression tree the shipped query aggregates."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 1000000 + 0.5)
        .cast("long")
        .alias("vmic"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") <= F.col("p_ts")),
    )
    w_ord = Window.partitionBy("purchase_id").orderBy("ts", "click_id")
    w_all = Window.partitionBy("purchase_id")
    r = j.select(
        "purchase_id",
        "vmic",
        "ts",
        F.row_number().over(w_ord).alias("rnk"),
        F.count("*").over(w_all).alias("n"),
    )
    credit = F.expr("vmic div n") + F.when(
        F.col("rnk") <= F.col("vmic") % F.col("n"), 1
    ).otherwise(0)
    return r.select("purchase_id", "vmic", "ts", credit.alias("credit"))


# Count-Min parameters: D hash rows x W buckets. The md5-seeded hash
# family is the repo's cross-engine-stable one (dedup.hash64_seeded /
# sqlfrags._HEX60), so the SKETCH ITSELF is deterministic and the whole
# calibration hash-oracles — unlike the HLL/percentile pair
# (approx_sketch_stats), which is engine-internal and rows-only.
_CMS_D = 4
_CMS_W = 2048

_CMS_BUCKET_SQL = _hex60_seeded("i", "t") + f" % {_CMS_W}"


@register(
    "cms_frequent_terms",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({{toks}}) AS t FROM documents
    ),
    exact AS (SELECT t, COUNT(*) AS exact_cnt FROM toks GROUP BY t),
    buckets AS (
      SELECT t, i, {_CMS_BUCKET_SQL} AS bucket
      FROM toks, LATERAL (SELECT unnest(generate_series(0, {_CMS_D - 1}))
                          AS i) s
    ),
    sketch AS (SELECT i, bucket, COUNT(*) AS c FROM buckets GROUP BY 1, 2),
    est AS (
      SELECT c.t, MIN(sk.c) AS cms_est
      FROM (SELECT DISTINCT t, i, bucket FROM buckets) c
      JOIN sketch sk USING (i, bucket)
      GROUP BY c.t
    )
    SELECT e.t AS term,
           e.exact_cnt,
           CAST(est.cms_est AS BIGINT) AS cms_est,
           CAST(est.cms_est - e.exact_cnt AS BIGINT) AS overestimate
    FROM exact e JOIN est USING (t)
    ORDER BY e.exact_cnt DESC, e.t
    LIMIT 20
    """,
)
def cms_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequent-terms calibration: build a D×W CMS over
    the corpus token stream, then report the top-20 terms with exact
    count, CMS estimate, and the overestimate (CMS never underestimates
    — pinned for EVERY term by test_llm_ops). This is the frequent-items
    shape for 100 TB streams: the sketch is a (i, bucket) grouped count
    — map-side combinable, fixed {_CMS_D}×{_CMS_W} cells regardless of
    corpus size, mergeable across partitions/days by cell-wise addition
    — where an exact groupBy's state grows with the vocabulary. The
    md5-seeded hash family is the repo's cross-engine-stable one, so
    sketch AND estimates hash-match the DuckDB oracle exactly.

    Scale shape: one explode feeds both lanes off a checkpointed token
    frame (tokenize once); the sketch (≤ {_CMS_D * _CMS_W} rows)
    broadcast-joins back to the per-term bucket probes; top-20 by
    (exact desc, term) is a deterministic total order."""
    return (
        _cms_term_frame(spark, sf_dir)
        .select(
            F.col("t").alias("term"),
            "exact_cnt",
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_cnt").desc(), "term")
        .limit(20)
    )


def _cms_term_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term (t, exact_cnt, cms_est) frame — the construction behind
    ``cms_frequent_terms``, shared with the never-underestimates
    property test so the guarantee is pinned on the SAME expression
    tree the shipped query ranks."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("t")
    ).localCheckpoint(eager=False)
    probes = F.posexplode(
        F.array(
            *[
                (D.hash64_seeded(F.col("t"), i) % _CMS_W).cast("long")
                for i in range(_CMS_D)
            ]
        )
    )
    buckets = toks.select("t", probes.alias("i", "bucket"))
    sketch = buckets.groupBy("i", "bucket").agg(F.count("*").alias("c"))
    exact = toks.groupBy("t").agg(F.count("*").alias("exact_cnt"))
    est = (
        buckets.dropDuplicates(["t", "i"])
        .join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("t")
        .agg(F.min("c").alias("cms_est"))
    )
    return exact.join(est, "t")


@register(
    "multimodal_gif_anim_stats",
    oracle="""
    SELECT media_id, frame_idx, ts_ms, mean_y FROM (
      SELECT doc_id AS media_id,
             CAST(f AS INT) AS frame_idx,
             CAST(f * 10 * (4 + doc_id % 6) AS INT) AS ts_ms,
             ( (37 * ((doc_id + f) % 8) + doc_id) % 256
             + (59 * ((doc_id + f) % 8) + 2 * doc_id) % 256
             + (83 * ((doc_id + f) % 8) + 3 * doc_id) % 256 ) / 3.0
               AS mean_y
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
               0, CAST(1 + doc_id % 3 AS BIGINT))) AS f) gf
    )
    """,
)
def multimodal_gif_anim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode, hash-oracled: synthesize a multi-frame
    GIF per document (2 + doc_id%3 full-screen solid frames, Graphic
    Control Extension delays of 4 + doc_id%6 centiseconds) and decode
    through the stdlib LZW codec's frame iterator
    (`operators/gif.py:try_decode_gif_frames`), reporting one row per
    frame with its cumulative-delay timestamp and mean over all RGB
    bytes. The oracle restates frame count, GCE delay timing, and the
    per-frame palette lookup in closed integer form — a frame-loop,
    delay-parse, or palette bug breaks the hash. A solid frame's mean
    is exact (channel sum / 3 in float64, identical division both
    engines). Map-only: generate → decode → explode frames, zero
    shuffles; rows ∝ total frames — the animated-GIF twin of the Y4M
    ``multimodal_video_stats`` family."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        gif_anim_frame_stats,
        synthesize_gif_anim_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gif_anim_frame_stats(synthesize_gif_anim_media(docs)).select(
        "media_id", "frame_idx", "ts_ms", "mean_y"
    )


# Composed nightly rollup: daily date-keyed frame (the date twin of
# sqlfrags._DAILY_SERIES_DDAY_SQL, date-typed so the calendar expand and
# monthly collapse stay native date ops).
_DAILY_DATE_SQL = """
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(22,4))) AS v
      FROM events GROUP BY 1, 2
"""


@register(
    "series_nightly_rollup",
    oracle=f"""
    WITH daily AS ({_DAILY_DATE_SQL}),
    gaps AS (
      SELECT series_id, d,
             date_diff('day',
                       lag(d) OVER (PARTITION BY series_id ORDER BY d),
                       d) AS gap
      FROM daily
    ),
    qa AS (
      SELECT series_id, COUNT(*) AS n_points, MAX(gap) AS max_gap
      FROM gaps GROUP BY 1
    ),
    status AS (
      SELECT series_id,
             CASE WHEN n_points >= 5 AND COALESCE(max_gap, 1) <= 3
                  THEN 'ok' ELSE 'flagged' END AS status
      FROM qa
    ),
    spans AS (
      SELECT d.series_id, MIN(d.d) AS lo, MAX(d.d) AS hi
      FROM daily d
      WHERE d.series_id IN (SELECT series_id FROM status
                            WHERE status = 'ok')
      GROUP BY 1
    ),
    cal AS (
      SELECT series_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM spans
    ),
    filled AS (
      SELECT c.series_id, c.d,
             last_value(dl.v IGNORE NULLS) OVER (
               PARTITION BY c.series_id ORDER BY c.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf,
             dl.v IS NULL AS was_gap
      FROM cal c LEFT JOIN daily dl
        ON dl.series_id = c.series_id AND dl.d = c.d
    ),
    weekly AS (
      SELECT series_id, CAST(date_trunc('week', d) AS DATE) AS week,
             SUM(vf) AS wv,
             SUM(CASE WHEN was_gap THEN 1 ELSE 0 END) AS filled_days
      FROM filled GROUP BY 1, 2
    ),
    flagged AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged_series
      FROM status WHERE status <> 'ok'
    )
    SELECT m.week,
           CAST(COUNT(*) AS BIGINT) AS n_series,
           CAST(SUM(m.wv) AS DOUBLE) AS total_value,
           CAST(SUM(m.filled_days) AS BIGINT) AS filled_days,
           f.n_flagged_series
    FROM weekly m CROSS JOIN flagged f
    GROUP BY 1, f.n_flagged_series
    """,
)
def series_nightly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED nightly series-portal run — the reference's whole ETL
    analytic arc (scrape → validate → conform → aggregate,
    reference/scrapers/base.py generate_ts_distributions +
    validate + the A5-A7 indicator assembly) as ONE oracled plan:

    1. ingest/aggregate: decimal-exact daily series;
    2. validate (V4): per-series point count + max calendar gap via one
       lag window → ok / flagged status;
    3. conform: OK series only — calendar expand (sequence-explode) +
       LOCF forward fill in one window;
    4. collapse: weekly decimal sums + fill accounting;
    5. indicators: per-week series coverage, total value, filled-day
       count, with the flagged-series count carried on every row (the
       scalar-frame crossJoin shape from corpus_curation_pipeline).

    The composed form is what surfaces inter-stage plan bugs (a lost
    semi-join pushdown or a re-shuffle between stages) that per-op
    oracles cannot see — plan-asserted in tests/test_plans.py.
    Determinism: sums stay decimal until one double cast; the status
    boundary is integer comparisons; ffill carries exact decimals."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("series_id"), F.to_date("ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(22,4)")).alias("v"))
    daily = daily.localCheckpoint(eager=False)  # feeds QA, spans, ffill

    w_lag = Window.partitionBy("series_id").orderBy("d")
    gaps = daily.select(
        "series_id", F.datediff("d", F.lag("d").over(w_lag)).alias("gap")
    )
    qa = gaps.groupBy("series_id").agg(
        F.count("*").alias("n_points"), F.max("gap").alias("max_gap")
    )
    status = qa.select(
        "series_id",
        F.when(
            (F.col("n_points") >= 5)
            & (F.coalesce(F.col("max_gap"), F.lit(1)) <= 3),
            "ok",
        )
        .otherwise("flagged")
        .alias("status"),
    ).localCheckpoint(eager=False)  # feeds the semi-join AND the count

    ok = status.filter(F.col("status") == "ok").select("series_id")
    spans = (
        daily.join(F.broadcast(ok), "series_id", "leftsemi")
        .groupBy("series_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    )
    cal = spans.select(
        "series_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("d"),
    )
    w_fill = (
        Window.partitionBy("series_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = cal.join(daily, ["series_id", "d"], "left").select(
        "series_id",
        "d",
        F.last("v", ignorenulls=True).over(w_fill).alias("vf"),
        F.col("v").isNull().alias("was_gap"),
    )
    weekly = filled.groupBy(
        "series_id", F.date_trunc("week", "d").cast("date").alias("week")
    ).agg(
        F.sum("vf").alias("wv"),
        F.sum(F.when(F.col("was_gap"), 1).otherwise(0)).alias(
            "filled_days"
        ),
    )
    flagged = status.filter(F.col("status") != "ok").agg(
        F.count("*").alias("n_flagged_series")
    )
    return (
        weekly.crossJoin(F.broadcast(flagged))
        .groupBy("week", "n_flagged_series")
        .agg(
            F.count("*").alias("n_series"),
            F.sum("wv").cast("double").alias("total_value"),
            F.sum("filled_days").cast("long").alias("filled_days"),
        )
        .select(
            "week", "n_series", "total_value", "filled_days",
            "n_flagged_series",
        )
    )


# _kmeans_ctes lives in sqlfrags so later batches can compose it;
# re-imported here for the oracle builders.
def _kmeans_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        "WITH "
        + _kmeans_ctes(k, iters)
        + f"""
    SELECT a.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(cs.s) AS BIGINT) AS comp_sum
    FROM assign{iters - 1} a
    JOIN (SELECT cid, list_sum(ci) AS s FROM cent{iters}) cs USING (cid)
    GROUP BY 1
    """
    )


@register("kmeans_lloyd_clusters", oracle=_kmeans_oracle())
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL trained clustering, hash-oracled: 3 unrolled Lloyd's k-means
    iterations (K=8) over the embeddings in integer micro-units
    (``operators/similarity.py:kmeans_lloyd_micro``), reporting per
    final centroid the member count and the component-sum fingerprint.
    The IVF/PQ entries take their codebooks as given (sampled); this is
    the TRAINING step — and beside pagerank and connected components,
    the third iterative-algorithm family in the catalog, the only one
    whose full fixed point is pinned by a DuckDB oracle (unrolled CTE
    chain, bit-identical micro-unit arithmetic).

    Scale shape: centroids are a K-row broadcast frame re-checkpointed
    per round (plan size O(1) in iterations — the pagerank pattern);
    each round is one broadcast crossJoin + per-vector argmin window +
    one grouped update keyed by (cid, component). The corpus never
    self-joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent, assign = S.kmeans_lloyd_micro(emb, k=8, iters=3)
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    comp_sum = cent.select(
        "cid",
        F.aggregate(
            "ci", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("comp_sum"),
    )
    return sizes.join(F.broadcast(comp_sum), "cid").select(
        "cid", "n_vectors", "comp_sum"
    )


_IVF_T_ITERS = 2  # trained-IVF uses a 2-round codebook (bounds cost)


def _ivf_trained_oracle() -> str:
    """Trained-IVF oracle: the shared CTE chain (sqlfrags
    ``_ivf_trained_ctes``) + the final rounded top-5 projection."""
    return (
        "WITH "
        + _ivf_trained_ctes(_IVF_T_ITERS)
        + """
    SELECT query_id, neighbor_id, rank,
           CAST(FLOOR(sim * 1000000000 + 0.5) / 1000000000 AS DOUBLE) AS sim
    FROM ranked WHERE rank <= 5
    """
    )


@register("ivf_trained_ann_topk", oracle=_ivf_trained_oracle())
def ivf_trained_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED codebook: the Lloyd's-k-means centroids
    (2 rounds, micro-unit exact) feed the same inverted-list
    partition/probe dataflow as ``ivf_ann_topk`` — which deliberately
    uses a sampled stand-in codebook. This is the composed production
    shape (train -> quantize -> probe) as one oracled plan: the oracle
    chains the unrolled Lloyd CTEs into the IVF assign/probe/score SQL,
    so a training bug OR a probe bug breaks the hash. Micro-int
    centroids convert to doubles by one exact division; cosine then
    follows the identical expression tree both sides.

    Scale: training cost is the bounded Lloyd loop (broadcast K-row
    codebook per round); search cost is the IVF contract —
    |corpus|·nprobe/K exact comparisons per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent, _ = S.kmeans_lloyd_micro(emb, k=8, iters=_IVF_T_ITERS)
    centroids = cent.select(
        F.col("cid").alias("vec_id"),
        F.transform(
            "ci", lambda x: x.cast("double") / 1000000.0
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 8)
    out = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    return out.withColumn("sim", det_round(F.col("sim"), 9))


# The embedding-cluster oracle needs the plane fragment rendered with the
# SAME coefficients the Spark side uses; inject it post-hoc (the format
# placeholder keeps the f-string above readable).

ORACLES["embedding_dedup_clusters"] = ORACLES[
    "embedding_dedup_clusters"
].replace("{planes}", _planes_sql_b4(S.plane_coeffs(S.N_PLANES, 64)))

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _toks_of_norm,
)

ORACLES["cms_frequent_terms"] = ORACLES["cms_frequent_terms"].replace(
    "{toks}", _toks_of_norm("text")
)
