"""Batch-4 queries: set operations, cube, window-function suite, range
join, IVF ANN, and a Structured Streaming entry that hash-matches the
batch oracle.

SURVEY context: §2.8 notes the reference has no row-set ops and §2.4 no
range joins ("all free in Spark if ever needed") — these entries prove
that claim with oracle-checked implementations. §2.11 motivates the
streaming layer; ``streaming_tumbling_counts`` runs the *same* windowed
aggregation through ``readStream`` (availableNow) and must produce
byte-identical results to the batch SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    _PRICE_DEC,
    det_round,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# §2.8 — set operations over row sets (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


@register(
    "customers_in_both_years",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def customers_in_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both 1996 and 1997. Catalyst plans
    this as a left-semi join over distinct sets — shuffle on the key,
    partial distinct map-side."""
    o = load_table(spark, sf_dir, "orders")
    y94 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y95 = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y94.intersect(y95)


@register(
    "customers_lapsed",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def customers_lapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who ordered in 1996 but not 1997 (anti-join over
    distinct sets)."""
    o = load_table(spark, sf_dir, "orders")
    y94 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y95 = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    # subtract = EXCEPT DISTINCT (exceptAll's multiset semantics would
    # leave surplus copies for customers with more 1996 than 1997 orders)
    return y94.subtract(y95)


# ---------------------------------------------------------------------------
# §2.5 — multi-dimensional aggregation (CUBE; rollup lives in queries_ext)
# ---------------------------------------------------------------------------


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass —
    Catalyst expands to a single Expand + hash-aggregate (one shuffle for
    every subtotal level, vs 4 separate scans)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_PRICE_DEC))
        .cast("double")
        .alias("total"),
    )


# ---------------------------------------------------------------------------
# §2.6 — ranking / navigation window-function suite
# ---------------------------------------------------------------------------


@register(
    "window_rank_suite",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price,
             rank()       OVER win AS rnk,
             dense_rank() OVER win AS drnk,
             ntile(4)     OVER win AS quartile,
             CAST(lag(CAST(o_totalprice AS DECIMAL(12,2))) OVER win AS DOUBLE) AS prev_price,
             CAST(lead(CAST(o_totalprice AS DECIMAL(12,2))) OVER win AS DOUBLE) AS next_price
      FROM orders
      WINDOW win AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)
    )
    SELECT o_orderpriority, o_orderkey, CAST(price AS DOUBLE) AS price,
           rnk, drnk, quartile, prev_price, next_price
    FROM w WHERE rnk <= 10
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / lag / lead in one window — the §2.6
    family the reference lacks. One shuffle keyed by the partition column;
    all five functions share the sort."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast(_PRICE_DEC)
    win = Window.partitionBy("o_orderpriority").orderBy(
        price.desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            price.alias("price"),
            F.rank().over(win).alias("rnk"),
            F.dense_rank().over(win).alias("drnk"),
            F.ntile(4).over(win).alias("quartile"),
            F.lag(price).over(win).cast("double").alias("prev_price"),
            F.lead(price).over(win).cast("double").alias("next_price"),
        )
        .filter(F.col("rnk") <= 10)
        .withColumn("price", F.col("price").cast("double"))
    )


# ---------------------------------------------------------------------------
# §2.4 — range (interval) join
# ---------------------------------------------------------------------------


@register(
    "range_join_purchase_context",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(e.event_id) AS n_context,
           CAST(COALESCE(SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.event_id <> p.event_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR
     AND e.ts <= p.ts
    GROUP BY 1
    """,
)
def range_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: events within the hour preceding each purchase
    by the same user. Equi-key (user_id) carries the shuffle; the range
    predicate evaluates post-join — the plan a cluster wants (hash join on
    user, no cross product)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = p.join(
        e,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("event_id") != F.col("purchase_id"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") <= F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("event_id").alias("n_context"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)),
            F.lit(0),
        ).alias("n_clicks"),
    )


# ---------------------------------------------------------------------------
# Similarity-search scale path: IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _COS64_SQL as _COS,
)


@register(
    "ivf_ann_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id % 61 = 0
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS.format(a='v.embedding', b='c.cvec')} DESC,
                          c.centroid_id
               ) AS crank
        FROM embeddings v, cent c
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.embedding', b='c.cvec')} DESC,
                          c.centroid_id
               ) AS crank
        FROM embeddings q, cent c WHERE q.vec_id < 8
      ) WHERE crank <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS.format(a='q.embedding', b='v.embedding')} AS sim
      FROM probes p
      JOIN assigned a ON a.centroid_id = p.centroid_id
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings v ON v.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
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
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus bucketed into inverted lists by nearest centroid;
    each query probes its 2 nearest lists. The deterministic 'codebook'
    is every 61st vector (stand-in for k-means — the partition/probe
    dataflow is what's under test, and what scales)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 61 == 0)
    queries = emb.filter(F.col("vec_id") < 8)
    out = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    return out.withColumn("sim", det_round(F.col("sim"), 9))


# ---------------------------------------------------------------------------
# Dedup suite: embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------


def _emb_near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + scaled copies (×0.9 per component, id+100000 for every
    7th vector) — scaling preserves cosine, so the copies are near-dups by
    construction (the synthetic vectors have no natural pairs above 0.48)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mut = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 0.9).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(mut)


from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _EMB_NEAR_SQL,
    _planes_sql_b4,
)


@register(
    "dedup_embedding_cosine",
    oracle=None,  # filled below (needs the plane fragments)
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, LSH-bucketed: hyperplane
    buckets prune the pair space (same-bucket candidates only — scaling
    can't flip a projection sign, so true dups always collide), then exact
    cosine ≥ 0.95 verifies. The subquadratic shape that survives a 10⁹-
    vector corpus; the shuffle is keyed by bucket, skew bounded by bucket
    occupancy."""
    corpus = _emb_near_corpus(spark, sf_dir)
    coeffs = S.plane_coeffs(S.N_PLANES, 64)
    b = corpus.select(
        "vec_id",
        "embedding",
        S.norm(F.col("embedding")).alias("nrm"),
        S.hyperplane_bucket(F.col("embedding"), coeffs).alias("bucket"),
    )
    a = b.select(
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("dup_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    pairs = a.join(c, "bucket").filter(F.col("keep_id") < F.col("dup_id"))
    # norms materialized per vector pre-join (not per pair)
    sim = S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select("keep_id", "dup_id", det_round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= 0.95)
    )


ORACLES["dedup_embedding_cosine"] = f"""
    WITH corpus AS ({_EMB_NEAR_SQL}),
    b AS (
      SELECT v.vec_id, v.embedding,
             {_planes_sql_b4(S.plane_coeffs(S.N_PLANES, 64))} AS bucket
      FROM corpus v
    ),
    pairs AS (
      SELECT a.vec_id AS keep_id, b2.vec_id AS dup_id,
             {_COS.format(a='a.embedding', b='b2.embedding')} AS sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT keep_id, dup_id,
           CAST(FLOOR(sim * 1000000 + 0.5) / 1000000 AS DOUBLE) AS sim
    FROM pairs
    WHERE CAST(FLOOR(sim * 1000000 + 0.5) / 1000000 AS DOUBLE) >= 0.95
"""


# ---------------------------------------------------------------------------
# Time-series API transformations (the reference ecosystem's query surface:
# series-tiempo-ar-api exposes representation_mode=change / percent_change /
# percent_change_a_year_ago over exactly this long-form model)
# ---------------------------------------------------------------------------

_MONTHLY_SERIES_SQL = """
    SELECT event_type AS series_id,
           date_trunc('month', ts) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS value
    FROM events GROUP BY 1, 2
"""


def _monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("month", "ts").alias("ts"),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("value")
    )


@register(
    "series_pct_change",
    oracle=f"""
    WITH m AS ({_MONTHLY_SERIES_SQL})
    SELECT series_id, ts, value,
           CAST(FLOOR((value - lag(value) OVER w)
                / NULLIF(lag(value) OVER w, 0)
                * 1000000 + 0.5) / 1000000 AS DOUBLE) AS pct_change,
           CAST(value - lag(value) OVER w AS DOUBLE) AS abs_change
    FROM m
    WINDOW w AS (PARTITION BY series_id ORDER BY ts)
    """,
)
def series_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change + percent change per series (lag window)
    — `representation_mode=change|percent_change` of the reference's API
    layer, over the canonical long form. One shuffle keyed by series."""
    m = _monthly_series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("ts")
    prev = F.lag("value").over(w)
    # divisor guard: a zero previous value must yield NULL, not Inf/NaN
    # (det_round is finite-only; engines canonicalize non-finite
    # doubles differently)
    prev_nz = F.when(prev != 0, prev)
    return m.select(
        "series_id",
        "ts",
        "value",
        det_round((F.col("value") - prev) / prev_nz, 6).alias("pct_change"),
        (F.col("value") - prev).cast("double").alias("abs_change"),
    )


@register(
    "series_pct_change_year_ago",
    oracle=f"""
    WITH m AS ({_MONTHLY_SERIES_SQL})
    SELECT series_id, ts, value,
           CAST(FLOOR((value - lag(value, 12) OVER w)
                / NULLIF(lag(value, 12) OVER w, 0)
                * 1000000 + 0.5) / 1000000 AS DOUBLE) AS pct_change_yoy
    FROM m
    WINDOW w AS (PARTITION BY series_id ORDER BY ts)
    """,
)
def series_pct_change_year_ago(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_change_a_year_ago: lag(12) on the monthly grid — NULL until
    a series has a year of history (matches the API contract)."""
    m = _monthly_series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("ts")
    prev = F.lag("value", 12).over(w)
    prev_nz = F.when(prev != 0, prev)  # divisor guard (see series_pct_change)
    return m.select(
        "series_id",
        "ts",
        "value",
        det_round((F.col("value") - prev) / prev_nz, 6).alias("pct_change_yoy"),
    )


@register(
    "series_rebase_index",
    oracle=f"""
    WITH m AS ({_MONTHLY_SERIES_SQL})
    SELECT series_id, ts,
           CAST(FLOOR(value / NULLIF(first_value(value) OVER w, 0) * 100
                * 10000 + 0.5) / 10000 AS DOUBLE) AS idx_base100
    FROM m
    WINDOW w AS (PARTITION BY series_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def series_rebase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebase each series to base-100 at its first period (first_value
    window) — the API layer's index representation."""
    m = _monthly_series(spark, sf_dir)
    w = (
        Window.partitionBy("series_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "series_id",
        "ts",
        det_round(
            F.col("value")
            / F.when(F.first("value").over(w) != 0, F.first("value").over(w))
            * 100,
            4,
        ).alias("idx_base100"),  # divisor guard: zero base -> NULL, not Inf
    )


@register(
    "series_collapse_quarterly",
    oracle=f"""
    WITH m AS ({_MONTHLY_SERIES_SQL})
    SELECT series_id,
           date_trunc('quarter', ts) AS ts,
           CAST(FLOOR(SUM(CAST(value AS DECIMAL(22,4))) / COUNT(*)
                * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_value,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(max_by(value, ts) AS DOUBLE) AS end_of_period
    FROM m GROUP BY 1, 2
    """,
)
def series_collapse_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency collapse (the API layer's `collapse` + `collapse_aggregation`):
    monthly series re-aggregated to quarterly with every supported aggregation
    — avg, sum, min, max, end_of_period (max_by on the period's last month).
    One hash aggregation keyed (series_id, quarter); partial aggregation is
    map-side because every agg here is algebraic, so at 100 TB the shuffle
    carries one row per (series, quarter), not per observation."""
    m = _monthly_series(spark, sf_dir)
    dec = F.sum(F.col("value").cast("decimal(22,4)"))
    return m.groupBy(
        "series_id", F.date_trunc("quarter", "ts").alias("ts")
    ).agg(
        det_round(dec / F.count("*"), 6).alias("avg_value"),
        dec.cast("double").alias("sum_value"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
        F.max_by("value", "ts").cast("double").alias("end_of_period"),
    )


@register(
    "percentile_order_values",
    oracle="""
    SELECT o_orderpriority,
           CAST(FLOOR(quantile_cont(o_totalprice, 0.5)  * 10000 + 0.5) / 10000
                AS DOUBLE) AS p50,
           CAST(FLOOR(quantile_cont(o_totalprice, 0.9)  * 10000 + 0.5) / 10000
                AS DOUBLE) AS p90,
           CAST(FLOOR(quantile_cont(o_totalprice, 0.99) * 10000 + 0.5) / 10000
                AS DOUBLE) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of order value per priority
    (absent in the reference; free in Spark via the `percentile` aggregate).
    Exact percentile sorts within each group — at 100 TB prefer
    `approx_percentile` (t-digest, mergeable map-side); this entry keeps the
    exact form because the oracle gate requires bit-stable output."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        det_round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        det_round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
        det_round(F.percentile("o_totalprice", 0.99), 4).alias("p99"),
    )


@register(
    "grouping_sets_order_stats",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS {_PRICE_DEC})) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of the rollup/cube entries)
    with GROUPING() null-disambiguation flags. Catalyst expands the sets into
    one Expand + single hash aggregate — one shuffle total, not one per set."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"],
         ["o_orderpriority"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_PRICE_DEC)).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation: salted two-stage aggregation
# ---------------------------------------------------------------------------


@register(
    "salted_user_event_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def salted_user_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: stage 1 groups by (user_id, salt) so
    a hot user's rows spread over 8 reducers; stage 2 merges the partials.
    Decimal sums are associative, so the result is bit-identical to the
    direct GROUP BY (the oracle) — the skew pattern costs nothing but a
    second (tiny) shuffle. Distinct-counts salt as set-unions via
    collect_set → flatten → distinct size."""
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("_salt", (F.col("event_id") % 8).cast("int"))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(22,4)")).alias("psum"),
        F.collect_set("event_type").alias("ptypes"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("psum").cast("double").alias("sum_value"),
        F.size(F.array_distinct(F.flatten(F.collect_list("ptypes")))).cast(
            "long"
        ).alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Multimodal kernels: resize + frame-sample (mapInPandas fan-out), with
# oracles — the deterministic stub decode makes the pandas-UDF path
# hash-checkable against pure SQL.
# ---------------------------------------------------------------------------

_MEDIA_SQL = """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           text
    FROM documents
"""


@register(
    "multimodal_resize",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL}),
    dims AS (
      SELECT media_id, kind,
             1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 4096 AS w,
             1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 4096 AS h
      FROM media
    ),
    scaled AS (
      SELECT media_id, kind, w, h,
             LEAST(1.0, 512.0 / GREATEST(w, h)) AS scale
      FROM dims
    )
    SELECT media_id, kind,
           CAST(GREATEST(1, CAST(FLOOR(w * scale) AS BIGINT)) AS INT) AS width,
           CAST(GREATEST(1, CAST(FLOOR(h * scale) AS BIGINT)) AS INT) AS height
    FROM scaled
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize kernel over Arrow batches; the stub's checksum-derived
    dimensions rescale to a 512 cap. Binary content drops out of the
    compared projection (blob equality is engine-specific)."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        documents_as_media,
        resize_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_media(documents_as_media(docs), max_dim=512).select(
        "media_id", "kind", "width", "height"
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL}),
    v AS (
      SELECT media_id, md5(text) AS base,
             1 + (octet_length(encode(text)) % 10) * 1000 AS dur
      FROM media WHERE kind = 'video'
    )
    SELECT media_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 1000 AS INT) AS ts_ms,
           md5(base || ':' || CAST(i AS VARCHAR)) AS frame_checksum
    FROM v, LATERAL (
      SELECT unnest(generate_series(0, CAST(FLOOR((dur - 1) / 1000) AS BIGINT))) AS i
    ) g
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: one row per (video, sampled frame). The
    pandas kernel's yield-more-rows-than-input shape, hash-matched to a
    generate_series SQL expansion."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(docs), every_ms=1000)


@register(
    "multimodal_image_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(1 + doc_id % 7 AS INT) AS width,
           CAST(1 + doc_id % 5 AS INT) AS height,
           CAST(doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256
                AS DOUBLE) / 3.0 AS mean_luma
    FROM documents
    """,
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, hash-oracled: synthesize a deterministic
    solid-color raster per document (BMP for even ids, PPM for odd — both
    branches of the stdlib codec), then decode with ``image_stats`` and
    report actual width/height and the mean over all RGB bytes. The oracle
    states the closed form, so any header/stride/channel-order bug in
    either codec direction breaks the hash. The solid-color mean is an
    exact rational (r+g+b)/3 whose float64 division is correctly rounded
    identically in both engines. Map-only end to end: generate → decode →
    project, zero shuffles at any scale."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        image_stats,
        synthesize_raster_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_stats(synthesize_raster_media(docs)).select(
        "media_id", "width", "height", "mean_luma"
    )


@register(
    "multimodal_audio_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(80 + doc_id % 50 AS INT) AS n_frames,
           CAST(1 + doc_id % 997 AS INT) AS peak,
           CAST(1 + doc_id % 997 AS DOUBLE) AS rms
    FROM documents
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-oracled: synthesize a deterministic mono
    square-wave WAV per document (PCM16 RIFF via the stdlib codec), decode
    it back with ``audio_stats`` and report sample rate, frame count,
    peak, and RMS. The square wave makes RMS exact (every |sample| equals
    the amplitude, so sqrt(mean(s^2)) = A with zero float error), so any
    header/chunk/endianness bug in either codec direction breaks the
    hash. Map-only end to end — generate → decode → project, zero
    shuffles at any scale."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        audio_stats,
        synthesize_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_stats(synthesize_wav_media(docs)).select(
        "media_id", "sample_rate", "n_frames", "peak", "rms"
    )


@register(
    "multimodal_video_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * 40 AS INT) AS ts_ms,
           CAST((doc_id * 31 + i * 7) % 256 AS DOUBLE) AS mean_y
    FROM documents, LATERAL (
      SELECT unnest(generate_series(0, CAST(2 + doc_id % 4 AS BIGINT))) AS i
    ) g
    """,
)
def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, hash-oracled: synthesize a deterministic
    solid-luma YUV4MPEG2 (C420) clip per document with the stdlib Y4M
    codec, decode it back with ``video_frame_stats`` and emit one row per
    actual frame — timestamp from the container's fps header (25 fps →
    40 ms/frame) and mean luma (exact: solid planes). Any header-parse,
    plane-length or frame-walk bug in either codec direction breaks the
    hash. The fan-out mapInPandas shape of ``sample_frames``, running on
    real frames; map-only, zero shuffles."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        synthesize_y4m_media,
        video_frame_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_stats(synthesize_y4m_media(docs))


# ---------------------------------------------------------------------------
# §2.11 — Structured Streaming entry (oracle = the batch SQL)
# ---------------------------------------------------------------------------


@register(
    "streaming_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation run through readStream →
    writeStream (availableNow, complete mode, memory sink) instead of a
    batch scan — and it must hash-match the same DuckDB oracle as the
    batch variant. Proves the streaming layer computes identical
    semantics; on a cluster the same plan runs continuously with a
    watermark bounding state."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
        tumbling_counts,
    )

    agg = tumbling_counts(read_events_stream_native(spark, sf_dir))
    name = "stream_tumbling_bench"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Memory-sink table is session-scoped; copy out so repeated runs don't
    # collide on the query name.
    result = spark.table(name).localCheckpoint()
    q.stop()
    return result


@register(
    "sliding_window_rates",
    oracle="""
    SELECT ws AS bucket, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
             event_type, value
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): each event lands in two
    overlapping buckets — Spark's `window()` generates the window set per
    row (a generator, not a self-join), so cost is 2× rows into one hash
    aggregate; the oracle materializes the same expansion with unnest.
    Same plan runs unchanged on a stream with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.window("ts", "2 hours", "1 hour").start.alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("sum_value"),
    )


@register(
    "streaming_enriched_nation_stats",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def streaming_enriched_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join: the events *stream* joins two static
    dimensions (customer→nation, both broadcast — no stream-side shuffle,
    no state) and aggregates per nation; hash-matches the pure-SQL batch
    oracle. This is the canonical streaming enrichment topology at scale:
    dimension tables broadcast to every task, only the aggregation keeps
    (bounded, per-nation) state."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
    )

    events = read_events_stream_native(spark, sf_dir)
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    enriched = (
        events.join(c, events["user_id"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
    )
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("sum_value"),
    )
    name = "stream_enriched_nation"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name).localCheckpoint()
    q.stop()
    return result


@register(
    "approx_sketch_stats",
    no_oracle_reason=(
        "approximate by design: HLL++/t-digest internals differ across "
        "engines, so equal-hash is the wrong contract. The hard signal is "
        "sketch_exact_twin (same input frame, fully hash-oracled) plus the "
        "error-bound assertion vs that twin in tests/test_llm_ops.py."
    ),
)
def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per event_type: HyperLogLog++ distinct users and
    t-digest value percentiles. Both sketches are *mergeable*, so partial
    aggregation happens map-side and the shuffle carries fixed-size sketch
    state instead of raw rows — at 100 TB this is the only viable shape for
    distinct-counting high-cardinality keys (exact COUNT(DISTINCT) shuffles
    every key). No DuckDB oracle: cross-engine sketch internals differ; the
    error bound vs the oracled exact twin (sketch_exact_twin, same input)
    is asserted in tests/test_llm_ops.py instead."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("value", 0.99, 10000).alias("p99_approx"),
    )


@register(
    "sketch_exact_twin",
    oracle="""
    WITH stats AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    quants AS (
      SELECT event_type,
             CAST(MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
                           THEN value END) AS DOUBLE) AS p50_exact,
             CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                           THEN value END) AS DOUBLE) AS p99_exact
      FROM ranked GROUP BY event_type
    )
    SELECT s.event_type, s.exact_users, q.p50_exact, q.p99_exact
    FROM stats s JOIN quants q USING (event_type)
    """,
)
def sketch_exact_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact counterpart of approx_sketch_stats over the SAME input
    frame: exact COUNT(DISTINCT user_id) and rank-selected order statistics
    (lower median at rank floor((n+1)/2), p99 at rank ceil(0.99n), total
    order broken by event_id so both engines pick the same row — avoiding
    interpolation arithmetic whose last-bit behavior differs per engine).
    This is the hard equality signal behind the sketch query: the
    error-bound test compares the sketch against THIS oracled result.
    Deliberately the anti-pattern at 100 TB — a full per-group sort + a
    distinct shuffle of every key — which is exactly why the production
    path is the mergeable-sketch shape next door."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    quants = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n") + 1) / F.lit(2.0)).cast("bigint"),
                F.col("value"),
            )
        )
        .cast("double")
        .alias("p50_exact"),
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.99) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )
        .cast("double")
        .alias("p99_exact"),
    )
    return stats.join(quants, "event_type")


@register(
    "observations_last_wins_upsert",
    oracle="""
    WITH restated AS (
      SELECT event_type AS series_id, date_trunc('day', ts) AS ts,
             value, event_id
      FROM events
      UNION ALL
      SELECT event_type AS series_id, date_trunc('day', ts) AS ts,
             value * 2 AS value, event_id + 1000000 AS event_id
      FROM events WHERE event_id % 10 = 0
    )
    SELECT series_id, ts,
           CAST(max_by(value, event_id) AS DOUBLE) AS value,
           COUNT(*) AS n_versions
    FROM restated GROUP BY 1, 2
    """,
)
def observations_last_wins_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-granular replace semantics (the reference's V8 `--replace` is
    file-granular): a restatement batch unions onto the original
    observations and compaction keeps the highest-version value per
    (series_id, ts) via max_by. One hash aggregate — the CDC-compaction
    shape (last-wins by monotonic version) that an incremental 100 TB
    observation store runs per ingest cycle; no join, no window sort."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("series_id"),
        F.date_trunc("day", "ts").alias("ts"),
        "value",
        "event_id",
    )
    restated = e.filter(F.col("event_id") % 10 == 0).select(
        F.col("event_type").alias("series_id"),
        F.date_trunc("day", "ts").alias("ts"),
        (F.col("value") * 2).alias("value"),
        (F.col("event_id") + 1000000).alias("event_id"),
    )
    return base.unionByName(restated).groupBy("series_id", "ts").agg(
        F.max_by("value", "event_id").cast("double").alias("value"),
        F.count("*").alias("n_versions"),
    )


@register(
    "value_histogram",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (floor-binning — the
    profiling primitive behind distribution drift checks). Pure map-side
    expression + one hash aggregate; bucket count is bounded by the value
    range, so the shuffle is tiny regardless of input scale."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket"),
    ).agg(
        F.count("*").alias("n"),
        F.min("value").cast("double").alias("lo"),
        F.max("value").cast("double").alias("hi"),
    )


@register(
    "profile_table_columns",
    oracle="""
    SELECT col,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT v) AS n_distinct,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM (
      SELECT * FROM (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      )
    )
    GROUP BY col
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null fraction / distinct cardinality / min-max)
    via stack-unpivot into (col, value) pairs and one grouped aggregate —
    the data-quality summary a curation pipeline runs per snapshot. One
    scan of the table regardless of column count; at 100 TB swap
    COUNT(DISTINCT) for approx_count_distinct (see approx_sketch_stats)
    to keep the shuffle sketch-sized."""
    o = load_table(spark, sf_dir, "orders")
    pairs = o.select(
        F.expr(
            "stack(3, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_custkey', CAST(o_custkey AS STRING)) AS (col, v)"
        )
    )
    return pairs.groupBy("col").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
        F.countDistinct("v").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "session_window_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        -- microsecond-exact gap test, matching Spark session_window's
        -- real semantics (split at gap >= 30min): date_diff('second')
        -- counts whole-second BOUNDARY crossings and disagrees with the
        -- native operator for gaps inside [1800s, 1801s)
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                     >= 1800 * 1000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in `session_window` generator (30-min gap): Spark merges
    overlapping per-row candidate sessions inside the aggregation — no
    lag/cumsum window pair, and the *same* expression sessionizes an
    unbounded stream with watermark-bounded state. Hash-matches the
    gaps-and-islands oracle, proving the two formulations agree."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Product-analytics suite over `events` — funnel, cohorts, outliers — plus
# market-basket co-occurrence over `lineitem`. The reference has nothing
# like these (SURVEY §2.5-2.6 note the absent agg/window classes); they are
# the analytics a series-consuming team runs on top of the canonical long
# form, so the engine ships them as first-class oracle-checked operators.
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM u
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict first-occurrence funnel view → click → purchase: a user
    advances a stage only if their first click is after their first view,
    and their first purchase after that click. One hash aggregate keyed by
    user (conditional MINs), then a single global roll-up row — the shuffle
    carries exactly one row per user, and the final stage is one partition
    of pre-aggregated partials. At 100 TB the per-user agg is the only real
    shuffle and it is partial-aggregated map-side."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(ev: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == ev, F.col("ts")))

    u = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return u.agg(
        F.count("*").alias("n_users"),
        one_if(viewed).alias("n_view"),
        one_if(clicked).alias("n_view_click"),
        one_if(purchased).alias("n_view_click_purchase"),
    )


@register(
    # batch7 later registers a weekly first-activity "cohort_retention";
    # this one is the SIGNUP-day daily matrix. Distinct names keep both
    # (found in the r7 review: same-name re-registration shadowed this).
    "signup_cohort_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('day', MIN(CASE WHEN event_type = 'signup' THEN ts END))
                  AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, CAST(date_trunc('day', e.ts) AS DATE))
             AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN cohort c ON e.user_id = c.user_id
    WHERE c.cohort_day IS NOT NULL
      AND CAST(date_trunc('day', e.ts) AS DATE) >= c.cohort_day
    GROUP BY 1, 2
    """,
)
def signup_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort retention matrix: users bucketed by first-signup day,
    counted distinct in each subsequent activity day (daily grain because
    the events fixture spans one month). The cohort frame is one row per
    user (tiny next to the event log), so the enrichment join broadcasts
    at any realistic cardinality — at 100 TB the plan is scan → map-side
    broadcast join → one countDistinct shuffle on (cohort_day,
    day_offset), with AQE handling the skew a viral signup day creates."""
    e = load_table(spark, sf_dir, "events")
    cohort = (
        e.groupBy("user_id")
        .agg(
            F.to_date(
                F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            ).alias("cohort_day")
        )
        .filter(F.col("cohort_day").isNotNull())
    )
    day = F.to_date("ts")
    return (
        e.join(F.broadcast(cohort), "user_id")
        .filter(day >= F.col("cohort_day"))
        .groupBy(
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_DAILY_SERIES_SQL = """
    SELECT event_type AS series_id,
           CAST(date_trunc('day', ts) AS DATE) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS value
    FROM events GROUP BY 1, 2
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("event_type").alias("series_id"),
        F.to_date("ts").alias("ts"),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("value")
    )


@register(
    "series_zscore_outliers",
    oracle=f"""
    WITH m AS ({_DAILY_SERIES_SQL}),
    s AS (
      SELECT series_id, ts, value,
             CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(22,6)) * CAST(value AS DECIMAL(22,6)))
                  OVER w AS DOUBLE) AS s2,
             COUNT(*) OVER w AS n
      FROM m
      WINDOW w AS (PARTITION BY series_id)
    )
    SELECT series_id, ts, value,
           CAST(FLOOR((value - s1 / n)
                / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0))
                * 10000 + 0.5) / 10000 AS DOUBLE) AS zscore
    FROM s
    WHERE abs(value - s1 / n)
          > 2 * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0))
    """,
)
def series_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series anomaly flags: daily points more than 2 population
    standard deviations from their series mean. Moments are decimal sums
    (exact across engines) divided in IEEE doubles with an identical
    expression tree on both sides, so even sqrt is bit-reproducible — the
    determinism discipline from the queries.py docstring applied to
    second moments. One window shuffle keyed by series; at scale the
    moments come from a groupBy + broadcast join back instead (5 rows)."""
    m = _daily_series(spark, sf_dir)
    w = Window.partitionBy("series_id")
    dec = F.col("value").cast("decimal(22,6)")
    s1 = F.sum(dec).over(w).cast("double")
    s2 = F.sum(dec * dec).over(w).cast("double")
    n = F.count("*").over(w)
    mean = s1 / n
    sd = F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    return (
        m.select(
            "series_id",
            "ts",
            "value",
            det_round((F.col("value") - mean) / sd, 4).alias("zscore"),
            (F.abs(F.col("value") - mean) > 2 * sd).alias("_out"),
        )
        .filter("_out")
        .drop("_out")
    )


@register(
    "part_co_occurrence",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def part_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in ≥2
    orders. Instead of the oracle's self-join (which shuffles the lineitem
    projection twice), collect each order's distinct part set in ONE
    shuffle and generate the sorted pairs with array `transform`/`slice` —
    per-order baskets are small (TPC-H ≤7 lines), so pair blow-up is
    bounded and entirely map-side after the aggregate. The same shape runs
    the MinHash/SimHash bucket-pair generation (operators/dedup.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        upper_triangle_pairs,
    )

    pairs = baskets.select(
        F.explode(
            upper_triangle_pairs(
                F.col("parts"),
                lambda x, y: F.struct(x.alias("part_a"), y.alias("part_b")),
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
