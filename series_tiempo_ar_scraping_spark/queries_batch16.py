"""Batch-16 queries: crawl curation, engine internals, and the
composed governance pipeline.

Families (each entry hash-oracled; determinism per the batch-8/12
recipe — exact integers end to end, ln only via the entropy/PMI
micro-floor recipe, at most one double division of exact ints):

- URL canonicalization + dedup (crawl curation): scheme/host
  lowercasing, default-port and www stripping, tracking-param and
  fragment removal, trailing-slash normalization — the URL-level
  dedup pass every web-crawl pipeline (CCNet, RefinedWeb) runs
  BEFORE content dedup. URLs are PLANTED arithmetically on the
  documents table (the batch-15 PII discipline), so collapse counts
  have known structure at every scale.
- Join-cardinality estimation (engine internals): the System-R
  containment estimate |A join B| = |A|*|B| / max(ndv_a, ndv_b)
  computed from profiled stats and compared against the ACTUAL join
  count — the validation loop behind every CBO; on clean FK joins
  the estimate is exact, which the test pins.
- Sequential-pattern support (SPAM/PrefixSpan lite): for every
  ordered event-type pair (a, b), how many users perform some a
  strictly before some b — from per-user-type first/last timestamps,
  never from raw event pairs.
- Incremental aggregate maintenance: merge(base, +inserts, -deletes)
  == full recompute, per group — the identity an incrementally
  maintained materialized view must satisfy (the CDC-roundtrip
  discipline applied to aggregates).
- WOE / information value: the credit-scoring binned-evidence
  report (Laplace-smoothed), via the established ln-micro floor.
- Max concurrent user spans: the classic sweep-line (+1/-1 running
  sum) over per-user daily activity intervals, partitioned by day.
- ``governance_nightly_report``: the FIFTH composed pipeline —
  PII census + repetition flags + table profile + data contracts as
  ONE long-format report, registry-composed on both sides.

Reference parity: extends the reference's report/validation lane
(reference/scrapers/base.py validate + reports) with the curation
and engine-validation passes a fleet-scale deployment runs nightly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.queries_batch14 import (
    expectation_suite_report,
)
from series_tiempo_ar_scraping_spark.queries_batch15 import (
    gopher_repetition_report,
    pii_detection_report,
    table_profile_report,
)
from series_tiempo_ar_scraping_spark.registry import ORACLES, register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# URL canonicalization + dedup (crawl curation)
# ---------------------------------------------------------------------------

# Planted URL corpus: pure doc_id arithmetic, so both engines build the
# IDENTICAL raw URL per doc. Variation axes: scheme case (%3), www case
# (%4), host case (%6), explicit default port (%5), trailing slash
# (odd multiples of 7 — guaranteed query-free), tracking params
# (%10 pure-utm / other evens utm-last), fragment (%9).
_URL_CORPUS_SQL = """
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END
         || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE 'www.' END
         || CASE WHEN doc_id % 6 = 0 THEN upper(source) ELSE source END
         || '.example.com'
         || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
         || '/item/' || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 7 = 0 AND doc_id % 2 = 1
                 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 10 = 0 THEN '?utm_source=rss'
                 WHEN doc_id % 2 = 0
                 THEN '?id=' || CAST(doc_id % 25 AS VARCHAR)
                      || '&utm_campaign=news'
                 ELSE '' END
         || CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
"""

# Canonicalization steps share one property: every pattern matches at
# most ONCE (anchored or structurally unique), so DuckDB's
# first-match regexp_replace and Spark's replace-all agree exactly.
_RX_FRAGMENT = "#[a-zA-Z0-9]*$"
_RX_UTM_TAIL = "([?&]utm_[a-z]+=[a-zA-Z0-9_-]*)+$"
_RX_PREFIX = "^[a-zA-Z]+://[^/]+"
_RX_PORT_443 = ":443$"
_RX_WWW = "://www[.]"
_RX_TRAIL_SLASH = "/$"
_RX_HOST = "^https://([^/:]+)"


def _url_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("https://")
        ),
        F.when(did % 4 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.when(did % 6 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.com"),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/item/"),
        (did % 50).cast("string"),
        F.when((did % 7 == 0) & (did % 2 == 1), F.lit("/")).otherwise(
            F.lit("")
        ),
        F.when(did % 10 == 0, F.lit("?utm_source=rss"))
        .when(
            did % 2 == 0,
            F.concat(
                F.lit("?id="),
                (did % 25).cast("string"),
                F.lit("&utm_campaign=news"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(did % 9 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", "source", url.alias("url"))


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL: drop the fragment,
    strip trailing ``utm_*`` tracking params, lowercase the
    scheme://host[:port] prefix (path/query case is preserved), drop
    an explicit default :443 port and a ``www.`` host prefix, and
    trim one trailing slash. Pure built-in string expressions —
    JVM-side, no Python."""
    u = F.regexp_replace(url, _RX_FRAGMENT, "")
    u = F.regexp_replace(u, _RX_UTM_TAIL, "")
    pfx = F.regexp_extract(u, _RX_PREFIX, 0)
    rest = u.substr(F.length(pfx) + 1, F.length(u))
    cpfx = F.regexp_replace(
        F.regexp_replace(F.lower(pfx), _RX_PORT_443, ""),
        _RX_WWW,
        "://",
    )
    return F.regexp_replace(F.concat(cpfx, rest), _RX_TRAIL_SLASH, "")


_CANON_SQL = f"""
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(regexp_extract(u, '{_RX_PREFIX}')),
                         '{_RX_PORT_443}', ''),
          '{_RX_WWW}', '://')
        || substr(u, length(regexp_extract(u, '{_RX_PREFIX}')) + 1),
        '{_RX_TRAIL_SLASH}', '')
"""


@register(
    "url_canonicalize_dedup",
    oracle=f"""
    WITH raw AS ({_URL_CORPUS_SQL}),
    stripped AS (
      SELECT source, url,
             regexp_replace(
               regexp_replace(url, '{_RX_FRAGMENT}', ''),
               '{_RX_UTM_TAIL}', '') AS u
      FROM raw
    ),
    canon AS (
      SELECT source, url, {_CANON_SQL} AS curl
      FROM stripped
    )
    SELECT regexp_extract(curl, '{_RX_HOST}', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(COUNT(DISTINCT url) - COUNT(DISTINCT curl) AS BIGINT)
             AS n_collapsed
    FROM canon GROUP BY 1
    """,
)
def url_canonicalize_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """URL-level dedup report per canonical host: raw URL count,
    distinct raw URLs, distinct CANONICAL URLs, and how many distinct
    raw spellings the canonicalizer collapsed — the pre-content dedup
    pass of a web-crawl pipeline (CCNet/RefinedWeb run exactly this
    before any MinHash). The planted corpus varies scheme/host case,
    default ports, www, utm params, fragments, and trailing slashes by
    doc_id arithmetic, so both engines see identical raw URLs.

    Scale shape: pure map-side string expressions (regexp chain, no
    Python, no join) into one grouped distinct-count per host — the
    same one-shuffle census as the PII report. Determinism: every
    regex matches at most once (anchored), the Java/RE2 common subset
    only, so first-match vs replace-all semantics coincide."""
    corpus = _url_corpus(spark, sf_dir)
    curl = canonicalize_url(F.col("url"))
    canon = corpus.select("source", "url", curl.alias("curl"))
    return canon.groupBy(
        F.regexp_extract("curl", _RX_HOST, 1).alias("host")
    ).agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("url").cast("long").alias("n_raw_distinct"),
        F.countDistinct("curl").cast("long").alias("n_canonical"),
        (F.countDistinct("url") - F.countDistinct("curl"))
        .cast("long")
        .alias("n_collapsed"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation vs actual (CBO validation)
# ---------------------------------------------------------------------------

_JOINS = (
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _jce_oracle() -> str:
    parts = []
    for name, lt, lk, rt, rk in _JOINS:
        parts.append(f"""
        SELECT '{name}' AS join_name,
               s.n_left, s.ndv_left, s.n_right, s.ndv_right,
               CAST(s.n_left * s.n_right
                    // NULLIF(greatest(s.ndv_left, s.ndv_right), 0) AS BIGINT)
                 AS est_rows,
               a.actual_rows
        FROM (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS n_left,
                 (SELECT CAST(COUNT(DISTINCT {lk}) AS BIGINT)
                  FROM {lt}) AS ndv_left,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS n_right,
                 (SELECT CAST(COUNT(DISTINCT {rk}) AS BIGINT)
                  FROM {rt}) AS ndv_right
        ) s, (
          SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
          FROM {lt} JOIN {rt} ON {lt}.{lk} = {rt}.{rk}
        ) a
        """)
    return " UNION ALL ".join(parts)


@register("join_cardinality_estimate", oracle=_jce_oracle())
def join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """System-R containment estimate vs ACTUAL cardinality for the
    three fact-dimension joins: |A join B| ~= |A|*|B| / max(ndv_a,
    ndv_b) from profiled stats (``table_profile_report`` supplies
    these in production; here they're computed inline so the entry is
    self-contained). On a clean FK join the containment assumption is
    exact — est == actual — which the test pins; divergence is the
    signal a CBO uses to trigger re-profiling.

    Scale shape: per join, two 1-row stat aggregates plus the actual
    join count (dimension side broadcast by AQE); the three branches
    are independent subtrees under one union. Determinism: pure
    bigint arithmetic; the product fits bigint through sf100
    (6e8 * 1.5e8 < 2^63), DECIMAL(38) beyond per SCALE.md."""
    frames = []
    for name, lt, lk, rt, rk in _JOINS:
        left = load_table(spark, sf_dir, lt)
        right = load_table(spark, sf_dir, rt)
        stats = (
            left.agg(
                F.count("*").cast("long").alias("n_left"),
                F.countDistinct(lk).cast("long").alias("ndv_left"),
            )
            .crossJoin(
                F.broadcast(
                    right.agg(
                        F.count("*").cast("long").alias("n_right"),
                        F.countDistinct(rk)
                        .cast("long")
                        .alias("ndv_right"),
                    )
                )
            )
        )
        actual = (
            left.join(right, left[lk] == right[rk])
            .agg(F.count("*").cast("long").alias("actual_rows"))
        )
        frames.append(
            stats.crossJoin(F.broadcast(actual)).select(
                F.lit(name).alias("join_name"),
                "n_left",
                "ndv_left",
                "n_right",
                "ndv_right",
                F.expr(
                    "CAST(n_left * n_right DIV "
                    "NULLIF(greatest(ndv_left, ndv_right), 0) AS BIGINT)"
                ).alias("est_rows"),
                "actual_rows",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# Sequential-pattern support (a-then-b over user histories)
# ---------------------------------------------------------------------------


@register(
    "sequential_pattern_support",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_users_support
      FROM ut a JOIN ut b ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_users_support, n.n_users,
           CAST(n_users_support * 1000000 // n.n_users AS BIGINT)
             AS support_micro
    FROM pairs, n
    """,
)
def sequential_pattern_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Support of every ordered event-type 2-sequence (a then b): the
    number of users with SOME a-event strictly before SOME b-event —
    the SPAM/PrefixSpan counting kernel, answered from per-user-type
    first/last timestamps (a exists before b iff first(a) < last(b)),
    never from raw event-pair joins.

    Scale shape: one (user, type) aggregate collapses the event log to
    n_users x n_types rows; qualifying pairs are then generated
    MAP-SIDE from a per-user type array (<= types^2 per user, a small
    constant) — no self-join, no broadcast of a user-sized frame —
    into a types^2-bounded grouped count. Determinism: timestamp
    comparisons and integer counts only; support_micro is one
    truncating division of non-negative ints."""
    events = load_table(spark, sf_dir, "events")
    ut = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    n = events.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    per_user = ut.groupBy("user_id").agg(
        F.collect_list(
            F.struct("event_type", "first_ts", "last_ts")
        ).alias("types")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("types"),
            lambda a: F.transform(
                F.filter(
                    F.col("types"),
                    lambda b: (a["event_type"] != b["event_type"])
                    & (a["first_ts"] < b["last_ts"]),
                ),
                lambda b: F.struct(
                    a["event_type"].alias("type_a"),
                    b["event_type"].alias("type_b"),
                ),
            ),
        )
    )
    pairs = (
        per_user.select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.type_a").alias("type_a"),
            F.col("p.type_b").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_users_support"))
    )
    return pairs.crossJoin(F.broadcast(n)).select(
        "type_a",
        "type_b",
        "n_users_support",
        "n_users",
        F.expr(
            "CAST(n_users_support * 1000000 DIV n_users AS BIGINT)"
        ).alias("support_micro"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view identity)
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_maintenance",
    oracle="""
    WITH tagged AS (
      SELECT o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS is_ins,
             CASE WHEN o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0
                  THEN 1 ELSE 0 END AS is_del
      FROM orders
    ),
    agg AS (
      SELECT status,
        CAST(SUM(1 - is_ins) AS BIGINT) AS base_cnt,
        CAST(SUM((1 - is_ins) * cents) AS BIGINT) AS base_sum,
        CAST(SUM(is_ins) AS BIGINT) AS ins_cnt,
        CAST(SUM(is_ins * cents) AS BIGINT) AS ins_sum,
        CAST(SUM(is_del) AS BIGINT) AS del_cnt,
        CAST(SUM(is_del * cents) AS BIGINT) AS del_sum,
        CAST(SUM(1 - is_del) AS BIGINT) AS rec_cnt,
        CAST(SUM((1 - is_del) * cents) AS BIGINT) AS rec_sum
      FROM tagged GROUP BY 1
    )
    SELECT status,
           base_cnt + ins_cnt - del_cnt AS merged_count,
           rec_cnt AS recomputed_count,
           base_sum + ins_sum - del_sum AS merged_sum_cents,
           rec_sum AS recomputed_sum_cents,
           CAST(CASE WHEN base_cnt + ins_cnt - del_cnt = rec_cnt
                      AND base_sum + ins_sum - del_sum = rec_sum
                THEN 1 ELSE 0 END AS INT) AS consistent
    FROM agg
    """,
)
def incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance identity: a per-group
    aggregate maintained as merge(base, +late inserts, -retractions)
    must EQUAL the full recompute over the final row set. Inserts are
    orders with key % 97 == 0 (late arrivals), deletes are base rows
    with key % 89 == 0 (retractions) — the CDC-roundtrip discipline
    applied to count+sum aggregates, which is what an incremental
    engine (or a streaming sink in update mode) actually maintains.

    Scale shape: ONE scan — the base/insert/delete/recompute lanes are
    conditional sums inside a single per-status aggregate, so the
    identity costs no more than the aggregate itself; at fleet scale
    the delta lanes would be separate (small) frames merged the same
    way. Determinism: exact cents, pure bigint arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    tagged = orders.select(
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
        F.when(key % 97 == 0, 1).otherwise(0).alias("is_ins"),
        F.when((key % 97 != 0) & (key % 89 == 0), 1)
        .otherwise(0)
        .alias("is_del"),
    )
    agg = tagged.groupBy("status").agg(
        F.sum(1 - F.col("is_ins")).cast("long").alias("base_cnt"),
        F.sum((1 - F.col("is_ins")) * F.col("cents"))
        .cast("long")
        .alias("base_sum"),
        F.sum("is_ins").cast("long").alias("ins_cnt"),
        F.sum(F.col("is_ins") * F.col("cents"))
        .cast("long")
        .alias("ins_sum"),
        F.sum("is_del").cast("long").alias("del_cnt"),
        F.sum(F.col("is_del") * F.col("cents"))
        .cast("long")
        .alias("del_sum"),
        F.sum(1 - F.col("is_del")).cast("long").alias("rec_cnt"),
        F.sum((1 - F.col("is_del")) * F.col("cents"))
        .cast("long")
        .alias("rec_sum"),
    )
    merged_cnt = F.col("base_cnt") + F.col("ins_cnt") - F.col("del_cnt")
    merged_sum = F.col("base_sum") + F.col("ins_sum") - F.col("del_sum")
    return agg.select(
        "status",
        merged_cnt.alias("merged_count"),
        F.col("rec_cnt").alias("recomputed_count"),
        merged_sum.alias("merged_sum_cents"),
        F.col("rec_sum").alias("recomputed_sum_cents"),
        F.when(
            (merged_cnt == F.col("rec_cnt"))
            & (merged_sum == F.col("rec_sum")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("consistent"),
    )


# ---------------------------------------------------------------------------
# WOE / information value (binned evidence report)
# ---------------------------------------------------------------------------

_WOE_BINS = 5


@register(
    "woe_information_value",
    oracle=f"""
    WITH v AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_good
      FROM orders
    ),
    bounds AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM v),
    binned AS (
      SELECT CAST(((cents - lo) * {_WOE_BINS}) // (hi - lo + 1)
                  AS BIGINT) AS bin,
             is_good
      FROM v, bounds
    ),
    cnt AS (
      SELECT bin,
             CAST(SUM(is_good) AS BIGINT) AS n_good,
             CAST(SUM(1 - is_good) AS BIGINT) AS n_bad
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_good) AS BIGINT) AS g,
             CAST(SUM(n_bad) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cnt
    ),
    terms AS (
      SELECT bin, n_good, n_bad,
        CAST(FLOOR(ln(CAST((n_good + 1) * (b + k) AS DOUBLE)
                      / ((n_bad + 1) * (g + k))) * 1000000 + 0.5)
             AS BIGINT) AS woe_micro,
        (n_good + 1) * 1000000 // (g + k)
          - (n_bad + 1) * 1000000 // (b + k) AS delta_micro
      FROM cnt, tot
    )
    SELECT bin, n_good, n_bad, woe_micro,
           CAST(delta_micro AS BIGINT) AS delta_micro,
           CAST((delta_micro * woe_micro
                 - (((delta_micro * woe_micro) % 1000000 + 1000000)
                    % 1000000))
                // 1000000 AS BIGINT) AS iv_term_micro
    FROM terms
    """,
)
def woe_information_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-of-evidence / information-value report over order value
    (the credit-scoring binning classic): 5 equi-width bins of
    exact cents, per-bin Laplace-smoothed WOE = ln((g_i+1)/(G+k) /
    ((b_i+1)/(B+k))) and its IV contribution (g% - b%) * WOE —
    IV sums the evidence a binned feature carries about the target
    (here: order status F vs not).

    Scale shape: one bounds pass, one binned conditional-sum aggregate
    (5 cells cross the exchange), scalar totals broadcast back —
    the histogram-sketch shape with an evidence formula on top.
    Determinism: the entropy/PMI recipe — ln of ONE division whose
    operands are exact bigint products (< 2^53 through sf10),
    micro-floored; the IV product uses the any-sign mod-subtraction
    floor division so both engines floor identically."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("is_good"),
    )
    bounds = v.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    binned = v.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"CAST(((cents - lo) * {_WOE_BINS}) DIV (hi - lo + 1) "
            "AS BIGINT)"
        ).alias("bin"),
        "is_good",
    )
    cnt = binned.groupBy("bin").agg(
        F.sum("is_good").cast("long").alias("n_good"),
        F.sum(1 - F.col("is_good")).cast("long").alias("n_bad"),
    )
    tot = cnt.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("b"),
        F.count("*").cast("long").alias("k"),
    )
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_good",
        "n_bad",
        F.floor(
            F.log(
                ((F.col("n_good") + 1) * (F.col("b") + F.col("k")))
                .cast("double")
                / ((F.col("n_bad") + 1) * (F.col("g") + F.col("k")))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("woe_micro"),
        F.expr(
            "(n_good + 1) * 1000000 DIV (g + k) "
            "- (n_bad + 1) * 1000000 DIV (b + k)"
        )
        .cast("long")
        .alias("delta_micro"),
    )
    return terms.select(
        "bin",
        "n_good",
        "n_bad",
        "woe_micro",
        "delta_micro",
        F.expr(
            "CAST((delta_micro * woe_micro"
            " - (((delta_micro * woe_micro) % 1000000 + 1000000)"
            " % 1000000)) DIV 1000000 AS BIGINT)"
        ).alias("iv_term_micro"),
    )


# ---------------------------------------------------------------------------
# Max concurrent user spans (sweep-line)
# ---------------------------------------------------------------------------


@register(
    "max_concurrent_user_spans",
    oracle="""
    WITH sp AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    pts AS (
      SELECT day, s AS ts, 1 AS ds, 0 AS de FROM sp
      UNION ALL
      SELECT day, e, 0, 1 FROM sp
    ),
    g AS (
      SELECT day, ts,
             CAST(SUM(ds) AS BIGINT) AS st,
             CAST(SUM(de) AS BIGINT) AS en
      FROM pts GROUP BY 1, 2
    ),
    run AS (
      SELECT day, st,
             SUM(st) OVER w - (SUM(en) OVER w - en) AS conc
      FROM g
      WINDOW w AS (PARTITION BY day ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(SUM(st) AS BIGINT) AS n_spans
    FROM run GROUP BY 1
    """,
)
def max_concurrent_user_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrency per day: each user's daily activity span
    [first event, last event] is an interval; the classic sweep-line
    (+1 at starts, -1 after ends, running sum, max) gives the peak
    number of simultaneously active users — capacity planning's
    bread-and-butter, and the aggregate twin of
    ``interval_overlap_coactivity`` (which lists the pairs).

    Scale shape: the event log collapses to one interval per
    (user, day) in ONE scan; a generator (not a union, which would
    rescan) emits the +1/-1 endpoint rows; the sweep is a window
    PARTITIONED BY day (bounded partitions — never a global sort)
    over points pre-grouped by timestamp, and the final rollup groups
    by the NATIVE day so it reuses the window's partitioning (the
    string cast happens after). Determinism: closed-interval tie rule
    (starts count before ends at the same instant) is encoded
    arithmetically (cum_starts - cum_ends_before), not by sort order,
    so ties need no tiebreaker."""
    events = load_table(spark, sf_dir, "events")
    sp = events.groupBy(
        "user_id",
        F.col("ts").cast("date").alias("day"),
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    pts = sp.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("ts"),
                    F.lit(1).alias("ds"),
                    F.lit(0).alias("de"),
                ),
                F.struct(
                    F.col("e").alias("ts"),
                    F.lit(0).alias("ds"),
                    F.lit(1).alias("de"),
                ),
            )
        ).alias("p"),
    ).select("day", "p.ts", "p.ds", "p.de")
    g = pts.groupBy("day", "ts").agg(
        F.sum("ds").cast("long").alias("st"),
        F.sum("de").cast("long").alias("en"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = g.select(
        "day",
        "st",
        (
            F.sum("st").over(w) - (F.sum("en").over(w) - F.col("en"))
        ).alias("conc"),
    )
    return (
        run.groupBy("day")
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.sum("st").cast("long").alias("n_spans"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "max_concurrent",
            "n_spans",
        )
    )


# ---------------------------------------------------------------------------
# Composed governance pipeline (5th composed entry)
# ---------------------------------------------------------------------------


def _gnr_oracle() -> str:
    """Composes the REGISTERED batch-14/15 oracles."""
    return f"""
    SELECT 'pii_matches' AS check_name, source AS item,
           CAST(email_matches + phone_matches + ssn_matches AS BIGINT)
             AS metric
    FROM ({ORACLES["pii_detection_report"]})
    UNION ALL
    SELECT 'repetition_flags', source,
           CAST(n_flagged_top_trigram + n_flagged_dup_mass
                + n_flagged_low_diversity AS BIGINT)
    FROM ({ORACLES["gopher_repetition_report"]})
    UNION ALL
    SELECT 'profile_ndv', column_name, CAST(ndv AS BIGINT)
    FROM ({ORACLES["table_profile_report"]})
    UNION ALL
    SELECT 'contract_violations',
           table_name || '.' || column_name || ':' || "check",
           CAST(n_violations AS BIGINT)
    FROM ({ORACLES["expectation_suite_report"]})
    """


@register("governance_nightly_report", oracle=_gnr_oracle())
def governance_nightly_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed nightly GOVERNANCE run — PII census, repetition
    flags, table profile, and data-contract violations as ONE
    long-format report (check_name, item, metric) — the fifth composed
    pipeline beside curation, series-rollup, ops-quality, and
    embedding-index, covering the governance lane batch 15 opened.

    Composition is by REGISTRY on both sides (the nightly_quality_report
    discipline): the Spark body calls the registered component queries,
    the oracle embeds their registered SQL verbatim, so the composed
    entry can never drift from its parts. Scale shape: the four
    branches share no state and run as independent subtrees under one
    union; each keeps its own audited plan. Determinism: inherited
    from the hash-oracled components (exact integers throughout)."""
    pii = pii_detection_report(spark, sf_dir).select(
        F.lit("pii_matches").alias("check_name"),
        F.col("source").alias("item"),
        (
            F.col("email_matches")
            + F.col("phone_matches")
            + F.col("ssn_matches")
        )
        .cast("long")
        .alias("metric"),
    )
    rep = gopher_repetition_report(spark, sf_dir).select(
        F.lit("repetition_flags").alias("check_name"),
        F.col("source").alias("item"),
        (
            F.col("n_flagged_top_trigram")
            + F.col("n_flagged_dup_mass")
            + F.col("n_flagged_low_diversity")
        )
        .cast("long")
        .alias("metric"),
    )
    prof = table_profile_report(spark, sf_dir).select(
        F.lit("profile_ndv").alias("check_name"),
        F.col("column_name").alias("item"),
        F.col("ndv").cast("long").alias("metric"),
    )
    exp = expectation_suite_report(spark, sf_dir).select(
        F.lit("contract_violations").alias("check_name"),
        F.concat(
            F.col("table_name"),
            F.lit("."),
            F.col("column_name"),
            F.lit(":"),
            F.col("check"),
        ).alias("item"),
        F.col("n_violations").cast("long").alias("metric"),
    )
    return pii.unionByName(rep).unionByName(prof).unionByName(exp)
