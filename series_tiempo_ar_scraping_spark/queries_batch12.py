"""Batch-12 queries: the shapes a 100 TB curation/training/analytics
platform runs that the earlier batches stopped short of.

Families (each entry hash-oracled; plan contracts in tests/test_plans.py):

- Runtime filtering & reconciliation: explicit Bloom semi-join prune
  with false-positive accounting; CDC snapshot diff + apply with the
  ``apply(diff(A,B), A) == B`` closure proved by commutative-sum
  fingerprints; whole-FK-web referential-integrity audit.
- Training-data curation: contrastive hard-negative mining,
  quality-weighted Bernoulli sampling (seeded hash, one map-side pass),
  k-NN label-noise suspects, vocab-size OOV curve, quantile
  normalization across sources (two-phase prefix-sum boundaries).
- Retrieval: reciprocal-rank fusion (both metrics in ONE pair pass),
  leave-one-basket-out recommender hit-rate with the exact own-count
  correction.
- Sketches & info theory: HLL set operations (register-max union,
  inclusion-exclusion intersection), PMI collocations, activity
  entropy.
- Statistics: Welch z-test from mergeable moments, chi-square
  independence, Benford first-digit forensics, trimmed + winsorized
  means, Gini via the rank identity, Kaplan-Meier survival (log-space
  integer product), split-conformal forecast-interval coverage,
  irregular-series TWAP, ABC/Pareto classes, Flesch readability,
  first-order Markov transitions.
- Linear algebra: dominant principal component by integer power
  iteration on the exact Gram (the fifth iterative family).

Determinism recipe (repo standard, queries_batch8): exact bigint /
decimal arithmetic end-to-end; the seeded cross-engine hash is the ONE
``hash64_seeded``/``_hex60_seeded`` spelling; at most one double
division of identical integers per output column (IEEE division is
correctly rounded, so same ints -> same bits); ln/exp feed on single
divisions and micro-floor per term before any cross-partition sum;
cosine goes through the shared ``_COS64_SQL`` fragment + ``det_round``;
FLOAT columns cast to double explicitly before scaling (engine
promotion orders diverge at boundary values).

Reference parity: extends the reference's harvest-filter family
(reference/scrapers/base.py get_time_series_distributions — decide
cheaply which distributions to process before doing the work) to
set-membership pruning at fleet scale, and its validation/report
family (reference/scrapers/validators.py) to cross-table audits and
statistical QA — the curation extensions SURVEY §2.13 calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _COS64_SQL,
    _QUALITY_SQL,
    _adaptive_k_sql,
    _hex60_seeded,
    _kmeans_ctes,
)

# ---------------------------------------------------------------------------
# Bloom-filter semi-join prune (runtime-filter pattern)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_SEEDS = (101, 102, 103)  # k = 3 hash functions
# build side: customers holding an urgent high-price order — rare enough
# (~0.7% of orders) that the filter stays non-saturated at sf0.1 (n~1100,
# fill ~56%, fp ~17%) while still non-empty at sf0.001 (n=3)
_BLOOM_PRICE_MIN = 480000.0
_BLOOM_BUILD_PRED = (
    f"o_orderpriority = '1-URGENT' AND o_totalprice > {_BLOOM_PRICE_MIN}"
)


def _bloom_union(prefix: str, src: str, key: str) -> str:
    """DuckDB: the k bit positions of ``key`` over ``src`` as UNION ALL
    branches (one per seed) — the ONE spelling shared by the build and
    probe sides so both provably hash identically."""
    return " UNION ALL ".join(
        f"SELECT {prefix}, ({_hex60_seeded(s, f'CAST({key} AS VARCHAR)')}"
        f" % {_BLOOM_M}) AS bit FROM {src}"
        for s in _BLOOM_SEEDS
    )


def _bloom_bit_cols(key_col: F.Column) -> F.Column:
    """Spark: array of the k bit positions for one key (same hash family
    as the oracle: seeded md5 -> 60-bit int -> mod m)."""
    return F.array(
        *[
            (hash64_seeded(key_col.cast("string"), s) % _BLOOM_M).alias(
                f"b{s}"
            )
            for s in _BLOOM_SEEDS
        ]
    )


@register(
    "bloom_filter_join_prune",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_custkey FROM orders WHERE {_BLOOM_BUILD_PRED}
    ),
    bbits AS (
      SELECT DISTINCT bit FROM (
        {_bloom_union("1 AS one", "build", "o_custkey")}
      )
    ),
    pbits AS (
      {_bloom_union("c_custkey", "customer", "c_custkey")}
    ),
    cand AS (
      SELECT c_custkey FROM (
        SELECT p.c_custkey,
               MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS allhit
        FROM pbits p LEFT JOIN bbits b USING (bit)
        GROUP BY 1
      ) WHERE allhit = 1
    ),
    truth AS (
      SELECT c_custkey FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM build)
    )
    SELECT
      (SELECT COUNT(*) FROM build) AS n_build_keys,
      (SELECT COUNT(*) FROM bbits) AS n_bits_set,
      (SELECT COUNT(*) FROM customer) AS n_probe,
      (SELECT COUNT(*) FROM cand) AS n_candidates,
      (SELECT COUNT(*) FROM truth) AS n_true,
      (SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM truth)
        AS n_false_pos,
      CAST((SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM truth)
           AS DOUBLE)
        / NULLIF((SELECT COUNT(*) FROM customer)
                 - (SELECT COUNT(*) FROM truth), 0)
        AS fp_rate
    """,
)
def bloom_filter_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join prune with false-positive
    accounting (m=4096 bits, k=3 seeded md5 hashes).

    The runtime-filter pattern at 100 TB: the build side (rare urgent
    high-price orders) reduces to a <=4096-row bit frame that BROADCASTS
    (~KBs) to every probe partition; probe rows whose k bits aren't all
    set are dropped map-side, BEFORE any shuffle toward the real join.
    Bloom guarantees no false negatives, so the prune is safe; the
    report compares the candidate set against the exact semi-join to
    measure the false-positive rate the m/k sizing bought. fp_rate is
    ONE double division of identical integers (bit-stable cross-engine).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    build = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > _BLOOM_PRICE_MIN)
        )
        .select("o_custkey")
        .distinct()
    )
    bbits = (
        build.select(
            F.explode(_bloom_bit_cols(F.col("o_custkey"))).alias("bit")
        )
        .distinct()
        .withColumn("present", F.lit(1))
    )
    pbits = customer.select(
        "c_custkey",
        F.explode(_bloom_bit_cols(F.col("c_custkey"))).alias("bit"),
    )
    cand = (
        pbits.join(F.broadcast(bbits), "bit", "left")
        .groupBy("c_custkey")
        .agg(F.min(F.coalesce(F.col("present"), F.lit(0))).alias("allhit"))
        .filter(F.col("allhit") == 1)
    )
    truth = customer.join(
        build, customer["c_custkey"] == build["o_custkey"], "left_semi"
    )

    n_build = build.agg(F.count("*").alias("n_build_keys"))
    n_bits = bbits.agg(F.count("*").alias("n_bits_set"))
    n_probe = customer.agg(F.count("*").alias("n_probe"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_true = truth.agg(F.count("*").alias("n_true"))
    return (
        n_build.crossJoin(n_bits)
        .crossJoin(n_probe)
        .crossJoin(n_cand)
        .crossJoin(n_true)
        .select(
            "*",
            (F.col("n_candidates") - F.col("n_true")).alias("n_false_pos"),
            (
                (F.col("n_candidates") - F.col("n_true")).cast("double")
                # nullif guard: every probe a true member -> no FP
                # population to rate (NULL, matching the oracle)
                / F.nullif(
                    F.col("n_probe") - F.col("n_true"), F.lit(0)
                )
            ).alias("fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             label AS neighbor_label
      FROM embeddings WHERE vec_id >= 8
    ),
    scored AS (
      SELECT query_id, neighbor_id, neighbor_label,
             {_COS64_SQL.format(a='qv', b='cv')} AS sim
      FROM c, q
      WHERE neighbor_label <> qlabel
    ), ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label, rank,
           CAST(FLOOR(sim * 1000000000 + 0.5) / 1000000000 AS DOUBLE)
             AS sim
    FROM ranked WHERE rank <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector, the 3 most-similar corpus vectors with a
    DIFFERENT label — contrastive hard negatives (the fine-tune batch
    construction every embedding model trains on).

    Same plan family as ``embedding_cosine_topk``: tiny query side
    broadcasts, norms materialize ONCE per vector before the pair join
    (|corpus|+|q| cost, not |corpus|x|q|), the label inequality prunes
    pairs before ranking, and the per-query window ranks a bounded
    candidate set. At 100 TB the corpus side stays partitioned and is
    scanned once; swapping the brute-force score for the IVF/LSH bucket
    probe (operators/similarity.py) bounds candidates per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("qlabel"),
        S.norm(F.col("embedding")).alias("q_norm"),
    )
    c = emb.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("neighbor_label"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("qlabel"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            (
                S.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "rank",
            det_round(F.col("sim"), 9).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-weighted Bernoulli sampling (one-pass, seeded-hash)
# ---------------------------------------------------------------------------

_QWS_SEED = 777


@register(
    "quality_weighted_sampling",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    q AS ({_QUALITY_SQL}),
    s AS (
      SELECT d.source, d.doc_id, d.n_chars,
             CAST(FLOOR(q.quality * 10000 + 0.5) AS BIGINT) AS quality_bp,
             ({_hex60_seeded(_QWS_SEED, 'CAST(d.doc_id AS VARCHAR)')}
              % 10000) AS u
      FROM documents d JOIN q USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN u < quality_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(quality_bp) AS BIGINT) AS expected_keep_bp,
           CAST(SUM(CASE WHEN u < quality_bp THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM s GROUP BY 1
    """,
)
def quality_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accept each document with probability == its quality score, using
    a seeded hash as the uniform draw (keep iff
    ``hash(doc_id) % 10000 < quality_bp``) — reproducible curriculum
    sampling with zero RNG state.

    The 100 TB shape: quality + hash + accept are ONE map-side
    projection over the corpus scan (no window, no per-source top-k
    shuffle — contrast ``source_cap_sample``); the only shuffle is the
    final per-source report aggregate, and map-side partial aggregation
    collapses it to |sources| rows. ``expected_keep_bp`` (sum of accept
    probabilities, in basis points) against ``n_kept * 10000`` is the
    sanity check that the hash-uniform behaves like the probability it
    replaces — all integers, so the oracle comparison is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    quality_bp = F.floor(
        det_round(TX.quality_score(F.col("text")), 4) * 10000 + F.lit(0.5)
    ).cast("bigint")
    u = hash64_seeded(F.col("doc_id").cast("string"), _QWS_SEED) % 10000
    s = docs.select(
        "source",
        "n_chars",
        quality_bp.alias("quality_bp"),
        u.alias("u"),
    )
    kept = F.col("u") < F.col("quality_bp")
    return s.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum("quality_bp").cast("bigint").alias("expected_keep_bp"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# HLL set operations (sketch union / intersection estimates)
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import _HEX60  # noqa: E402
from series_tiempo_ar_scraping_spark.streaming.sketch import (  # noqa: E402
    HLL_M,
    HLL_RMAX,
    hll_bucket_rho,
    hll_est_scale,
)

_HLL_C = hll_est_scale(HLL_M)


def _hll_s_sql(regs: str) -> str:
    """DuckDB: exact-integer register sum ``S`` over a register CTE
    (same spelling as the batch-11 calibration oracle — empty registers
    contribute their ``2^60`` term)."""
    return f"""
      SELECT SUM((1::HUGEINT) << CAST(60 - r AS INT))
             + ({HLL_M} - COUNT(*)) * ((1::HUGEINT) << 60) AS S
      FROM {regs}
    """


def _hll_est_sql(s: str) -> str:
    return f"{_HLL_C!r} / CAST(({s}) AS DOUBLE)"


@register(
    "hll_set_union_intersect",
    oracle=f"""
    WITH src AS (
      SELECT 'a' AS stream, CAST(o_custkey AS VARCHAR) AS v
      FROM orders WHERE year(o_orderdate) = 1995
      UNION ALL
      SELECT 'b', CAST(o_custkey AS VARCHAR)
      FROM orders WHERE year(o_orderdate) = 1996
    ),
    hh AS (SELECT stream, v,
                  {_HEX60.format(x="'0|' || v")} AS h FROM src),
    rr AS (
      SELECT stream, v, h % {HLL_M} AS bucket,
             CASE WHEN (h // {HLL_M}) = 0 THEN {HLL_RMAX}
                  ELSE least(bit_count(((h // {HLL_M})
                                        & -(h // {HLL_M})) - 1) + 1,
                             {HLL_RMAX})
             END AS rho
      FROM hh
    ),
    ra AS (SELECT bucket, MAX(rho) AS r FROM rr
           WHERE stream = 'a' GROUP BY 1),
    rb AS (SELECT bucket, MAX(rho) AS r FROM rr
           WHERE stream = 'b' GROUP BY 1),
    ru AS (SELECT bucket, MAX(rho) AS r FROM rr GROUP BY 1),
    sa AS ({_hll_s_sql('ra')}), sb AS ({_hll_s_sql('rb')}),
    su AS ({_hll_s_sql('ru')}),
    ea AS (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_a
           FROM rr WHERE stream = 'a'),
    eb AS (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_b
           FROM rr WHERE stream = 'b'),
    eu AS (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_union
           FROM rr)
    SELECT {HLL_M} AS m,
           ea.exact_a, eb.exact_b, eu.exact_union,
           ea.exact_a + eb.exact_b - eu.exact_union AS exact_inter,
           {det_round_sql(_hll_est_sql('SELECT S FROM sa'), 6)} AS est_a,
           {det_round_sql(_hll_est_sql('SELECT S FROM sb'), 6)} AS est_b,
           {det_round_sql(_hll_est_sql('SELECT S FROM su'), 6)}
             AS est_union,
           {det_round_sql(
               f"(({_hll_est_sql('SELECT S FROM sa')})"
               f" + ({_hll_est_sql('SELECT S FROM sb')}))"
               f" - ({_hll_est_sql('SELECT S FROM su')})", 6)}
             AS est_inter,
           {det_round_sql(
               f"(((({_hll_est_sql('SELECT S FROM sa')})"
               f" + ({_hll_est_sql('SELECT S FROM sb')}))"
               f" - ({_hll_est_sql('SELECT S FROM su')}))"
               " - CAST(ea.exact_a + eb.exact_b - eu.exact_union"
               " AS DOUBLE))"
               " / CAST(ea.exact_a + eb.exact_b - eu.exact_union"
               " AS DOUBLE)", 6)} AS inter_rel_err
    FROM ea, eb, eu
    """,
)
def hll_set_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch SET OPERATIONS: estimate |A|, |B|, |A∪B| and — via
    inclusion-exclusion — |A∩B| for two customer cohorts (ordered in
    1995 vs 1996) from three m=64 register sets, beside their exact
    counts. The union registers are the register-wise MAX of the two
    sketches — the merge that makes HLL the 100 TB answer for overlap
    questions: per-shard/per-day sketches (64 cells each) union in
    O(m) without re-touching data, while the exact lane needs a full
    distinct shuffle over both sides. Intersection via
    inclusion-exclusion inherits the union's error (the reported
    ``inter_rel_err`` measures exactly that amplification).

    Determinism: same register geometry and exact-int ``2^(60-r)``
    sums as ``hll_distinct_calibration`` (single source
    ``streaming/sketch.py``); every estimate is a shared-literal /
    exact-int division; sums/differences of identically-derived
    doubles; det-rounded only at the edge."""
    orders = load_table(spark, sf_dir, "orders")

    def cohort(year: int, tag: str) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == year).select(
            F.lit(tag).alias("stream"),
            F.col("o_custkey").cast("string").alias("v"),
        )

    u = cohort(1995, "a").unionByName(cohort(1996, "b"))
    bucket, rho = hll_bucket_rho(F.col("v"), HLL_M)
    rr = u.select("stream", "v", bucket, rho).localCheckpoint(eager=False)

    def s_frame(regs: DataFrame, name: str) -> DataFrame:
        return regs.agg(
            (
                F.sum(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(60 - r AS INT))"
                    ).cast("decimal(38,0)")
                )
                + (F.lit(HLL_M).cast("long") - F.count("*"))
                .cast("decimal(38,0)")
                * F.lit(2**60).cast("decimal(38,0)")
            ).alias(name)
        )

    ra = rr.filter(F.col("stream") == "a").groupBy("bucket").agg(
        F.max("rho").alias("r")
    )
    rb = rr.filter(F.col("stream") == "b").groupBy("bucket").agg(
        F.max("rho").alias("r")
    )
    ru = rr.groupBy("bucket").agg(F.max("rho").alias("r"))
    sa, sb, su = (
        s_frame(ra, "s_a"),
        s_frame(rb, "s_b"),
        s_frame(ru, "s_u"),
    )
    ea = rr.filter(F.col("stream") == "a").agg(
        F.countDistinct("v").alias("exact_a")
    )
    eb = rr.filter(F.col("stream") == "b").agg(
        F.countDistinct("v").alias("exact_b")
    )
    eu = rr.agg(F.countDistinct("v").alias("exact_union"))

    est_a = F.lit(_HLL_C) / F.col("s_a").cast("double")
    est_b = F.lit(_HLL_C) / F.col("s_b").cast("double")
    est_u = F.lit(_HLL_C) / F.col("s_u").cast("double")
    est_i = (est_a + est_b) - est_u
    exact_i = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(sa)
        .crossJoin(sb)
        .crossJoin(su)
        .select(
            F.lit(HLL_M).alias("m"),
            "exact_a",
            "exact_b",
            "exact_union",
            exact_i.alias("exact_inter"),
            det_round(est_a, 6).alias("est_a"),
            det_round(est_b, 6).alias("est_b"),
            det_round(est_u, 6).alias("est_union"),
            det_round(est_i, 6).alias("est_inter"),
            det_round(
                (est_i - exact_i.cast("double"))
                / exact_i.cast("double"),
                6,
            ).alias("inter_rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation mining
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.operators.dedup import (  # noqa: E402
    upper_triangle_pairs,
)
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _toks_of_norm,
)

_PMI_MIN_DF = 10  # support threshold: pairs co-occurring in >= 10 docs


@register(
    "token_pmi_collocations",
    oracle=f"""
    WITH presence AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest({_toks_of_norm('text')}) AS tok
        FROM documents
      )
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM presence
           GROUP BY 1),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b,
             CAST(COUNT(*) AS BIGINT) AS df_ab
      FROM presence a JOIN presence b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_DF}
    )
    SELECT p.tok_a, p.tok_b, da.df AS df_a, db.df AS df_b, p.df_ab,
           n.n_docs,
           CAST(FLOOR(ln(CAST(p.df_ab * n.n_docs AS DOUBLE)
                         / CAST(da.df * db.df AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS pmi_micro
    FROM pairs p
    JOIN df da ON da.tok = p.tok_a
    JOIN df db ON db.tok = p.tok_b
    CROSS JOIN n
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining over
    document-level co-occurrence: for every token pair seen together in
    >= {_PMI_MIN_DF} documents, ``PMI = ln(P(a,b) / (P(a)P(b)))`` with
    document presence as the event space — the corpus-analysis operator
    behind phrase detection and topic seeding.

    Scale shape: per-document DISTINCT token sets collapse the corpus
    once; pairs come from ``upper_triangle_pairs`` over the sorted
    per-doc array (ONE generator expression — the oracle's presence
    self-join is what this avoids: no second shuffle of the presence
    table, no join explosion beyond each doc's own pairs); document
    frequencies are a vocab-sized frame that BROADCASTS onto the pair
    aggregate. PMI itself: ``df_ab*N`` and ``df_a*df_b`` are exact
    bigints, ONE double division feeds ``ln``, micro-unit floored —
    the bigram-LM determinism recipe."""
    docs = load_table(spark, sf_dir, "documents")
    # Per-doc DISTINCT token sets are a MAP-SIDE array op (r13):
    # array_sort(array_distinct(tokens)) — the former explode +
    # corpus-wide distinct + groupBy(doc_id) collect_set paid two
    # full-token-table exchanges to compute a set that never leaves its
    # row. Checkpointed: df and the pair generation both read it.
    per_doc = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(TX.tokens(TX.normalize_text(F.col("text"))))
        ).alias("toks"),
    ).localCheckpoint(eager=False)
    n = docs.agg(F.count("*").alias("n_docs"))
    # per-token document frequency: toks is unique per doc, so the
    # explode carries exactly the former presence rows
    df = (
        per_doc.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    pairs = (
        per_doc.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("toks"),
                    lambda x, y: F.struct(
                        x.alias("tok_a"), y.alias("tok_b")
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.tok_a", "p.tok_b")
        .agg(F.count("*").alias("df_ab"))
        .filter(F.col("df_ab") >= _PMI_MIN_DF)
    )
    da = df.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    db = df.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        # no broadcast hint on the per-token DF tables: vocabulary
        # grows with the corpus (Heaps) — AQE decides (r12 audit)
        pairs.join(da, "tok_a")
        .join(db, "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "df_a",
            "df_b",
            "df_ab",
            "n_docs",
            F.floor(
                F.log(
                    (F.col("df_ab") * F.col("n_docs")).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    t AS (SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT)
                   AS row_total
          FROM c GROUP BY 1)
    SELECT c.prev_type, c.event_type, c.n_transitions, t.row_total,
           CAST(c.n_transitions AS DOUBLE) / t.row_total AS p
    FROM c JOIN t USING (prev_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type) — the sequence
    model behind next-action prediction, session simulation, and
    anomalous-flow detection (a transition probability collapsing
    week-over-week is a product bug signal).

    Scale shape: ONE window (lag over user_id, ordered by ts with
    event_id as the total-order tiebreak) — the sequence shuffle is
    keyed by user, so it reuses the same partitioning every
    sessionization query needs; transitions then reduce to a
    |event_types|^2-bounded aggregate (25 cells here) with map-side
    partials, and row totals come from a WINDOW over that tiny
    aggregate — not a join back through a second copy of the sequence
    pipeline, which would scan events twice. ``p`` is one double
    division of identical exact ints per cell."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions")
    )
    wt = W.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.sum("n_transitions").over(wt).alias("row_total"),
    ).select(
        "*",
        (
            F.col("n_transitions").cast("double") / F.col("row_total")
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average over irregular event series (TWAP)
# ---------------------------------------------------------------------------


@register(
    "series_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
             date_trunc('second', ts) AS t0,
             date_trunc('second',
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id)) AS t1
      FROM events
    ),
    iv AS (
      SELECT user_id, v,
             CAST(date_diff('second', t0, t1) AS BIGINT) AS secs
      FROM seq WHERE t1 IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(secs) AS BIGINT) AS total_secs,
           CAST(SUM(v * secs) AS DOUBLE) AS sum_weighted,
           CAST(SUM(v * secs) AS DOUBLE)
             / NULLIF(CAST(SUM(secs) AS BIGINT), 0) AS twap
    FROM iv GROUP BY 1
    """,
)
def series_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) over IRREGULARLY-sampled event
    values: each observation holds until the next one, so it weighs by
    its interval duration — the correct average for sensor/price-style
    series where arithmetic mean over-counts bursts of rapid updates.

    Scale shape: one lead window keyed by user (the same sequence
    shuffle as sessionization/transition queries — at 100 TB these
    share one partitioning), then a plain per-user aggregate with
    map-side partials. Determinism: values sum as exact
    ``decimal(12,2) * seconds`` products (the repo's decimal-sum
    discipline — a float sum would be partition-order dependent);
    interval seconds come from second-truncated timestamps on BOTH
    engines (DuckDB ``date_diff`` counts boundary crossings while
    Spark ``timestampdiff`` truncates — identical only after
    ``date_trunc('second', ...)``, the documented NTZ recipe); the
    TWAP itself is ONE double division with a NULLIF(0) guard."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("v"),
        F.date_trunc("second", F.col("ts")).alias("t0"),
        F.date_trunc("second", F.lead("ts").over(w)).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    iv = seq.select(
        "user_id",
        "v",
        F.expr("timestampdiff(SECOND, t0, t1)").cast("long").alias("secs"),
    )
    return iv.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("secs").cast("long").alias("total_secs"),
        F.sum(F.col("v") * F.col("secs")).cast("double").alias("sum_weighted"),
        (
            F.sum(F.col("v") * F.col("secs")).cast("double")
            / F.nullif(F.sum("secs").cast("long"), F.lit(0))
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF constant (Cormack et al.)

_L2_SQL = """
      list_sum(list_transform(generate_series(1, 64),
        i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
             * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))
"""


@register(
    "rank_fusion_rrf",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv
      FROM embeddings WHERE vec_id >= 8
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS64_SQL.format(a='qv', b='cv')} AS sim,
             {_L2_SQL.format(a='qv', b='cv')} AS d2
      FROM c, q
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id)
               AS rank_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2 ASC, neighbor_id)
               AS rank_l2
      FROM scored
    ),
    fused AS (
      SELECT query_id, neighbor_id, rank_cos, rank_l2,
             CAST(FLOOR(1000000.0 / ({_RRF_K} + rank_cos)) AS BIGINT)
             + CAST(FLOOR(1000000.0 / ({_RRF_K} + rank_l2)) AS BIGINT)
               AS rrf_micro
      FROM ranked
    )
    SELECT query_id, neighbor_id, rank_cos, rank_l2, rrf_micro,
           rank_fused
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY rrf_micro DESC, neighbor_id) AS rank_fused
      FROM fused
    ) WHERE rank_fused <= 5
    """,
)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two retrieval rankings —
    cosine similarity and L2 distance — into one top-5 list per query:
    the standard hybrid-retrieval combiner (dense + sparse, or here two
    dense metrics) that needs only RANKS, never calibrated scores.

    Scale shape: both metrics score in the SAME pair pass (one scan,
    one broadcast of the query side — not one pipeline per ranker),
    then three windows all partitioned by query_id reuse one shuffle.
    Determinism: each RRF term ``1e6/(k+rank)`` is a division of exact
    ints floored to micro-units BEFORE the sum, so the fused score is
    an exact bigint — float-sum ordering can't move a rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        S.norm(F.col("embedding")).alias("q_norm"),
    )
    c = emb.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            F.col("c_vec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (
            S.dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("sim"),
        diff2.alias("d2"),
    )
    wq = Window.partitionBy("query_id")
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number()
        .over(wq.orderBy(F.desc("sim"), F.asc("neighbor_id")))
        .alias("rank_cos"),
        F.row_number()
        .over(wq.orderBy(F.asc("d2"), F.asc("neighbor_id")))
        .alias("rank_l2"),
    )
    fused = ranked.select(
        "*",
        (
            F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col("rank_cos")))
            .cast("bigint")
            + F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col("rank_l2")))
            .cast("bigint")
        ).alias("rrf_micro"),
    )
    return (
        fused.withColumn(
            "rank_fused",
            F.row_number().over(
                wq.orderBy(F.desc("rrf_micro"), F.asc("neighbor_id"))
            ),
        )
        .filter(F.col("rank_fused") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank_cos",
            "rank_l2",
            "rrf_micro",
            "rank_fused",
        )
    )


# ---------------------------------------------------------------------------
# Robust aggregation: trimmed + winsorized means
# ---------------------------------------------------------------------------


@register(
    "trimmed_winsorized_order_stats",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS priority,
             CAST(o_totalprice AS DECIMAL(12,2)) AS v,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    marked AS (
      SELECT priority, v, n,
             CASE WHEN rk > n * 5 // 100
                   AND rk <= n - n * 5 // 100 THEN 1 ELSE 0 END AS kept,
             CASE WHEN rk <= n * 5 // 100 THEN 1 ELSE 0 END AS is_low
      FROM r
    ),
    g AS (
      SELECT priority,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             SUM(CASE WHEN kept = 1 THEN v END) AS kept_sum,
             MIN(CASE WHEN kept = 1 THEN v END) AS low_cut,
             MAX(CASE WHEN kept = 1 THEN v END) AS high_cut,
             CAST(SUM(is_low) AS BIGINT) AS n_low
      FROM marked GROUP BY 1
    )
    SELECT priority, n, n_kept,
           CAST(low_cut AS DOUBLE) AS low_cut,
           CAST(high_cut AS DOUBLE) AS high_cut,
           CAST(kept_sum AS DOUBLE) / n_kept AS trimmed_mean,
           CAST(kept_sum + n_low * low_cut
                + (n - n_kept - n_low) * high_cut AS DOUBLE) / n
             AS winsorized_mean
    FROM g
    """,
)
def trimmed_winsorized_order_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust per-group means: 5%-TRIMMED (drop both tails) and
    5%-WINSORIZED (clamp both tails to the cut values) of order totals
    per priority — the outlier-robust aggregates a metrics pipeline
    publishes when a handful of extreme rows would swamp the plain
    mean (the rank-cut siblings of ``series_robust_mad_outliers``).

    Determinism: tail cuts are INTEGER rank bounds (``n*5 DIV 100``,
    positive operands — the documented Spark DIV vs DuckDB // guard),
    not float percentiles; values sum as decimal(12,2); each mean is
    one double division. Scale shape: one rank window per group (the
    same keyed shuffle every per-group quantile needs) feeding one
    aggregate; the winsorized correction needs no second pass — tail
    counts and cut values fall out of the same conditional
    aggregates."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("v"),
        F.row_number()
        .over(
            W.partitionBy("o_orderpriority").orderBy(
                "o_totalprice", "o_orderkey"
            )
        )
        .alias("rk"),
        F.count("*")
        .over(W.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    lo = F.expr("n * 5 DIV 100")
    marked = r.select(
        "priority",
        "v",
        "n",
        F.when((F.col("rk") > lo) & (F.col("rk") <= F.col("n") - lo), 1)
        .otherwise(0)
        .alias("kept"),
        # tail side while ranks are still in scope: below-cut rows are
        # exactly the first n*5 DIV 100 ranks (value ties are resolved
        # by the same (value, orderkey) total order on both engines)
        F.when(F.col("rk") <= lo, 1).otherwise(0).alias("is_low"),
    )
    kept_v = F.when(F.col("kept") == 1, F.col("v"))
    g = marked.groupBy("priority").agg(
        F.max("n").cast("long").alias("n"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(kept_v).alias("kept_sum"),
        F.min(kept_v).alias("low_cut"),
        F.max(kept_v).alias("high_cut"),
        F.sum("is_low").cast("long").alias("n_low"),
    )
    return g.select(
        "priority",
        "n",
        "n_kept",
        F.col("low_cut").cast("double").alias("low_cut"),
        F.col("high_cut").cast("double").alias("high_cut"),
        (F.col("kept_sum").cast("double") / F.col("n_kept")).alias(
            "trimmed_mean"
        ),
        (
            (
                F.col("kept_sum")
                + F.col("n_low") * F.col("low_cut")
                + (F.col("n") - F.col("n_kept") - F.col("n_low"))
                * F.col("high_cut")
            ).cast("double")
            / F.col("n")
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: Welch z-test on two event cohorts
# ---------------------------------------------------------------------------


@register(
    "ab_test_mean_diff",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(12,2))) AS sv,
             SUM(CAST(value AS DECIMAL(12,2))
                 * CAST(value AS DECIMAL(12,2))) AS svv
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    m AS (
      SELECT event_type, n,
             CAST(sv AS DOUBLE) / n AS mean,
             (CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * (CAST(sv AS DOUBLE) / n))
               / NULLIF(n - 1, 0) AS var
      FROM s
    ),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
             a.var AS var_a, b.var AS var_b,
             (a.mean - b.mean)
               / sqrt(a.var / a.n + b.var / b.n) AS z
      FROM (SELECT * FROM m WHERE event_type = 'view') a,
           (SELECT * FROM m WHERE event_type = 'purchase') b
    )
    SELECT n_a, n_b,
           CAST(FLOOR(mean_a * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS mean_a,
           CAST(FLOOR(mean_b * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS mean_b,
           CAST(FLOOR(var_a * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS var_a,
           CAST(FLOOR(var_b * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS var_b,
           CAST(FLOOR(z * 1000000 + 0.5) / 1000000 AS DOUBLE) AS z,
           CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS significant
    FROM w
    """,
)
def ab_test_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test: does mean event value differ between
    the 'view' and 'purchase' cohorts? — the experiment-analysis
    primitive behind every A/B readout (here the cohorts are event
    types; in production they are treatment arms).

    Scale shape: the WHOLE test reduces to three mergeable per-group
    moments (n, Σv, Σv²) — one map-side-combinable aggregate over the
    events scan, then scalar arithmetic on a 2-row frame; nothing else
    shuffles, and the same three moments serve any number of arms.
    Determinism: moments sum as exact decimals (Σv² via
    decimal×decimal products), then mean/variance/z are built from
    identically-ordered double ops on both engines (IEEE ops on
    identical inputs), micro-unit rounded at the edge; significance is
    computed from the UNROUNDED z."""
    events = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(12,2)")
    s = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(v).alias("sv"),
            F.sum(v * v).alias("svv"),
        )
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double")
                * (F.col("sv").cast("double") / F.col("n"))
            )
            # nullif: a single-row arm has no sample variance (NULL on
            # both engines, instead of engine-divergent div-by-zero)
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("var"),
    )
    a = m.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    z = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        det_round(F.col("mean_a"), 6).alias("mean_a"),
        det_round(F.col("mean_b"), 6).alias("mean_b"),
        det_round(F.col("var_a"), 6).alias("var_a"),
        det_round(F.col("var_b"), 6).alias("var_b"),
        det_round(z, 6).alias("z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (data-quality ops)
# ---------------------------------------------------------------------------

# (child_table, child_key, parent_table, parent_key) — the full FK web
_FK_RELS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "fk_integrity_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{child}.{ck} -> {parent}.{pk}' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
           (SELECT CAST(COUNT(DISTINCT {ck}) AS BIGINT) FROM {child})
             AS n_child_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
            WHERE {ck} IS NOT NULL
              AND {ck} NOT IN (SELECT {pk} FROM {parent}))
             AS n_orphans
    """
        for child, ck, parent, pk in _FK_RELS
    ),
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-report referential-integrity audit over the whole FK web:
    for each child->parent relationship, child row count, distinct key
    count, and ORPHAN count (non-null child keys with no parent) — the
    nightly data-quality gate the reference runs per-catalog
    (reference/scrapers/validators.py family) generalized to the
    relational model (SURVEY V1-V3's cross-table sibling).

    Scale shape (r14, guide §2.3/§2.4): each relationship is ONE pass —
    a left join of the single child key column against the parent key,
    then one aggregate computing all three metrics: n_child =
    count(*), n_child_keys = the relationship's lone COUNT(DISTINCT)
    (single-distinct planning — no Expand, the keyed exchange carries
    ~ndv partial rows), n_orphans = the count of non-null child keys
    with no parent match. The former shape paid TWO full child scans
    per relationship (a counts aggregate + a separate anti-join pass)
    plus a 1-row crossJoin reassembly; this pays one single-column
    scan, and composed consumers that prune the distinct
    (nightly_quality_report keeps only n_orphans) plan the branch as a
    pure map-side broadcast-join + 1-row count — zero data exchange.
    The left join counts exactly what the oracle's NOT IN counts
    BECAUSE parent keys are primary keys — unique and non-null at
    every SF (verified across sf0.001/0.01/0.1; a duplicate parent key
    would multiply joined rows where NOT IN does not, and a NULL
    parent key would already diverge the oracle's own NOT IN
    semantics). All-integer output — hash-exact."""
    frames = []
    for child, ck, parent, pk in _FK_RELS:
        cdf = load_table(spark, sf_dir, child)
        pdf = load_table(spark, sf_dir, parent)
        joined = cdf.select(F.col(ck).alias("__ck")).join(
            pdf.select(F.col(pk).alias("__pk")),
            F.col("__ck") == F.col("__pk"),
            "left",
        )
        frames.append(
            joined.agg(
                F.count("*").cast("long").alias("n_child"),
                F.countDistinct("__ck")
                .cast("long")
                .alias("n_child_keys"),
                F.count(
                    F.when(
                        F.col("__ck").isNotNull()
                        & F.col("__pk").isNull(),
                        1,
                    )
                )
                .cast("long")
                .alias("n_orphans"),
            ).select(
                F.lit(f"{child}.{ck} -> {parent}.{pk}").alias(
                    "relationship"
                ),
                "n_child",
                "n_child_keys",
                "n_orphans",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# Association rules over order baskets (support / confidence / lift)
# ---------------------------------------------------------------------------

_AR_MIN_PAIR = 2  # min basket co-occurrence for a rule


@register(
    "association_rules_lift",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
          FROM op),
    item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s_item
             FROM op GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS s_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_AR_MIN_PAIR}
    )
    SELECT p.pa, p.pb, p.s_pair, ia.s_item AS s_a, ib.s_item AS s_b,
           n.n_baskets,
           CAST(FLOOR(CAST(p.s_pair * 1000000 AS DOUBLE) / ia.s_item
                      + 0.5) AS BIGINT) AS conf_ab_micro,
           CAST(FLOOR(CAST(p.s_pair * 1000000 AS DOUBLE) / ib.s_item
                      + 0.5) AS BIGINT) AS conf_ba_micro,
           CAST(FLOOR(CAST(p.s_pair * n.n_baskets * 1000000 AS DOUBLE)
                      / CAST(ia.s_item * ib.s_item AS DOUBLE)
                      + 0.5) AS BIGINT) AS lift_micro
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.pa
    JOIN item ib ON ib.l_partkey = p.pb
    CROSS JOIN n
    """,
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every part pair
    co-occurring in >= {_AR_MIN_PAIR} orders, support, both confidence
    directions, and lift — market-basket analysis, the classic
    co-purchase recommender signal (and the batch twin of
    ``part_co_occurrence``, which stops at the pair graph).

    Scale shape: baskets collapse to DISTINCT (order, part) once; pair
    candidates come from ``upper_triangle_pairs`` over per-basket
    sorted arrays (bounded by each basket's own size — the oracle's
    self-join is exactly what this avoids); item supports are a
    dimension-sized broadcast. Confidence/lift are micro-unit floored
    divisions of exact ints."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket-array build (r13, guide §2.4): the former
    # (orderkey, partkey) DISTINCT paid a full exchange only to be
    # re-shuffled into per-basket sets; collect_set dedups per basket in
    # the same single exchange, and item supports / the basket count are
    # rollups of the array frame (each distinct (order, part) appears
    # exactly once across the exploded arrays).
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    ).localCheckpoint(eager=False)
    n = baskets.agg(F.count("*").alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("s_item"))
    )
    pair = (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("s_pair"))
        .filter(F.col("s_pair") >= _AR_MIN_PAIR)
    )
    ia = item.select(
        F.col("l_partkey").alias("pa"), F.col("s_item").alias("s_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("pb"), F.col("s_item").alias("s_b")
    )
    return (
        # no broadcast hint on per-item support: item cardinality
        # grows with the corpus — AQE decides (r12 audit)
        pair.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "s_pair",
            "s_a",
            "s_b",
            "n_baskets",
            F.floor(
                (F.col("s_pair") * 1000000).cast("double") / F.col("s_a")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("conf_ab_micro"),
            F.floor(
                (F.col("s_pair") * 1000000).cast("double") / F.col("s_b")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("conf_ba_micro"),
            F.floor(
                (F.col("s_pair") * F.col("n_baskets") * 1000000).cast(
                    "double"
                )
                / (F.col("s_a") * F.col("s_b")).cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) contribution classification
# ---------------------------------------------------------------------------


@register(
    "abc_classification_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS revenue
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(revenue) AS total FROM rev),
    c AS (
      SELECT l_partkey, revenue,
             SUM(revenue) OVER (
               ORDER BY revenue DESC, l_partkey
               ROWS UNBOUNDED PRECEDING) AS cum_revenue
      FROM rev
    ),
    s AS (
      SELECT l_partkey,
             CAST(revenue AS DOUBLE) AS revenue,
             CAST(cum_revenue AS DOUBLE) / CAST(tot.total AS DOUBLE)
               AS cum_share
      FROM c CROSS JOIN tot
    )
    SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(FLOOR(SUM(revenue) * 100 + 0.5) / 100 AS DOUBLE)
             AS class_revenue,
           CAST(FLOOR(MIN(cum_share) * 1000000 + 0.5) / 1000000
                AS DOUBLE) AS min_cum_share,
           CAST(FLOOR(MAX(cum_share) * 1000000 + 0.5) / 1000000
                AS DOUBLE) AS max_cum_share
    FROM s GROUP BY 1
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto contribution classification: parts ranked by
    revenue, classified A (first 80% of cumulative revenue), B (next
    15%), C (tail 5%) — the inventory/contribution analysis every BI
    deployment of the reference's indicator reports grows into.

    Scale shape: the fact table collapses FIRST to a per-part revenue
    aggregate (dimension-sized — the global cumulative window then
    runs over |parts| rows, not |lineitem|); cumulative revenue is an
    exact-decimal running sum with a (revenue, partkey) total order.
    For fact-scale cumulative shares (no aggregate to hide behind) the
    catalog's two-phase prefix-sum is the path
    (``equidepth_partition_boundaries``). Shares are decimal-exact
    numerators over one total, micro-rounded at the edge; class
    boundaries compare UNROUNDED shares."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        ).alias("revenue")
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    w = W.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = rev.withColumn("cum_revenue", F.sum("revenue").over(w))
    s = c.crossJoin(F.broadcast(tot)).select(
        F.col("revenue").cast("double").alias("revenue"),
        (
            F.col("cum_revenue").cast("double")
            / F.col("total").cast("double")
        ).alias("cum_share"),
    )
    abc = F.when(F.col("cum_share") <= 0.8, "A").when(
        F.col("cum_share") <= 0.95, "B"
    ).otherwise("C")
    return s.groupBy(abc.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        (
            F.floor(F.sum("revenue") * 100 + F.lit(0.5)) / 100
        ).cast("double").alias("class_revenue"),
        (
            F.floor(F.min("cum_share") * 1000000 + F.lit(0.5)) / 1000000
        ).cast("double").alias("min_cum_share"),
        (
            F.floor(F.max("cum_share") * 1000000 + F.lit(0.5)) / 1000000
        ).cast("double").alias("max_cum_share"),
    )


# ---------------------------------------------------------------------------
# Per-user activity entropy (information-theoretic profiling)
# ---------------------------------------------------------------------------


@register(
    "user_activity_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM c
          GROUP BY 1),
    term AS (
      SELECT c.user_id, c.c, n.n,
             CAST(FLOOR(c.c * ln(CAST(n.n AS DOUBLE) / c.c)
                        * 1000000 + 0.5) AS BIGINT) AS micro
      FROM c JOIN n USING (user_id)
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(micro) AS DOUBLE) / (1000000.0 * MAX(n))
             AS entropy_nats
    FROM term GROUP BY 1
    """,
)
def user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution (nats):
    H = Σ (c/n)·ln(n/c) — the information-theoretic activity profile
    (bots pin near 0 — one repeated action; exploratory users approach
    ln(5)). Completes the info-theory family: KL drift
    (``source_token_drift``), PSI (``value_drift_psi``), PMI
    (``token_pmi_collocations``), and now plain entropy.

    Scale shape: one (user, type)-keyed aggregate, then per-user terms
    — the n-per-user frame joins back on the SAME user key (no second
    events scan). Determinism: the bigram-LM recipe — ln of ONE
    division of exact ints, per-term micro floor, integer sum, one
    double division at the edge."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    n = c.groupBy("user_id").agg(F.sum("c").cast("long").alias("n"))
    term = c.join(n, "user_id").select(
        "user_id",
        "c",
        "n",
        F.floor(
            F.col("c")
            * F.log(F.col("n").cast("double") / F.col("c"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("micro"),
    )
    return term.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").alias("n_types"),
        (
            F.sum("micro").cast("double")
            / (F.lit(1000000.0) * F.max("n"))
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Readability scoring (text-analysis family)
# ---------------------------------------------------------------------------


@register(
    "text_readability_scores",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(list_filter(
               regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
               AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(FLOOR((206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                      * 10000 + 0.5) / 10000 AS DOUBLE)
             AS flesch_score
    FROM m WHERE n_words > 0
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document from three regex-derived
    counts: words (whitespace tokens), sentences (terminal-punctuation
    groups, floor 1), syllables (vowel groups — the standard cheap
    proxy) — the readability lane of corpus quality profiling beside
    ``text_lang_quality``'s stopword/punctuation heuristics.

    Scale shape: pure map-side projection (three regex counts + scalar
    arithmetic per row), no shuffle at all — the cheapest possible
    plan class. Determinism: counts are exact ints from identical
    regex semantics on both engines; the score is two int divisions
    folded in one fixed op tree, det-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
        )
    ).cast("long")
    n_sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    n_syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "*",
        (F.floor(score * 10000 + F.lit(0.5)) / 10000)
        .cast("double")
        .alias("flesch_score"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of revenue concentration
# ---------------------------------------------------------------------------


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
      FROM rev
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(i * x) AS six
      FROM r
    )
    SELECT n,
           CAST(sx AS DOUBLE) AS total_revenue,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) AS gini
    FROM g
    """,
)
def gini_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality scalar
    behind every concentration dashboard (0 = revenue spread evenly,
    ->1 = a few customers carry everything); pairs with
    ``abc_classification_parts``' discrete Pareto classes.

    Uses the rank identity G = (2·Σi·x_(i) − (n+1)·Σx) / (n·Σx) over
    ascending-sorted values, so the whole statistic is exact decimal
    arithmetic (bigint rank × decimal value) until ONE double division
    at the edge — no per-pair |x_i − x_j| comparison (the naive O(n²)
    definition). Scale shape: fact rows collapse to the per-customer
    aggregate first; the global rank window runs over that
    dimension-sized frame (fact-scale ranking would route through the
    two-phase prefix sum, ``equidepth_partition_boundaries``)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("x")
    )
    r = rev.select(
        "x",
        F.row_number()
        .over(W.orderBy(F.asc("x"), F.asc("o_custkey")))
        .alias("i"),
    )
    g = r.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return g.select(
        "n",
        F.col("sx").cast("double").alias("total_revenue"),
        (
            (F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            .cast("double")
            / (F.col("n") * F.col("sx")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC-style reconciliation)
# ---------------------------------------------------------------------------

# Deterministic synthetic snapshots of `orders`:
#   A (yesterday) = all rows except orderkey % 89 == 0 ("added later")
#   B (today)     = all rows except orderkey % 97 == 0 ("deleted"),
#                   with totalprice re-stated for orderkey % 101 == 0
_SNAP_DIFF_SQL = """
    a AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|'
                 || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
                 || '|' || o_orderstatus) AS fp
      FROM orders WHERE o_orderkey % 89 <> 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|'
                 || CAST(CASE WHEN o_orderkey % 101 = 0
                              THEN CAST(o_totalprice AS DECIMAL(12,2))
                                   + 1
                              ELSE CAST(o_totalprice AS DECIMAL(12,2))
                         END AS VARCHAR)
                 || '|' || o_orderstatus) AS fp
      FROM orders WHERE o_orderkey % 97 <> 0
    )
"""


@register(
    "snapshot_diff_report",
    oracle=f"""
    WITH {_SNAP_DIFF_SQL},
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.fp <> b.fp THEN 'changed'
                  ELSE 'unchanged' END AS verdict
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key
    FROM d GROUP BY 1
    """,
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot reconciliation: diff two table snapshots into
    added / removed / changed / unchanged classes via ONE full-outer
    join on the key with per-row content FINGERPRINTS (md5 over the
    tracked columns) — the nightly "what moved since yesterday" report
    behind every warehouse sync audit, and the set-level sibling of
    ``observations_last_wins_upsert``'s row-level merge. Snapshots are
    carved deterministically from `orders` (key-modulus adds, deletes,
    and a re-stated price) so both engines derive identical inputs.

    Scale shape (r14, guide §2.4): both snapshots are carved from the
    SAME table on its unique primary key, so the full-outer join is a
    row-wise identity — each orders row yields its verdict directly
    (in-a/in-b membership from the key moduli, 'changed' from the two
    fingerprints computed side by side) and the only shuffle left is
    the 4-row verdict aggregate with map-side partials. The former
    shape scanned orders twice and sort-merge-joined two fact-sized
    (key, fp) frames. Exactness: o_orderkey is unique and non-null at
    every SF (verified sf0.001/0.01/0.1; with duplicate keys a full
    outer join would emit M×N matched rows and the per-row form would
    not), and rows outside both snapshots (k%89=0 AND k%97=0) are
    filtered — they never enter the join. Fingerprints that receive
    byte-identical input strings (k%101<>0 — no restated price) are
    equal by md5 determinism, so only the ~1% restated rows compute
    the two md5s for the 'changed' test, exactly as the oracle
    compares them. When the snapshots genuinely are two different
    tables (the production CDC case), the former join form applies —
    this entry's contract fixes both snapshots to deterministic carves
    of `orders`."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    k = F.col("o_orderkey")

    def fp(p) -> F.Column:
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                p.cast("string"),
                F.col("o_orderstatus"),
            )
        )

    restated = F.when(k % 101 == 0, price + 1).otherwise(price)
    verdict = (
        F.when(k % 89 == 0, "added")  # not in A (in B: filter below)
        .when(k % 97 == 0, "removed")  # in A, not in B
        # in both: fp_a <> fp_b can only differ where the input strings
        # differ, i.e. on restated rows — md5 is deterministic
        .when(k % 101 != 0, "unchanged")
        .when(fp(price) != fp(restated), "changed")
        .otherwise("unchanged")
    )
    d = orders.filter((k % 89 != 0) | (k % 97 != 0)).select(
        k.alias("k"), verdict.alias("verdict")
    )
    return d.groupBy("verdict").agg(
        F.count("*").alias("n"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (batch-effect correction)
# ---------------------------------------------------------------------------


@register(
    "quantile_normalize_sources",
    oracle="""
    WITH counts AS (
      SELECT value AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM counts),
    ranks AS (
      SELECT k, (k * n.n_rows + 9) // 10 AS r
      FROM generate_series(1, 10) AS g(k) CROSS JOIN n
    ),
    bounds AS (
      SELECT k, CAST(MIN(v) AS DOUBLE) AS boundary
      FROM cum JOIN ranks ON cum.cum >= ranks.r
      GROUP BY 1
    ),
    s AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_s
      FROM events
    ),
    mapped AS (
      SELECT event_type, value,
             (rk * 10 + n_s - 1) // n_s AS p
      FROM s
    )
    SELECT m.event_type, m.p AS bucket, b.boundary AS mapped_value,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(m.value) AS DOUBLE) AS src_min,
           CAST(MAX(m.value) AS DOUBLE) AS src_max
    FROM mapped m JOIN bounds b ON b.k = m.p
    GROUP BY 1, 2, 3
    """,
)
def quantile_normalize_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization: map every source's (event type's) value
    distribution onto the CORPUS decile scale — rank within source →
    decile bucket → corpus boundary value. The batch-effect correction
    that makes heterogeneous sources comparable before pooled training
    (expression arrays, sensor fleets, per-crawl quality scores).

    Scale shape: the corpus side never globally sorts raw rows —
    boundaries come from a distinct-value count frame + the two-phase
    prefix sum (same machinery as ``equidepth_partition_boundaries``)
    and reduce to a 10-row broadcast; per-source ranks use the keyed
    source window. Bucket assignment is integer CEILING division
    ``(rk*10 + n_s - 1) DIV n_s`` (positive operands — the Spark DIV
    vs DuckDB // guard), so every mapping decision is exact-int."""
    from pyspark.sql import Window as W

    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(F.col("value").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    counts = counts.localCheckpoint(eager=False)
    cum = two_phase_prefix_sum(counts, ["v"], "cnt", out_col="cum")
    n_rows = F.broadcast(counts.agg(F.sum("cnt").alias("n_rows")))
    ranks = (
        spark.range(1, 11)
        .toDF("k")
        .crossJoin(n_rows)
        .select(
            "k",
            F.expr("(k * n_rows + 9) DIV 10").cast("bigint").alias("r"),
        )
    )
    bounds = (
        cum.join(F.broadcast(ranks), F.col("cum") >= F.col("r"))
        .groupBy("k")
        .agg(F.min("v").cast("double").alias("boundary"))
    )
    w = W.partitionBy("event_type")
    s = events.select(
        "event_type",
        "value",
        F.row_number()
        .over(w.orderBy("value", "event_id"))
        .alias("rk"),
        F.count("*").over(w).alias("n_s"),
    )
    mapped = s.select(
        "event_type",
        "value",
        F.expr("(rk * 10 + n_s - 1) DIV n_s").alias("p"),
    )
    return (
        mapped.join(
            F.broadcast(bounds), F.col("p") == F.col("k")
        )
        .groupBy(
            "event_type",
            F.col("p").alias("bucket"),
            F.col("boundary").alias("mapped_value"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("src_min"),
            F.max("value").cast("double").alias("src_max"),
        )
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: leave-one-out hit-rate@3 for the co-occurrence
# recommender
# ---------------------------------------------------------------------------


@register(
    "basket_recommender_hitrate",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sz AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
           FROM op GROUP BY 1),
    eligible AS (SELECT l_orderkey, n_items FROM sz WHERE n_items >= 2),
    holdout AS (
      SELECT op.l_orderkey, MAX(op.l_partkey) AS h
      FROM op JOIN eligible USING (l_orderkey) GROUP BY 1
    ),
    context AS (
      SELECT op.l_orderkey, op.l_partkey AS i
      FROM op JOIN holdout USING (l_orderkey)
      WHERE op.l_partkey <> holdout.h
    ),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS s_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    cand AS (
      SELECT c.l_orderkey, p.pb AS j,
             MAX(p.s_pair
                 - CASE WHEN p.pb = h.h THEN 1 ELSE 0 END) AS score
      FROM context c
      JOIN pair p ON p.pa = c.i
      JOIN holdout h ON h.l_orderkey = c.l_orderkey
      WHERE NOT EXISTS (
        SELECT 1 FROM context c2
        WHERE c2.l_orderkey = c.l_orderkey AND c2.i = p.pb
      )
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_orderkey, j,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY score DESC, j) AS rk
      FROM cand
    ),
    verdict AS (
      SELECT e.l_orderkey, LEAST(e.n_items, 5) AS size_bucket,
             CASE WHEN EXISTS (
               SELECT 1 FROM ranked r JOIN holdout h
                 ON h.l_orderkey = r.l_orderkey
               WHERE r.l_orderkey = e.l_orderkey
                 AND r.rk <= 3 AND r.j = h.h
             ) THEN 1 ELSE 0 END AS hit
      FROM eligible e
    )
    SELECT size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_baskets,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS hitrate
    FROM verdict GROUP BY 1
    """,
)
def basket_recommender_hitrate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out evaluation of the co-occurrence recommender:
    hold out each basket's max-partkey item, recommend top-3 co-items
    of the remaining context by co-occurrence count, report hit-rate@3
    per basket-size bucket — the eval harness that turns
    ``association_rules_lift`` from a table into a measured
    recommender (the retrieval sibling of ``ann_recall_eval``).

    The holdout LEAKAGE is corrected exactly, not approximately: the
    evaluated basket contributed exactly 1 to every (context-item,
    holdout) pair count, so scoring subtracts 1 from candidates equal
    to the basket's own holdout — integer-exact leave-one-basket-out.
    (The candidate-support threshold stays pre-adjustment; documented
    optimism of one count at the margin.)

    Scale shape: pair counts come from the directed co-occurrence
    aggregate (the same bounded frame association rules use, built
    once and checkpointed); per-basket candidates are context-degree
    bounded and in production truncate to per-item top-k; ranking is
    one basket-keyed window; every score is an exact int, the final
    hit-rate one division."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket-array build (r13, guide §2.4): the former
    # (orderkey, partkey) DISTINCT + three separate shuffles/joins for
    # sizes, holdouts and contexts are all projections of the sorted
    # per-basket set — size = array length, holdout (max partkey) = the
    # LAST element, context = everything but the last. One exchange
    # replaces four, and the holdout/context joins disappear.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    ).localCheckpoint(eager=False)
    ebask = baskets.filter(F.size("parts") >= 2).select(
        "l_orderkey",
        F.size("parts").alias("n_items"),
        F.element_at("parts", -1).alias("h"),
        F.slice("parts", 1, F.size("parts") - 1).alias("ctx"),
    ).localCheckpoint(eager=False)  # reused: candidate gen + verdict
    # directed pair counts from per-basket arrays (generator, no
    # self-join): emit both directions of each upper-triangle pair
    und = (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("s_pair"))
        .filter(F.col("s_pair") >= 2)
        .localCheckpoint(eager=False)  # read twice by the union below
    )
    pair = und.unionByName(
        und.select(
            F.col("pb").alias("pa"),
            F.col("pa").alias("pb"),
            "s_pair",
        )
    )
    context = ebask.select(
        "l_orderkey", "h", "ctx", F.explode("ctx").alias("i")
    )
    # in-basket candidate exclusion is a map-side array_contains on the
    # carried context array (r13) — the former left-anti join shuffled
    # the exploded candidate frame a second time for the same predicate.
    # The holdout adjustment (subtract the evaluated basket's own
    # contribution when the candidate IS the holdout) is constant within
    # a (basket, candidate) group, so it moves AFTER the max-aggregate:
    # max(s_pair - adj) == max(s_pair) - adj. The aggregate now runs
    # map-side partial aggregation on the exploded frame instead of
    # shipping every candidate row through the anti-join first.
    cand = (
        context.join(pair, F.col("i") == F.col("pa"))
        .filter(~F.array_contains("ctx", F.col("pb")))
        .groupBy("l_orderkey", F.col("pb").alias("j"))
        .agg(
            F.max("s_pair").alias("mx"),
            F.first("h").alias("h"),  # constant within the basket
        )
        .select(
            "l_orderkey",
            "j",
            "h",
            (
                F.col("mx")
                - F.when(F.col("j") == F.col("h"), 1).otherwise(0)
            ).alias("score"),
        )
    )
    from pyspark.sql import Window as W

    ranked = cand.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("l_orderkey").orderBy(
                F.desc("score"), F.asc("j")
            )
        ),
    ).filter(F.col("rk") <= 3)
    # h rides on the ranked rows — no holdout join; j is unique per
    # basket post-aggregate, so at most one row matches
    hits = (
        ranked.filter(F.col("j") == F.col("h"))
        .select("l_orderkey")
        .withColumn("hit", F.lit(1))
    )
    verdict = ebask.join(hits, "l_orderkey", "left").select(
        F.least(F.col("n_items"), F.lit(5)).alias("size_bucket"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    return verdict.groupBy("size_bucket").agg(
        F.count("*").alias("n_baskets"),
        F.sum("hit").cast("long").alias("n_hits"),
        (F.sum("hit").cast("double") / F.count("*")).alias("hitrate"),
    )


# ---------------------------------------------------------------------------
# Label-noise detection via k-NN disagreement
# ---------------------------------------------------------------------------


def _label_noise_from_scored(scored: DataFrame) -> DataFrame:
    """Shared tail of the label-noise pass: rank each vector's
    candidate neighbors (cosine DESC, id ASC), keep the top 5, count
    label disagreement, aggregate per class. Used by the registered
    cell-blocked entry AND the brute-force ground truth the recall
    test compares against — one spelling, so they can only differ in
    how candidates were generated."""
    nn = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("va").orderBy(
                F.desc("sim"), F.asc("vb")
            )
        ),
    ).filter(F.col("rk") <= 5)
    per = nn.groupBy("va", "la").agg(
        F.sum(F.when(F.col("lb") != F.col("la"), 1).otherwise(0))
        .cast("long")
        .alias("n_diff")
    )
    return per.groupBy(F.col("la").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("n_diff") >= 4, 1).otherwise(0))
        .cast("long")
        .alias("n_suspects"),
        F.sum("n_diff").cast("long").alias("total_disagreement"),
        (
            F.sum("n_diff").cast("double") / (F.lit(5) * F.count("*"))
        ).alias("disagreement_rate"),
    )


def label_noise_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs ground truth for the label-noise pass —
    deliberately NOT registered (O(n²) compute; the r7 verdict's one
    scale-killer). It exists only as the recall baseline the blocked
    entry is tested against (tests/test_llm_ops.py), exactly as
    ``embedding_cosine_topk`` anchors ``ann_recall_eval``."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        F.col("embedding").alias("a_vec"),
        S.norm(F.col("embedding")).alias("a_norm"),
    )
    b = emb.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("b_vec"),
        S.norm(F.col("embedding")).alias("b_norm"),
    )
    scored = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "la",
            "vb",
            "lb",
            (
                S.dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm"))
            ).alias("sim"),
        )
    )
    return _label_noise_from_scored(scored)


_LN_KM_ITERS = 2  # same 2-round trained codebook as ivf_trained_ann_topk


def _label_noise_oracle() -> str:
    cos_vc = _COS64_SQL.format(a="v.embedding", b="c.cvec")
    cos_ab = _COS64_SQL.format(a="qa.embedding", b="qb.embedding")
    # K derives from the corpus count in BOTH engines (r11, VERDICT
    # r10 #2): at the gate fixtures (500-2000 vectors / 250-per-cell
    # target) the derived K is the floor 8 — the original contract —
    # while at 10x data the oracle and the Spark default both scale K
    # so the entry never re-enters the quadratic regime.
    return f"""
    WITH {_kmeans_ctes(iters=_LN_KM_ITERS, k_sql=_adaptive_k_sql("embeddings"))},
    cent AS (
      SELECT cid AS centroid_id,
             list_transform(ci, x -> CAST(x AS DOUBLE) / 1000000.0)
               AS cvec
      FROM cent{_LN_KM_ITERS}
    ),
    ranked_cells AS (
      SELECT v.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {cos_vc} DESC, c.centroid_id
             ) AS crank
      FROM embeddings v, cent c
    ),
    own AS (
      SELECT vec_id, centroid_id FROM ranked_cells WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id, centroid_id FROM ranked_cells WHERE crank <= 2
    ),
    scored AS (
      SELECT p.vec_id AS va, qa.label AS la,
             o.vec_id AS vb, qb.label AS lb,
             {cos_ab} AS sim
      FROM probes p
      JOIN own o ON o.centroid_id = p.centroid_id
                AND o.vec_id <> p.vec_id
      JOIN embeddings qa ON qa.vec_id = p.vec_id
      JOIN embeddings qb ON qb.vec_id = o.vec_id
    ),
    nn AS (
      SELECT va, la, lb,
             row_number() OVER (PARTITION BY va
                                ORDER BY sim DESC, vb) AS rk
      FROM scored
    ),
    per AS (
      SELECT va, la,
             CAST(SUM(CASE WHEN lb <> la THEN 1 ELSE 0 END) AS BIGINT)
               AS n_diff
      FROM nn WHERE rk <= 5 GROUP BY 1, 2
    )
    SELECT la AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN n_diff >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suspects,
           CAST(SUM(n_diff) AS BIGINT) AS total_disagreement,
           CAST(SUM(n_diff) AS DOUBLE) / (5 * COUNT(*))
             AS disagreement_rate
    FROM per GROUP BY 1
    """


@register("label_noise_knn_disagreement", oracle=_label_noise_oracle())
def label_noise_knn_disagreement(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    blocking: str = "auto",
    coarse_k: int = 8,
    nprobe_coarse: int = 2,
    nprobe_fine: int = 1,
) -> DataFrame:
    """Label-noise detection by neighborhood voting: for every labeled
    embedding, how many of its 5 nearest CANDIDATE neighbors (cosine)
    carry a DIFFERENT label — vectors whose neighborhoods outvote them
    (>=4/5) are mislabeling suspects (confident-learning family),
    reported per label class. Candidates are CELL-BLOCKED: a trained
    k-means codebook (2 Lloyd rounds, K=8, the hash-oracled micro-unit
    loop) partitions the corpus; each vector's neighborhood forms only
    inside its 2 nearest cells (own + probe — the IVF contract), never
    all-pairs. r7's verdict flagged the previous brute-force spelling
    as the catalog's one O(n²) scale-killer; the exact version survives
    as ``label_noise_knn_brute``, the unregistered ground truth the
    recall test compares against (the ``ann_recall_eval`` pattern).

    Scale shape: training is the bounded Lloyd loop (K-row broadcast
    codebook per round); candidate generation is ONE equi-join on
    ``centroid_id`` between the probe frame (n·2 rows) and the own-cell
    frame (n rows) — shuffle-partitionable by cell, |corpus|·nprobe/K
    comparisons per vector instead of |corpus|. A vector pairs with a
    candidate at most once (its probe cells are distinct; the
    candidate's own cell is unique), so no dedup stage. K grows ~√n at
    fleet scale to keep cells bounded. Disagreement counts are exact
    ints; the per-class rate is one division of identical ints.

    ``k`` is the codebook size; the DEFAULT (``None``) derives it from
    a one-row corpus count as ⌈n / 250⌉ floored at 8 (r11, VERDICT r10
    #2: the registered default must be the scale-safe path). Per-cell
    candidate work is quadratic in cell density, so holding K fixed
    while the corpus grows 10x costs ~100x in the join (measured:
    PROBE_r10.json's 57x at 10x data with k=8 vs ~linear with k=80 —
    exactly what the adaptive rule yields at that scale). The ORACLE
    derives the SAME K via a dynamic-LIMIT scalar subquery
    (``_adaptive_k_sql``), so both engines stay pinned at every scale;
    at the gate fixtures the derived K equals the floor 8, the
    original contract.

    ``blocking="two_level"`` (r12) is the WIRED escalation past the
    flat crossover (n ≈ 2·target_cell²): unlike the hard-assignment
    dedup census (``semantic_cluster_dedup``), this kernel
    multi-probes, so the escalation is ``S.two_level_multiprobe`` —
    rank the coarse codebook (coarse_k rows, broadcast,
    ``nprobe_coarse`` cells), then within each probed coarse cell rank
    that cell's fine codebook (equi-join on the coarse id +
    per-(vector, coarse) window, ``nprobe_fine`` cells) — the IVF
    nprobe contract one level down. The DEFAULT escalation shape is
    (2, 1): two probed coarse cells, the nearest fine cell in each —
    the SAME 2-candidate-cell budget as the flat path's nprobe=2, so
    the escalation isolates the ranking-term savings instead of
    doubling the pair work. MEASURED (tools/crossover_probe.py, r13):
    at 128k vectors — just past the crossover — (2,1) reads parity
    with flat (0.93×, clean window) and at 256k it wins 1.50× with
    diverging growth exponents (flat 4.22× vs two-level 2.61× per
    corpus doubling); the r12 (2,2) shape LOSES 0.75× even at 128k —
    its 4 candidate cells double the dominant per-pair cosine work.
    Pass ``nprobe_fine=2`` to trade that cost for the wider
    neighborhoods. With
    ``coarse_k=1`` and ``nprobe_fine=2`` above the flat K floor the
    escalated path is provably identical to the flat one (pinned by
    ``test_label_noise_two_level_equals_flat_at_coarse_1`` — the
    identity needs the (2,2) shape: one coarse cell collapses the
    coarse probes, so the two flat-probed cells come from the fine
    ranking).

    ``blocking="auto"`` — the REGISTERED DEFAULT since r13 (VERDICT
    r12 #3: a fleet user must not need to know the SCALE.md crossover
    rule to get the scale-safe plan) — picks the mode from the same
    eager corpus count the adaptive-K default already pays:
    ``S.blocking_mode_for(n)`` escalates to the two-level multi-probe
    at n ≥ ``S.TWO_LEVEL_CROSSOVER``, flat below it. The gate
    fixtures (≤ 2,000 embeddings at sf0.1) sit far below the
    crossover, so auto ≡ flat there and the flat-derivation oracle
    stays the pin; the switch itself is pinned by
    ``test_label_noise_auto_escalates_past_crossover``."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = None
    if blocking == "auto":
        n = emb.count()
        blocking = S.blocking_mode_for(n)
    if blocking == "two_level":
        # ESCALATION PATH (r12): the grouped multi-probe described in
        # the docstring, over the trained two-level codebook. Cell key
        # = (coarse, fine) packed (coarse in the high 32 bits — with
        # coarse_k=1 the keys equal the flat fine ids, the equivalence
        # the pytest pins). Not the registered default: the gate
        # fixtures sit far below the crossover and the oracle pins the
        # flat derivation.
        cells2 = S.two_level_multiprobe(
            emb,
            coarse_k=coarse_k,
            iters=_LN_KM_ITERS,
            nprobe_coarse=nprobe_coarse,
            nprobe_fine=nprobe_fine,
        ).localCheckpoint(eager=False)
        key = (
            F.col("coarse_cid").cast("long") * F.lit(2**32)
            + F.col("fine_cid")
        ).alias("centroid_id")
        own = cells2.filter(
            (F.col("crank_c") == 1) & (F.col("crank_f") == 1)
        ).select(F.col("vec_id").alias("vb"), key)
        probes = cells2.select(F.col("vec_id").alias("va"), key)
    elif blocking == "flat":
        if k is None:
            # auto mode already paid the count — reuse its n
            k = S.adaptive_codebook_k(emb, n=n)
        cent, _ = S.kmeans_lloyd_micro(emb, k=k, iters=_LN_KM_ITERS)
        centroids = cent.select(
            F.col("cid").alias("vec_id"),
            F.transform(
                "ci", lambda x: x.cast("double") / 1000000.0
            ).alias("embedding"),
        )
        # One ranking pass yields both frames: own cell = crank 1,
        # probe cells = crank <= 2 (checkpointed: the window runs once)
        cells = (
            S.assign_clusters(emb, centroids, n_assign=2)
            .localCheckpoint(eager=False)
        )
        own = cells.filter(F.col("crank") == 1).select(
            F.col("vec_id").alias("vb"), "centroid_id"
        )
        probes = cells.select(F.col("vec_id").alias("va"), "centroid_id")
    else:
        raise ValueError(f"unknown blocking mode: {blocking!r}")
    a = emb.select(
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        F.col("embedding").alias("a_vec"),
        S.norm(F.col("embedding")).alias("a_norm"),
    ).join(probes, "va")
    b = emb.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("b_vec"),
        S.norm(F.col("embedding")).alias("b_norm"),
    ).join(own, "vb")
    # The cell join EXPLODES tiny inputs (n + 2n rows) into ~n²·2/K
    # candidate rows; without an explicit spread the interpreted
    # higher-order cosine evaluates in the join's few input partitions
    # (the batch-9 textrank idiom: repartition BEFORE the expensive
    # projection). Keying by va pre-positions rows for the 5-NN window,
    # so the ranking reuses this exchange instead of adding one.
    cand = (
        a.join(b, "centroid_id")
        .filter(F.col("va") != F.col("vb"))
        .repartition(F.col("va"))
    )
    scored = cand.select(
        "va",
        "la",
        "vb",
        "lb",
        (
            S.dot(F.col("a_vec"), F.col("b_vec"))
            / (F.col("a_norm") * F.col("b_norm"))
        ).alias("sim"),
    )
    return _label_noise_from_scored(scored)


# ---------------------------------------------------------------------------
# Vocabulary-size OOV curve (tokenizer sizing)
# ---------------------------------------------------------------------------

_VOCAB_SWEEP = (4, 8, 16, 24)


@register(
    "vocab_size_oov_curve",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_toks_of_norm('text')}) AS tok FROM documents
    ),
    cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks
            GROUP BY 1),
    ranked AS (
      SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rk
      FROM cnt
    ),
    j AS (SELECT r.rk FROM toks t JOIN ranked r ON r.tok = t.tok)
    SELECT v.n AS vocab_size,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM j) AS n_tokens,
           (SELECT CAST(SUM(CASE WHEN rk > v.n THEN 1 ELSE 0 END)
                        AS BIGINT) FROM j) AS n_oov,
           (SELECT CAST(SUM(CASE WHEN rk > v.n THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) FROM j) AS oov_rate
    FROM (VALUES {", ".join(f"({n})" for n in _VOCAB_SWEEP)}) v(n)
    """,
)
def vocab_size_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV rate as a function of vocabulary size (top-N by frequency,
    N in {_VOCAB_SWEEP}) — the coverage CURVE that sizes a tokenizer,
    where ``vocab_oov_rate`` reports one point of it per document.

    Scale shape (r13): the corpus tokenizes ONCE into per-token counts;
    ``n_oov(n) = n_tokens − Σ c over the top-n tokens``, so the sweep
    needs only the GLOBAL TOTAL (one 1-row aggregate) and the top
    max(sweep) tokens — a parallel TakeOrdered, never a vocab-wide
    single-partition rank window, and never a second pass over the
    token stream (the former shape re-tokenized the corpus to join it
    back against the ranked vocabulary, and its global row_number
    serialized the whole vocab through one task — the in-lane variance
    the bench kept showing). Ranks break count ties by token (total
    order); the rate is one division of exact ints per row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        )
    )
    cnt = toks.groupBy("tok").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)  # feeds the total AND the top-k
    tot = cnt.agg(F.sum("c").cast("long").alias("n_tokens"))
    kmax = max(_VOCAB_SWEEP)
    # TakeOrderedAndProject: parallel per-partition top-k + a k-row
    # merge — the bounded replacement for the global rank window
    top = cnt.orderBy(F.desc("c"), F.asc("tok")).limit(kmax)
    topr = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("tok")))
        .alias("rn"),  # window input is <= kmax rows by construction
    )
    cov = topr.agg(
        *[
            F.sum(F.when(F.col("rn") <= n, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"cov_{n}")
            for n in _VOCAB_SWEEP
        ]
    )
    one = tot.crossJoin(F.broadcast(cov))
    sweep = spark.createDataFrame(
        [(n,) for n in _VOCAB_SWEEP], "vocab_size int"
    )
    n_oov = F.coalesce(
        *[
            F.when(
                F.col("vocab_size") == n,
                F.col("n_tokens") - F.col(f"cov_{n}"),
            )
            for n in _VOCAB_SWEEP
        ]
    )
    return sweep.crossJoin(F.broadcast(one)).select(
        "vocab_size",
        "n_tokens",
        n_oov.alias("n_oov"),
        (n_oov.cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate (churn curve with censoring)
# ---------------------------------------------------------------------------


@register(
    "survival_kaplan_meier",
    oracle="""
    WITH horizon AS (
      SELECT MAX(date_trunc('day', ts)) AS hmax FROM events
    ),
    u AS (
      SELECT user_id,
             CAST(date_diff('day', date_trunc('day', MIN(ts)),
                            date_trunc('day', MAX(ts))) AS BIGINT)
               AS duration,
             CASE WHEN date_trunc('day', MAX(ts))
                       >= (SELECT hmax FROM horizon)
                  THEN 0 ELSE 1 END AS event
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT duration,
             CAST(SUM(event) AS BIGINT) AS d,
             CAST(SUM(1 - event) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM u GROUP BY 1
    ),
    risk AS (
      SELECT duration, d, c,
             CAST((SELECT CAST(COUNT(*) AS BIGINT) FROM u)
               - (SUM(leaving) OVER (ORDER BY duration
                                     ROWS UNBOUNDED PRECEDING)
                  - leaving) AS BIGINT) AS n_risk
      FROM grid
    ),
    terms AS (
      SELECT duration, d, c, n_risk,
             CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_risk > d THEN
                    CAST(FLOOR(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                               * 1000000 + 0.5) AS BIGINT)
                  ELSE NULL END AS micro,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
      FROM risk
    ),
    cum AS (
      SELECT duration, d, c, n_risk,
             CAST(SUM(micro) OVER w AS BIGINT) AS log_surv_micro,
             MAX(dead) OVER w AS any_dead
      FROM terms
      WINDOW w AS (ORDER BY duration ROWS UNBOUNDED PRECEDING)
    )
    SELECT duration AS duration_days, n_risk, d AS n_events,
           c AS n_censored,
           CASE WHEN any_dead = 1 THEN NULL
                ELSE log_surv_micro END AS log_surv_micro,
           CASE WHEN any_dead = 1 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(FLOOR(exp(log_surv_micro / 1000000.0)
                                * 1000000 + 0.5) / 1000000 AS DOUBLE)
           END AS survival
    FROM cum WHERE d > 0
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (first->last
    event day), with users still active on the corpus horizon day
    RIGHT-CENSORED (they leave the risk set without counting as
    churn) — the churn/retention curve estimator, a statistical family
    none of the moment/rank entries cover.

    Determinism: the product Π(1 - dᵢ/nᵢ) moves to LOG SPACE — each
    factor is ln of ONE exact-int division, micro-floored, and the
    running product becomes an integer cumulative sum (float products
    would be order-sensitive); survival re-exponentiates once at the
    edge. The d = n_risk boundary (curve hits zero) short-circuits via
    an integer flag instead of ln(0). Scale shape: the event stream
    collapses to one row per user FIRST; everything after runs on the
    distinct-duration grid (bounded by the time horizon, not the user
    count), with suffix risk counts from one cumulative window."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(
        F.max(F.date_trunc("day", F.col("ts"))).alias("hmax")
    )
    u = (
        events.groupBy("user_id")
        .agg(
            F.date_trunc("day", F.min("ts")).alias("f"),
            F.date_trunc("day", F.max("ts")).alias("l"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr("timestampdiff(DAY, f, l)").cast("long").alias(
                "duration"
            ),
            F.when(
                F.col("l") >= F.col("hmax"), 0
            )
            .otherwise(1)
            .alias("event"),
        )
    )
    u = u.localCheckpoint(eager=False)
    n_total = u.agg(F.count("*").alias("n_total"))
    grid = u.groupBy("duration").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("event")).cast("long").alias("c"),
        F.count("*").alias("leaving"),
    )
    w = W.orderBy("duration").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = grid.crossJoin(F.broadcast(n_total)).select(
        "duration",
        "d",
        "c",
        (
            F.col("n_total")
            - (F.sum("leaving").over(w) - F.col("leaving"))
        ).alias("n_risk"),
    )
    micro = (
        F.when(F.col("d") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("n_risk") > F.col("d"),
            F.floor(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1000000
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
    )
    dead = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.select(
        "duration", "d", "c", "n_risk",
        micro.alias("micro"), dead.alias("dead"),
    )
    cum = terms.select(
        "duration",
        "d",
        "c",
        "n_risk",
        F.sum("micro").over(w).alias("log_surv_micro"),
        F.max("dead").over(w).alias("any_dead"),
    )
    return cum.filter(F.col("d") > 0).select(
        F.col("duration").alias("duration_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(
            F.col("any_dead") == 1, F.lit(None).cast("bigint")
        )
        .otherwise(F.col("log_surv_micro"))
        .alias("log_surv_micro"),
        F.when(F.col("any_dead") == 1, F.lit(0.0))
        .otherwise(
            (
                F.floor(
                    F.exp(F.col("log_surv_micro") / F.lit(1000000.0))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).cast("double")
        )
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Dominant principal component via integer power iteration (5th iterative
# family: pagerank, connected components, k-means, BPE, now power iteration)
# ---------------------------------------------------------------------------

_PI_ITERS = 3


def _pi_iter_sql(prev: str, cur: str) -> str:
    """One unrolled power-iteration round: u = G·w, then max-abs
    normalization back to 1e6 scale with sign-safe integer division
    (abs() first — HUGEINT // floors toward -inf while Spark DIV
    truncates toward 0; they agree on non-negative operands only)."""
    return f"""
    u{cur} AS (
      SELECT da AS d, SUM(g * {prev}.w) AS u
      FROM gram JOIN {prev} ON gram.db = {prev}.d GROUP BY 1
    ),
    m{cur} AS (SELECT MAX(abs(u)) AS m FROM u{cur}),
    {cur} AS (
      SELECT d,
             (CASE WHEN u < 0 THEN -1 ELSE 1 END)
             * ((abs(u) * 1000000)
                // (SELECT NULLIF(m, 0) FROM m{cur})) AS w
      FROM u{cur}
    )"""


@register(
    "embedding_power_iteration",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, g.d,
             CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings, generate_series(1, 64) g(d)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    s AS (SELECT d, CAST(SUM(x) AS BIGINT) AS sd FROM q GROUP BY 1),
    y AS (
      SELECT q.vec_id, q.d, (n.n * q.x - s.sd) AS y
      FROM q JOIN s USING (d) CROSS JOIN n
    ),
    gram AS (
      SELECT a.d AS da, b.d AS db,
             SUM(CAST(a.y AS HUGEINT) * b.y) AS g
      FROM y a JOIN y b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    w0 AS (SELECT g.d, CAST(1000000 AS HUGEINT) AS w
           FROM generate_series(1, 64) g(d)),
    {_pi_iter_sql('w0', 'w1')},
    {_pi_iter_sql('w1', 'w2')},
    {_pi_iter_sql('w2', 'w3')}
    SELECT d AS dim, CAST(w AS BIGINT) AS w_micro,
           CAST((SELECT m FROM mw3) AS DOUBLE) AS lambda_scale
    FROM w3
    """,
)
def embedding_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant principal direction of the (centered) embedding cloud
    by POWER ITERATION on the exact integer Gram matrix — the fifth
    iterative algorithm family in the catalog (pagerank, connected
    components, k-means, BPE, now eigen iteration), and the building
    block behind PCA whitening / spectral embedding passes.

    Exactness: embeddings quantize to milli-units; centering multiplies
    through by N (``y = N·x − Σx``) so it stays integer; Gram entries
    are exact 128-bit-class sums (Spark decimal(38,0) / DuckDB
    HUGEINT); each iteration is one G·w mat-vec (64-row broadcast
    join) followed by max-abs normalization via SIGN-SAFE integral
    division (abs first — the documented DIV-vs-// negative-operand
    guard) back to 1e6 scale — so the whole fixed point is
    bit-identical across engines and partitionings, like the other
    iterative families. ``lambda_scale`` (the final normalization
    factor) converges to the dominant eigenvalue in the scaled units.

    Scale shape: the N×4096 outer-product expansion aggregates
    map-side into the fixed 64×64 Gram (the ONLY full-width pass);
    iterations run on 64-row frames with per-round checkpoints, plan
    size O(1) in iterations."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("d"),
        F.floor(F.col("v").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    n = emb.agg(F.count("*").alias("n"))
    s = q.groupBy("d").agg(F.sum("x").cast("long").alias("sd"))
    # Map-side Gram (r13): the former ya⋈yb self-join on vec_id
    # shuffled the exploded N×64 frame twice just to pair each vector's
    # dims with themselves. The pairing is per-row: keep y as a 64-array
    # (s broadcast back as an array, same exact integers), double
    # posexplode the array for the outer product, and let the partial
    # aggregate collapse to the 64×64 Gram BEFORE the only exchange —
    # zero data-sized shuffles (guide §2.4). Gram entries are the same
    # exact decimal(38,0) sums of identical integer terms.
    s_row = s.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "sd"))),
            lambda t: t["sd"],
        ).alias("sarr")
    )
    ywide = (
        emb.crossJoin(F.broadcast(s_row))
        .crossJoin(F.broadcast(n))
        .select(
            F.transform(
                F.col("embedding"),
                lambda v, i: F.col("n")
                * F.floor(v.cast("double") * 1000 + F.lit(0.5)).cast(
                    "long"
                )
                - F.element_at(F.col("sarr"), i + F.lit(1)),
            ).alias("y_arr")
        )
    )
    gram = (
        ywide.select(F.col("y_arr"), F.posexplode("y_arr").alias("pa", "ya"))
        .select(
            (F.col("pa") + 1).alias("da"),
            F.col("ya"),
            F.posexplode("y_arr").alias("pb", "yb"),
        )
        .groupBy("da", (F.col("pb") + 1).alias("db"))
        .agg(
            F.sum(
                F.col("ya").cast("decimal(38,0)") * F.col("yb")
            ).alias("g")
        )
        .localCheckpoint(eager=False)
    )
    w = spark.range(1, 65).select(
        F.col("id").alias("d"),
        F.lit(1000000).cast("decimal(38,0)").alias("w"),
    )
    m = None
    for _ in range(_PI_ITERS):
        # lazy checkpoints (r13): u feeds TWO consumers (the max-abs agg
        # and the normalization) and w feeds the next round — with gram
        # checkpointed, the whole _PI_ITERS chain of 64-row frames
        # materializes inside the one final job instead of paying two
        # synchronous jobs per round.
        u = (
            gram.join(F.broadcast(w), gram["db"] == w["d"])
            .groupBy("da")
            .agg(F.sum(F.col("g") * F.col("w")).alias("u"))
            .localCheckpoint(eager=False)
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        w = (
            u.crossJoin(F.broadcast(m))
            .select(
                F.col("da").alias("d"),
                (
                    F.when(F.col("u") < 0, -1).otherwise(1)
                    * F.expr("(abs(u) * 1000000) DIV NULLIF(m, 0)")
                )
                .cast("decimal(38,0)")
                .alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    return w.crossJoin(F.broadcast(m)).select(
        F.col("d").alias("dim"),
        F.col("w").cast("long").alias("w_micro"),
        F.col("m").cast("double").alias("lambda_scale"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance (data forensics)
# ---------------------------------------------------------------------------


@register(
    "benford_digit_test",
    oracle="""
    WITH src AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM src
            GROUP BY 1),
    n AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs),
    e AS (
      SELECT g.d AS digit,
             ln(1.0 + 1.0 / g.d) / ln(10.0) AS p_expected
      FROM generate_series(1, 9) g(d)
    )
    SELECT e.digit,
           COALESCE(obs.n, 0) AS n_observed,
           CAST(FLOOR(e.p_expected * n.total * 1000000 + 0.5) AS BIGINT)
             AS expected_micro,
           CAST(FLOOR((CAST(COALESCE(obs.n, 0) AS DOUBLE) / n.total
                       - e.p_expected) * 1000000 + 0.5) AS BIGINT)
             AS deviation_micro
    FROM e LEFT JOIN obs ON obs.digit = e.digit CROSS JOIN n
    """,
)
def benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals: observed
    leading-digit counts against the log10(1+1/d) expectation — the
    fabricated-data / unit-mixing forensic every financial data-quality
    suite ships (uniform synthetic prices will FAIL it loudly, which is
    itself the fixture's documentation).

    Scale shape: a map-side digit projection + 9-group aggregate; the
    expectation frame is 9 constant rows. Determinism: the leading
    digit comes from the DECIMAL string rendering (identical on both
    engines — no float formatting); expectation and deviation build
    from one fixed ln/division op tree, micro-floored."""
    orders = load_table(spark, sf_dir, "orders")
    src = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    obs = src.groupBy("digit").agg(F.count("*").alias("n"))
    n = obs.agg(F.sum("n").cast("long").alias("total"))
    e = spark.range(1, 10).select(
        F.col("id").alias("digit"),
        (
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("id"))
            / F.log(F.lit(10.0))
        ).alias("p_expected"),
    )
    return (
        e.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_observed"),
            F.floor(
                F.col("p_expected") * F.col("total") * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("expected_micro"),
            F.floor(
                (
                    F.coalesce(F.col("n"), F.lit(0)).cast("double")
                    / F.col("total")
                    - F.col("p_expected")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("deviation_micro"),
        )
    )


# ---------------------------------------------------------------------------
# CDC apply round-trip (the APPLY side of snapshot_diff_report)
# ---------------------------------------------------------------------------


@register(
    "cdc_apply_roundtrip",
    oracle=f"""
    WITH {_SNAP_DIFF_SQL},
    changes AS (
      SELECT COALESCE(a.k, b.k) AS k, b.fp AS new_fp,
             CASE WHEN a.k IS NULL THEN 'insert'
                  WHEN b.k IS NULL THEN 'delete'
                  WHEN a.fp <> b.fp THEN 'update'
             END AS op
      FROM a FULL OUTER JOIN b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL OR a.fp <> b.fp
    ),
    applied AS (
      SELECT COALESCE(c.k, a.k) AS k,
             CASE WHEN c.op IN ('insert', 'update') THEN c.new_fp
                  ELSE a.fp END AS fp
      FROM a FULL OUTER JOIN changes c ON a.k = c.k
      WHERE c.op IS NULL OR c.op <> 'delete'
    ),
    fpa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || fp),
                                 1, 15))::BIGINT) AS h
      FROM applied
    ),
    fpb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || fp),
                                 1, 15))::BIGINT) AS h
      FROM b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_base,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM changes) AS n_changes,
           fpa.n AS n_result, fpb.n AS n_expected,
           CASE WHEN fpa.n = fpb.n AND fpa.h = fpb.h THEN 1 ELSE 0 END
             AS roundtrip_ok
    FROM fpa, fpb
    """,
)
def cdc_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY with a closure proof: derive the changeset between
    snapshots A and B (the ``snapshot_diff_report`` detect side), apply
    it back onto A with merge semantics (insert/update take the new
    row, delete drops, untouched rows carry), and verify
    ``apply(diff(A,B), A) == B`` by order-insensitive content
    fingerprint (SUM of per-row seeded hashes — commutative, so no
    sort is needed to compare states). This is the MERGE INTO
    contract a warehouse sync relies on, tested end-to-end.

    Scale shape: two narrow (key, fingerprint) full-outer joins on the
    same key partitioning plus commutative-sum fingerprints — nothing
    global except 1-row aggregates. The verification hash sums exact
    bigints (60-bit per row over <=150k rows: no overflow at any test
    scale; decimal-widen at fleet scale)."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")

    def snap(pred, restate: bool) -> DataFrame:
        p = (
            F.when(F.col("o_orderkey") % 101 == 0, price + 1).otherwise(
                price
            )
            if restate
            else price
        )
        return orders.filter(pred).select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_custkey").cast("string"),
                    p.cast("string"),
                    F.col("o_orderstatus"),
                )
            ).alias("fp"),
        )

    a = snap(F.col("o_orderkey") % 89 != 0, restate=False)
    b = snap(F.col("o_orderkey") % 97 != 0, restate=True)
    d = a.withColumnRenamed("fp", "fp_a").join(
        b.withColumnRenamed("fp", "fp_b"), "k", "full_outer"
    )
    changes = d.filter(
        F.col("fp_a").isNull()
        | F.col("fp_b").isNull()
        | (F.col("fp_a") != F.col("fp_b"))
    ).select(
        "k",
        F.col("fp_b").alias("new_fp"),
        F.when(F.col("fp_a").isNull(), "insert")
        .when(F.col("fp_b").isNull(), "delete")
        .otherwise("update")
        .alias("op"),
    )
    applied = (
        a.join(changes, "k", "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            "k",
            F.when(
                F.col("op").isin("insert", "update"), F.col("new_fp")
            )
            .otherwise(F.col("fp"))
            .alias("fp"),
        )
    )

    def state_fp(df: DataFrame, n_name: str, h_name: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("k").cast("string"), F.lit("|"),
                             F.col("fp"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        # decimal(38,0) sum: N x 60-bit terms overflow bigint (DuckDB's
        # SUM(BIGINT) auto-widens to HUGEINT; Spark must widen explicitly)
        return df.agg(
            F.count("*").alias(n_name),
            F.sum(h.cast("decimal(38,0)")).alias(h_name),
        )

    fpa = state_fp(applied, "n_result", "h_result")
    fpb = state_fp(b, "n_expected", "h_expected")
    n_base = a.agg(F.count("*").alias("n_base"))
    n_changes = changes.agg(F.count("*").alias("n_changes"))
    return (
        n_base.crossJoin(n_changes)
        .crossJoin(fpa)
        .crossJoin(fpb)
        .select(
            "n_base",
            "n_changes",
            "n_result",
            "n_expected",
            F.when(
                (F.col("n_result") == F.col("n_expected"))
                & (F.col("h_result") == F.col("h_expected")),
                1,
            )
            .otherwise(0)
            .alias("roundtrip_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast interval coverage (empirical uncertainty quantification)
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _DAILY_SERIES_DDAY_SQL as _DAILY_SQL,
)


@register(
    "forecast_interval_coverage",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    r AS (
      SELECT d.series_id, d.dday, d.v - p.v AS resid
      FROM daily d
      JOIN daily p ON p.series_id = d.series_id
                  AND p.dday = d.dday - 7
    ),
    cut AS (SELECT MAX(dday) - 7 AS cutoff FROM r),
    train AS (
      SELECT series_id, resid,
             row_number() OVER (PARTITION BY series_id
                                ORDER BY resid, dday) AS rk,
             COUNT(*) OVER (PARTITION BY series_id) AS n
      FROM r WHERE dday <= (SELECT cutoff FROM cut)
    ),
    bounds AS (
      SELECT series_id,
             CAST(MAX(n) AS BIGINT) AS n_train,
             MIN(CASE WHEN rk = (n * 5 + 99) // 100 THEN resid END)
               AS lo,
             MIN(CASE WHEN rk = (n * 95 + 99) // 100 THEN resid END)
               AS hi
      FROM train GROUP BY 1
    ),
    test AS (
      SELECT r.series_id, r.resid
      FROM r WHERE r.dday > (SELECT cutoff FROM cut)
    )
    SELECT t.series_id, b.n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(b.lo AS DOUBLE) AS lo,
           CAST(b.hi AS DOUBLE) AS hi,
           CAST(SUM(CASE WHEN t.resid >= b.lo AND t.resid <= b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN t.resid >= b.lo AND t.resid <= b.hi
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS coverage
    FROM test t JOIN bounds b USING (series_id)
    GROUP BY 1, 2, 4, 5
    """,
)
def forecast_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical prediction-interval coverage (split-conformal shape):
    fit nothing — take the seasonal-naive forecast's TRAINING residual
    distribution per series, cut a rank-based 5%..95% band, and
    measure how often HELD-OUT residuals (the last week) actually land
    inside it. The uncertainty-quantification lane the point-forecast
    entries (``series_backtest_mape``, ``series_holt_forecast``) stop
    short of: a forecaster that cannot state calibrated intervals
    can't be used for alerting thresholds.

    Determinism: residuals stay exact decimal end-to-end; band cuts
    are rank positions via positive-int ceiling division (no
    interpolated quantile); coverage is one division. Scale shape:
    the 7-day shift is the co-partitioned calendar self-join (not a
    row-lag), train ranking is one series-keyed window, and the
    per-series bounds frame broadcasts onto the test rows."""
    from pyspark.sql import Window as W

    from series_tiempo_ar_scraping_spark.queries_batch8 import _daily

    d = _daily(spark, sf_dir)
    prev = d.select(
        "series_id",
        (F.col("dday") + 7).alias("dday"),
        F.col("v").alias("v7"),
    )
    r = (
        d.join(prev, ["series_id", "dday"])
        .select(
            "series_id", "dday", (F.col("v") - F.col("v7")).alias("resid")
        )
        .localCheckpoint(eager=False)
    )
    cut = r.agg((F.max("dday") - 7).alias("cutoff"))
    rc = r.crossJoin(F.broadcast(cut))
    w = W.partitionBy("series_id")
    train = rc.filter(F.col("dday") <= F.col("cutoff")).select(
        "series_id",
        "resid",
        F.row_number()
        .over(w.orderBy("resid", "dday"))
        .alias("rk"),
        F.count("*").over(w).alias("n"),
    )
    bounds = train.groupBy("series_id").agg(
        F.max("n").cast("long").alias("n_train"),
        F.min(
            F.when(
                F.col("rk") == F.expr("(n * 5 + 99) DIV 100"),
                F.col("resid"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rk") == F.expr("(n * 95 + 99) DIV 100"),
                F.col("resid"),
            )
        ).alias("hi"),
    )
    test = rc.filter(F.col("dday") > F.col("cutoff")).select(
        "series_id", "resid"
    )
    covered = (F.col("resid") >= F.col("lo")) & (
        F.col("resid") <= F.col("hi")
    )
    return (
        test.join(F.broadcast(bounds), "series_id")
        .groupBy(
            "series_id",
            "n_train",
            F.col("lo").cast("double").alias("lo"),
            F.col("hi").cast("double").alias("hi"),
        )
        .agg(
            F.count("*").alias("n_test"),
            F.sum(F.when(covered, 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            (
                F.sum(F.when(covered, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (event type x day-of-week)
# ---------------------------------------------------------------------------


@register(
    "chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs
           GROUP BY 1),
    ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT obs.event_type, obs.dow, obs.o, rt.r, ct.c, n.n,
             CAST(FLOOR(
               (CAST(obs.o AS DOUBLE)
                - CAST(rt.r * ct.c AS DOUBLE) / n.n)
               * (CAST(obs.o AS DOUBLE)
                  - CAST(rt.r * ct.c AS DOUBLE) / n.n)
               / (CAST(rt.r * ct.c AS DOUBLE) / n.n)
               * 1000000 + 0.5) AS BIGINT) AS chi_micro
      FROM obs JOIN rt USING (event_type) JOIN ct USING (dow)
      CROSS JOIN n
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_rows_dim,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_cols_dim,
             CAST(SUM(chi_micro) AS BIGINT) AS chi2_micro
      FROM cells
    )
    SELECT n_rows_dim, n_cols_dim,
           (n_rows_dim - 1) * (n_cols_dim - 1) AS dof,
           chi2_micro,
           CAST(chi2_micro AS DOUBLE) / 1000000.0 AS chi2
    FROM dims
    """,
)
def chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week — "does activity mix shift across the week?", the
    categorical sibling of ``ab_test_mean_diff``'s mean test and the
    third member of the hypothesis-testing family (means, digits,
    independence).

    Scale shape: the WHOLE test reduces to the bounded contingency
    aggregate (|types| x 7 cells with map-side partials); margins are
    tiny grouped sums of that frame, joined back cell-wise — nothing
    rescans events. Determinism: expected counts are
    ``(r*c exact int) / n`` — one division — and each cell's chi
    contribution micro-floors before the integer sum, so the statistic
    commutes across partitionings (the bigram-LM recipe)."""
    events = load_table(spark, sf_dir, "events")
    obs = events.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count("*").alias("o"))
    obs = obs.localCheckpoint(eager=False)
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    chi_micro = F.floor(
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(chi_micro.alias("chi_micro"), "event_type", "dow")
    )
    dims = cells.agg(
        F.countDistinct("event_type").alias("n_rows_dim"),
        F.countDistinct("dow").alias("n_cols_dim"),
        F.sum("chi_micro").cast("long").alias("chi2_micro"),
    )
    return dims.select(
        "n_rows_dim",
        "n_cols_dim",
        ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)).alias(
            "dof"
        ),
        "chi2_micro",
        (F.col("chi2_micro").cast("double") / F.lit(1000000.0)).alias(
            "chi2"
        ),
    )


# ---------------------------------------------------------------------------
# Composed nightly data-quality report (third composed pipeline)
# ---------------------------------------------------------------------------


def _nqr_oracle() -> str:
    """Compose the COMPONENT ORACLES (verbatim, from the registry) into
    the long-format report — the oracle composes exactly what the Spark
    side composes, so an edit to any component propagates to both.
    Components are all registered earlier in this module."""
    return f"""
    SELECT 'fk_orphans' AS check_name, relationship AS item,
           CAST(n_orphans AS BIGINT) AS metric
    FROM ({ORACLES["fk_integrity_audit"]})
    UNION ALL
    SELECT 'cdc_diff', verdict, CAST(n AS BIGINT)
    FROM ({ORACLES["snapshot_diff_report"]})
    UNION ALL
    SELECT 'benford_absdev', CAST(digit AS VARCHAR),
           CAST(abs(deviation_micro) AS BIGINT)
    FROM ({ORACLES["benford_digit_test"]})
    UNION ALL
    SELECT 'mix_shift_chi2', 'event_type_x_dow',
           CAST(chi2_micro AS BIGINT)
    FROM ({ORACLES["chi_square_independence"]})
    """


@register("nightly_quality_report", oracle=_nqr_oracle())
def nightly_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed nightly data-quality run — referential integrity,
    CDC reconciliation, Benford forensics, and activity-mix shift as ONE
    long-format report (check, item, metric) — the third composed
    pipeline beside ``corpus_curation_pipeline`` (curation) and
    ``series_nightly_rollup`` (series ETL), covering the OPS lane.

    Composition is by REGISTRY on both sides: the Spark body calls the
    registered component queries and normalizes their outputs; the
    oracle embeds the components' registered oracle SQL verbatim — so
    the composed entry can never drift from its parts. Scale shape:
    the components share no state, so the four branches run as
    independent subtrees under one union (a scheduler can run them
    concurrently); each branch keeps its own audited plan."""
    fk = fk_integrity_audit(spark, sf_dir).select(
        F.lit("fk_orphans").alias("check_name"),
        F.col("relationship").alias("item"),
        F.col("n_orphans").cast("long").alias("metric"),
    )
    cdc = snapshot_diff_report(spark, sf_dir).select(
        F.lit("cdc_diff").alias("check_name"),
        F.col("verdict").alias("item"),
        F.col("n").cast("long").alias("metric"),
    )
    ben = benford_digit_test(spark, sf_dir).select(
        F.lit("benford_absdev").alias("check_name"),
        F.col("digit").cast("string").alias("item"),
        F.abs(F.col("deviation_micro")).cast("long").alias("metric"),
    )
    chi = chi_square_independence(spark, sf_dir).select(
        F.lit("mix_shift_chi2").alias("check_name"),
        F.lit("event_type_x_dow").alias("item"),
        F.col("chi2_micro").cast("long").alias("metric"),
    )
    return fk.unionByName(cdc).unionByName(ben).unionByName(chi)


# ---------------------------------------------------------------------------
# Bitmap-index segment overlap (exact twin of the HLL set operations)
# ---------------------------------------------------------------------------

_BM_W = 63  # 63-bit words: keeps 1 << bit positive on both engines


def _bm_words_sql(etype: str) -> str:
    return f"""
      SELECT user_id // {_BM_W} AS word,
             bit_or(1::BIGINT << CAST(user_id % {_BM_W} AS INT)) AS bits
      FROM events WHERE event_type = '{etype}'
      GROUP BY 1
    """


@register(
    "bitmap_segment_overlap",
    oracle=f"""
    WITH wa AS ({_bm_words_sql("click")}),
    wb AS ({_bm_words_sql("purchase")}),
    j AS (
      SELECT COALESCE(wa.word, wb.word) AS word,
             COALESCE(wa.bits, 0) AS ba, COALESCE(wb.bits, 0) AS bb
      FROM wa FULL OUTER JOIN wb ON wa.word = wb.word
    ),
    agg AS (
      SELECT CAST(SUM(bit_count(ba)) AS BIGINT) AS n_a,
             CAST(SUM(bit_count(bb)) AS BIGINT) AS n_b,
             CAST(SUM(bit_count(ba & bb)) AS BIGINT) AS n_and,
             CAST(SUM(bit_count(ba | bb)) AS BIGINT) AS n_or
      FROM j
    ),
    truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase'
      )
    )
    SELECT agg.n_a, agg.n_b, agg.n_and, agg.n_or, truth.exact_inter,
           CASE WHEN agg.n_and = truth.exact_inter THEN 1 ELSE 0 END
             AS bitmap_matches_exact
    FROM agg, truth
    """,
)
def bitmap_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience-overlap via bitmap indexes: each segment's user
    set compresses to (word, 63-bit bitmap) rows built with one
    ``bit_or`` aggregate; intersection/union cardinalities are then
    ``bit_count`` sums over a word-aligned join — the roaring-bitmap
    pattern OLAP engines use when the overlap answer must be EXACT
    (the sketch twin is ``hll_set_union_intersect``: 64 cells of
    fixed state vs |users|/63 words of exact state; this entry
    self-audits by comparing n_and against the INTERSECT ground truth
    in the same result row).

    Scale shape: bitmaps build map-side (bit_or partials merge like
    any aggregate), the segment-overlap join is keyed by word (dense
    user-id spaces make it |users|/63 rows per segment), and the
    final counts are one bounded aggregate. Set algebra on compressed
    state — no distinct-shuffle of raw events at query time."""
    events = load_table(spark, sf_dir, "events")

    def words(etype: str, bits_name: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy(
                F.expr(f"user_id DIV {_BM_W}").alias("word")
            )
            .agg(
                # shiftleft takes a literal count in the PySpark API;
                # the SQL function accepts a column
                F.bit_or(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(user_id % {_BM_W} AS INT))"
                    )
                ).alias(bits_name)
            )
        )

    j = (
        words("click", "ba")
        .join(words("purchase", "bb"), "word", "full_outer")
        .select(
            F.coalesce(F.col("ba"), F.lit(0)).alias("ba"),
            F.coalesce(F.col("bb"), F.lit(0)).alias("bb"),
        )
    )
    agg = j.agg(
        F.sum(F.bit_count("ba")).cast("long").alias("n_a"),
        F.sum(F.bit_count("bb")).cast("long").alias("n_b"),
        F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
        .cast("long")
        .alias("n_and"),
        F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb"))))
        .cast("long")
        .alias("n_or"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id"
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id"
    )
    truth = (
        clicks.intersect(buys)
        .agg(F.count("*").alias("exact_inter"))
    )
    return agg.crossJoin(truth).select(
        "n_a",
        "n_b",
        "n_and",
        "n_or",
        "exact_inter",
        F.when(F.col("n_and") == F.col("exact_inter"), 1)
        .otherwise(0)
        .alias("bitmap_matches_exact"),
    )


# ---------------------------------------------------------------------------
# Spatial join: grid-cell-blocked nearest neighbor
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _SP_GRID,
    _sp_points_sql,
)

_SP_CELL = 500  # cell edge -> 20 x 20 cells


@register(
    "spatial_cell_knn_join",
    oracle=f"""
    WITH pts AS ({_sp_points_sql()}),
    probe AS (
      SELECT pid, x, y,
             (x // {_SP_CELL}) + dx.d AS cx,
             (y // {_SP_CELL}) + dy.d AS cy
      FROM pts,
           generate_series(-1, 1) dx(d),
           generate_series(-1, 1) dy(d)
    ),
    cand AS (
      SELECT p.pid, c.pid AS nid,
             (p.x - c.x) * (p.x - c.x)
             + (p.y - c.y) * (p.y - c.y) AS d2
      FROM probe p
      JOIN pts c ON c.x // {_SP_CELL} = p.cx
                AND c.y // {_SP_CELL} = p.cy
                AND c.pid <> p.pid
    ),
    nn AS (
      SELECT pid, nid, d2,
             row_number() OVER (PARTITION BY pid
                                ORDER BY d2, nid) AS rk
      FROM cand
    )
    SELECT pid, nid AS nn_pid, d2 AS nn_d2
    FROM nn WHERE rk = 1
    """,
)
def spatial_cell_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell-blocked nearest-neighbor SPATIAL join: deterministic
    point coordinates per customer (seeded hash onto a 10000² grid),
    500-unit cells, each point probing its 3×3 cell neighborhood for
    the nearest other point by squared Euclidean distance — the
    standard spatial-join blocking (geohash/S2-cell pattern) with
    integer-only geometry (no trig, whose libm rounding differs
    between engines). NN is cell-bounded by construction (exact within
    one cell radius — the documented contract of grid blocking; widen
    the neighborhood or re-probe empty rings for unbounded NN).

    Scale shape: the probe side explodes 9× (a generator, bounded),
    the join is an EQUI-join on cell ids (hash-partitionable — never
    an all-pairs distance join), candidates per point are bounded by
    local density, and the top-1 is a hash-aggregate min over the
    order-encoded d2·2⁴⁰+nid bigint (map-side partial combine).
    All-integer distances, total-order tiebreak."""
    customer = load_table(spark, sf_dir, "customer")
    pts = customer.select(
        F.col("c_custkey").alias("pid"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 11) % _SP_GRID)
        .alias("x"),
        (hash64_seeded(F.col("c_custkey").cast("string"), 12) % _SP_GRID)
        .alias("y"),
    ).localCheckpoint(eager=False)
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probe = (
        pts.select(
            "pid",
            "x",
            "y",
            F.explode(offs).alias("dxo"),
        )
        .select(
            "pid",
            "x",
            "y",
            (F.expr(f"x DIV {_SP_CELL}") + F.col("dxo")).alias("cx"),
            F.explode(offs).alias("dyo"),
        )
        .select(
            "pid",
            "x",
            "y",
            "cx",
            (F.expr(f"y DIV {_SP_CELL}") + F.col("dyo")).alias("cy"),
        )
    )
    cand_src = pts.select(
        F.col("pid").alias("nid"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.expr(f"x DIV {_SP_CELL}").alias("cx"),
        F.expr(f"y DIV {_SP_CELL}").alias("cy"),
    )
    cand = (
        probe.join(cand_src, ["cx", "cy"])
        .filter(F.col("nid") != F.col("pid"))
        .select(
            "pid",
            "nid",
            (
                (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
                + (F.col("y") - F.col("ny"))
                * (F.col("y") - F.col("ny"))
            ).alias("d2"),
        )
    )
    # Argmin by HASH aggregate over ONE encoded bigint (r13): a
    # struct-min would fall back to SortAggregate (struct agg buffers
    # are immutable), so encode the (d2 asc, nid asc) total order as
    # d2·2⁴⁰ + nid — exact and overflow-safe because the 3×3-cell
    # probe bounds d2 < 2·(3·500)² < 2²³ structurally and nid is a
    # custkey (< 2⁴⁰ even at 100 TB; 2²³⁺⁴⁰ ≪ 2⁶³). The per-point
    # candidate rows collapse in the map-side partial min — no
    # shuffle+sort through row_number, no SortAggregate sorts.
    enc = F.col("d2") * F.lit(1 << 40).cast("long") + F.col("nid")
    return (
        cand.groupBy("pid")
        .agg(F.min(enc.alias("e")).alias("e"))
        .select(
            "pid",
            (F.col("e") % F.lit(1 << 40).cast("long")).alias("nn_pid"),
            F.expr(f"e DIV {1 << 40}").alias("nn_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded-hop weighted shortest paths (min-plus / Bellman-Ford — the
# sixth iterative family)
# ---------------------------------------------------------------------------

_BF_ROUNDS = 3
_BF_INF = 10**15


def _bf_iter_sql(prev: str, cur: str) -> str:
    return f"""
    c{cur} AS (
      SELECT e.dst AS id, MIN({prev}.dist + e.w) AS cand
      FROM edges e JOIN {prev} ON {prev}.id = e.src
      GROUP BY 1
    ),
    {cur} AS (
      SELECT {prev}.id,
             LEAST({prev}.dist, COALESCE(c{cur}.cand, {prev}.dist))
               AS dist
      FROM {prev} LEFT JOIN c{cur} ON c{cur}.id = {prev}.id
    )"""


@register(
    "graph_bounded_shortest_paths",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS s_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst, 1 + 1000 // s_pair AS w FROM pairs
      UNION ALL
      SELECT pb, pa, 1 + 1000 // s_pair FROM pairs
    ),
    nodes AS (SELECT DISTINCT l_partkey AS id FROM op),
    src AS (SELECT MIN(id) AS s FROM nodes),
    d0 AS (
      SELECT id, CASE WHEN id = (SELECT s FROM src)
                      THEN CAST(0 AS BIGINT)
                      ELSE CAST({_BF_INF} AS BIGINT) END AS dist
      FROM nodes
    ),
    {_bf_iter_sql('d0', 'd1')},
    {_bf_iter_sql('d1', 'd2')},
    {_bf_iter_sql('d2', 'd3')}
    SELECT id AS part_id,
           CASE WHEN dist < {_BF_INF} THEN dist END AS dist,
           CASE WHEN dist < {_BF_INF} THEN 1 ELSE 0 END AS reached
    FROM d3
    """,
)
def graph_bounded_shortest_paths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-hop weighted shortest paths (3 Bellman-Ford relaxation
    rounds) from the min-id part over the co-occurrence graph, with
    edge weight ``1 + 1000 DIV support`` (stronger co-purchase =
    shorter) — the SIXTH iterative family (pagerank, CC, k-means, BPE,
    power iteration, now min-plus), and the BSP shortest-path shape
    (Pregel supersteps) every graph engine builds on. Distances after
    k rounds are exact within k hops — the standard bounded-frontier
    contract; unreached nodes report NULL/0.

    Determinism: pure integer min-plus (MIN and + commute across
    partitionings); positive-operand DIV for weights. Scale shape:
    per round, ONE join of the checkpointed edge list against current
    distances and one MIN shuffle keyed by dst — the edge list stays
    partitioned while the 1-row-per-node distance frame moves, plan
    size O(1) in rounds via per-round checkpoints (the pagerank
    discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups per basket — no pre-distinct shuffle (r13)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    und = (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("s_pair"))
        .filter(F.col("s_pair") >= 2)
    )
    w_expr = F.expr("1 + 1000 DIV s_pair")
    edges = (
        und.select(
            F.col("pa").alias("src"),
            F.col("pb").alias("dst"),
            w_expr.alias("w"),
        )
        .unionByName(
            und.select(
                F.col("pb").alias("src"),
                F.col("pa").alias("dst"),
                w_expr.alias("w"),
            )
        )
        .localCheckpoint(eager=False)
    )
    # nodes checkpoints ONCE (r13): it appears twice in the initial
    # distance frame (under the broadcast min-id agg and as the join
    # left side) and would otherwise re-plan the lineitem scan +
    # distinct for each.
    nodes = (
        li.select(F.col("l_partkey").alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    src = nodes.agg(F.min("id").alias("s"))
    d = nodes.crossJoin(F.broadcast(src)).select(
        "id",
        F.when(F.col("id") == F.col("s"), F.lit(0))
        .otherwise(F.lit(_BF_INF))
        .cast("long")
        .alias("dist"),
    )
    for _ in range(_BF_ROUNDS):
        # lazy per-round checkpoint (r13): d has TWO consumers per round
        # (the relaxation join and the left merge), so the checkpoint
        # still dedups the subtree — but the whole _BF_ROUNDS chain now
        # materializes inside the one final job instead of paying a
        # synchronous job per round (the CC-star shape).
        d = d.localCheckpoint(eager=False)
        cand = (
            edges.join(d, edges["src"] == d["id"])
            .groupBy(F.col("dst").alias("cid"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        d = d.join(cand, d["id"] == cand["cid"], "left").select(
            "id",
            F.least(
                F.col("dist"),
                F.coalesce(F.col("cand"), F.col("dist")),
            ).alias("dist"),
        )
    return d.select(
        F.col("id").alias("part_id"),
        F.when(F.col("dist") < _BF_INF, F.col("dist")).alias("dist"),
        F.when(F.col("dist") < _BF_INF, 1).otherwise(0).alias("reached"),
    )


# ---------------------------------------------------------------------------
# Hierarchical subtree rollup (BOM / org-tree aggregation)
# ---------------------------------------------------------------------------

_HIER_LEVELS = 3  # ancestors p DIV 2, DIV 4, DIV 8


@register(
    "hierarchy_subtree_rollup",
    oracle=f"""
    WITH anc AS (
      SELECT g.k AS ancestor_level,
             p.p_partkey // (1 << g.k) AS ancestor_id,
             CAST(p.p_retailprice AS DECIMAL(12,2)) AS price,
             p.p_partkey
      FROM part p, generate_series(1, {_HIER_LEVELS}) g(k)
    )
    SELECT ancestor_level, ancestor_id,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(price) AS DOUBLE) AS subtree_price,
           CAST(MIN(p_partkey) AS BIGINT) AS min_part,
           CAST(MAX(p_partkey) AS BIGINT) AS max_part
    FROM anc GROUP BY 1, 2
    """,
)
def hierarchy_subtree_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical (BOM / org-tree) subtree aggregation: every part
    rolls its retail price up to its ancestors at 3 levels of an
    implicit binary hierarchy (``ancestor_k = id DIV 2^k`` — the
    deterministic stand-in for a parent edge list), producing per-
    ancestor subtree totals — the recursive-hierarchy aggregation
    family (category trees, cost rollups, org charts) that dimensional
    ``rollup_order_indicators`` does NOT cover.

    Scale shape: ancestor PATHS materialize as ONE generator expansion
    (k rows per part, k bounded by hierarchy depth) feeding one
    aggregate with map-side partials — the standard flattened-closure
    trick that replaces k self-joins or a recursive CTE; for unbounded
    depth the iterative-family pattern (per-round checkpointed joins,
    as in ``graph_bounded_shortest_paths``) takes over. Positive-int
    DIV; exact decimal sums."""
    part = load_table(spark, sf_dir, "part")
    levels = F.array(
        *[
            F.struct(
                F.lit(k).alias("ancestor_level"),
                F.expr(f"p_partkey DIV {1 << k}").alias("ancestor_id"),
            )
            for k in range(1, _HIER_LEVELS + 1)
        ]
    )
    anc = part.select(
        F.explode(levels).alias("a"),
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
        "p_partkey",
    )
    return anc.groupBy("a.ancestor_level", "a.ancestor_id").agg(
        F.count("*").alias("n_parts"),
        F.sum("price").cast("double").alias("subtree_price"),
        F.min("p_partkey").cast("long").alias("min_part"),
        F.max("p_partkey").cast("long").alias("max_part"),
    )


# ---------------------------------------------------------------------------
# Streaming-exact distinct: hourly bitmap words (batch lane)
# ---------------------------------------------------------------------------

from series_tiempo_ar_scraping_spark.streaming.sketch import (  # noqa: E402
    BITMAP_W,
    bitmap_words,
)


@register(
    "bitmap_words_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           user_id // {BITMAP_W} AS word,
           bit_or(1::BIGINT << CAST(user_id % {BITMAP_W} AS INT)) AS bits
    FROM events
    GROUP BY 1, 2
    """,
)
def bitmap_words_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 + bitmaps: per-hour EXACT-distinct bitmap words over the
    event stream's user ids — the BATCH lane of
    ``streaming/sketch.py:bitmap_words`` (the same function runs under
    readStream; bit_or is both the incremental state update AND the
    shard/window merge). Completes the sketch trio: CMS (frequency,
    additive merge), HLL (cardinality estimate, max merge), bitmap
    (cardinality EXACT, or merge) — each batch-oracled AND
    streaming-mergeable, so the platform can trade state size for
    exactness per use case without changing the pipeline shape."""
    return bitmap_words(load_table(spark, sf_dir, "events"))
