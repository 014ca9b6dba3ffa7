"""Batch-26 queries: community detection (12th iterative family),
join-order advice, pipeline lineage manifests, and the
order-invariance audit.

Families (each entry hash-oracled; determinism per the established
recipes — exact integers end to end, packed-bigint argmax keys, the
decimal(38) commutative fingerprint discipline):

- Label propagation communities: synchronous LPA over the shared
  co-purchase graph — each round every node adopts its neighbors'
  most frequent label (ties -> smallest label, encoded in ONE packed
  bigint max, no ordering semantics trusted). The 12th iterative
  family; unlike CC it finds DENSE groups, not mere reachability.
- Join-order advisor: the decision layer above
  ``join_cardinality_estimate`` — System-R containment estimates for
  both left-deep orders of the customer–orders–lineitem chain, the
  chosen order, and the actual intermediate cardinalities that
  validate the choice.
- Pipeline lineage manifest: stage-by-stage row counts and
  commutative content fingerprints for a 3-stage curation pipeline
  (raw -> exact-dedup -> length-filter) over a corpus with PLANTED
  exact duplicates — the reproducibility artifact a data platform
  stores with every dataset release (re-run the pipeline, compare
  manifests, bitwise).
- Order-invariance audit: the determinism discipline PROVED on
  itself — the same exact-decimal revenue sum and commutative hash
  fingerprint computed under three different partitionings must be
  bit-identical; one output row carries all three and the equality
  verdict.

Reference parity: extends the reference's validation/report lane
with the community, optimizer-decision, and reproducibility passes a
fleet-scale platform runs over its own outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    COPURCHASE_EDGES_SQL,
    _hex60_seeded,
)

# ---------------------------------------------------------------------------
# Label propagation communities (12th iterative family)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2
_LPA_PACK = 1 << 32  # labels are part keys (< 2^32 at every sf)


def _lpa_oracle() -> str:
    rounds = ["l0 AS (SELECT id, id AS lab FROM nodes)"]
    for r in range(1, _LPA_ROUNDS + 1):
        prev = f"l{r - 1}"
        rounds.append(f"""
    c{r} AS (
      SELECT b.u AS id, l.lab, CAST(COUNT(*) AS BIGINT) AS c
      FROM bi b JOIN {prev} l ON l.id = b.v
      GROUP BY 1, 2
    ),
    p{r} AS (
      SELECT id, MAX(c * {_LPA_PACK} + ({_LPA_PACK} - 1 - lab)) AS pk
      FROM c{r} GROUP BY 1
    ),
    l{r} AS (
      SELECT n.id,
             CAST(COALESCE({_LPA_PACK} - 1 - (p.pk % {_LPA_PACK}), n.id)
                  AS BIGINT) AS lab
      FROM nodes n LEFT JOIN p{r} p ON p.id = n.id
    )""")
    return f"""
    WITH {COPURCHASE_EDGES_SQL},
    bi AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ),
    {", ".join(rounds)}
    SELECT lab AS community_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(id) AS BIGINT) AS min_member,
           CAST(MAX(id) AS BIGINT) AS max_member
    FROM l{_LPA_ROUNDS} GROUP BY 1
    """


@register("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous label propagation over the part co-purchase graph:
    every node starts as its own label; each round it adopts the most
    frequent label among its neighbors (ties -> the SMALLEST label —
    encoded arithmetically as max(count * 2^32 + (2^32 - 1 - label)),
    the -1 because label 0 EXISTS: without it the tiebreak term 2^32
    collides with the count term and label 0 decodes to 2^32 — a
    same-bug-both-engines defect the hash oracle could not see and the
    membership semantics test caught; so
    no engine's grouping order is ever trusted), isolated nodes keep
    their own. Two unrolled rounds; one row per surviving community
    with size and member range. The 12th iterative family — unlike
    connected components (reachability) LPA finds DENSE groups, which
    is what a catalog curation team means by "product families".

    Scale shape: the edge list checkpoints ONCE (the HITS discipline);
    each round is one edges⋈labels join, one (node, label) count, one
    packed argmax per node — all equi-shuffles on node keys; the
    packed key replaces a per-node sort. Isolated nodes (no
    co-purchase edge) never participate in ANY round — their label is
    their own id forever — so they are split off ONCE up front and
    unioned back before the final rollup instead of riding a per-round
    nodes⋈p left join (r13: 2 joins, 2 lineitem re-scans and 2
    checkpoint jobs removed; every edge-node appears as some u, so p
    covers the whole propagation frontier and the old coalesce branch
    was provably dead for edge nodes). Determinism: counts and
    labels are exact bigints; the tie rule lives inside the packed
    max, identical in both engines; the oracle unrolls the identical
    rounds."""
    from series_tiempo_ar_scraping_spark.operators.graphs import (
        copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint(eager=False)
    bi = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    en = bi.select(F.col("u").alias("id")).distinct()
    iso = nodes.join(en, "id", "left_anti")
    lab = en.select("id", F.col("id").cast("long").alias("lab"))
    for _ in range(_LPA_ROUNDS):
        c = (
            bi.join(lab, bi["v"] == lab["id"])
            .groupBy(F.col("u").alias("nid"), "lab")
            .agg(F.count("*").cast("long").alias("c"))
        )
        p = c.groupBy("nid").agg(
            F.max(
                F.col("c") * _LPA_PACK + (_LPA_PACK - 1 - F.col("lab"))
            ).alias("pk")
        )
        lab = p.select(
            F.col("nid").alias("id"),
            (F.lit(_LPA_PACK) - 1 - F.expr(f"pk % {_LPA_PACK}"))
            .cast("long")
            .alias("lab"),
        )
    lab = lab.unionByName(
        iso.select("id", F.col("id").cast("long").alias("lab"))
    )
    return lab.groupBy(F.col("lab").alias("community_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("id").cast("long").alias("min_member"),
        F.max("id").cast("long").alias("max_member"),
    )


# ---------------------------------------------------------------------------
# Join-order advisor (System-R decision layer)
# ---------------------------------------------------------------------------


@register(
    "join_order_advisor",
    oracle="""
    WITH st AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS nc,
             (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
              FROM customer) AS dck,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS no,
             (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
              FROM orders) AS dock,
             (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
              FROM orders) AS dook,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS nl,
             (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
              FROM lineitem) AS dlok
    ),
    act AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT)
              FROM customer JOIN orders ON o_custkey = c_custkey)
               AS a_co,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
               AS a_ol
    ),
    plans AS (
      SELECT 'customer_orders_first' AS plan,
             CAST(nc * no // NULLIF(greatest(dck, dock), 0) AS BIGINT)
               AS est_intermediate,
             a_co AS actual_intermediate
      FROM st, act
      UNION ALL
      SELECT 'orders_lineitem_first',
             CAST(no * nl // NULLIF(greatest(dook, dlok), 0) AS BIGINT),
             a_ol
      FROM st, act
    )
    SELECT plan, est_intermediate, actual_intermediate,
           CAST(CASE WHEN est_intermediate =
                     (SELECT MIN(est_intermediate) FROM plans)
                THEN 1 ELSE 0 END AS INT) AS chosen
    FROM plans
    """,
)
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision layer above ``join_cardinality_estimate``: for the
    customer–orders–lineitem chain, the System-R containment estimate
    of each left-deep order's FIRST intermediate (the quantity a
    bottom-up optimizer minimizes), the actual intermediate
    cardinality that validates it, and which order the estimates pick.
    On clean FK joins both estimates are exact, so the advisor's
    choice provably matches the choice actuals would make — the test
    pins that.

    Scale shape: stats are 1-row aggregates; the two actual
    intermediates are FK-join counts whose dimension sides AQE
    broadcasts; everything else is scalar arithmetic on a 2-row frame.
    Determinism: pure bigint arithmetic (products fit through sf100
    per the cardinality entry); the chosen flag compares exact
    integers."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    st = (
        cust.agg(
            F.count("*").cast("long").alias("nc"),
            F.countDistinct("c_custkey").cast("long").alias("dck"),
        )
        .crossJoin(
            F.broadcast(
                orders.agg(
                    F.count("*").cast("long").alias("no"),
                    F.countDistinct("o_custkey")
                    .cast("long")
                    .alias("dock"),
                    F.countDistinct("o_orderkey")
                    .cast("long")
                    .alias("dook"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                li.agg(
                    F.count("*").cast("long").alias("nl"),
                    F.countDistinct("l_orderkey")
                    .cast("long")
                    .alias("dlok"),
                )
            )
        )
    )
    a_co = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .agg(F.count("*").cast("long").alias("a_co"))
    )
    a_ol = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count("*").cast("long").alias("a_ol"))
    )
    wide = st.crossJoin(F.broadcast(a_co)).crossJoin(F.broadcast(a_ol))
    plans = wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("customer_orders_first").alias("plan"),
                    F.expr(
                        "CAST(nc * no DIV NULLIF(greatest(dck, dock), 0)"
                        " AS BIGINT)"
                    ).alias("est_intermediate"),
                    F.col("a_co").alias("actual_intermediate"),
                ),
                F.struct(
                    F.lit("orders_lineitem_first").alias("plan"),
                    F.expr(
                        "CAST(no * nl DIV NULLIF(greatest(dook, dlok), 0)"
                        " AS BIGINT)"
                    ).alias("est_intermediate"),
                    F.col("a_ol").alias("actual_intermediate"),
                ),
            )
        ).alias("p")
    ).select("p.plan", "p.est_intermediate", "p.actual_intermediate")
    best = plans.agg(
        F.min("est_intermediate").alias("best_est")
    )
    return plans.crossJoin(F.broadcast(best)).select(
        "plan",
        "est_intermediate",
        "actual_intermediate",
        F.when(F.col("est_intermediate") == F.col("best_est"), 1)
        .otherwise(0)
        .cast("int")
        .alias("chosen"),
    )


# ---------------------------------------------------------------------------
# Pipeline lineage manifest (reproducibility artifact)
# ---------------------------------------------------------------------------

_LIN_SEED = 71
# planted exact duplicates: every doc_id % 4 == 0 gains a verbatim copy
# at doc_id + 200000 (clear of the +100000 near-dup mutant band)
_LIN_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text
      FROM documents WHERE doc_id % 4 = 0
"""


def _lin_fp(text_expr: str) -> str:
    h = _hex60_seeded(_LIN_SEED, text_expr)
    return (
        f"CAST(CAST(SUM(CAST({h} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        " AS VARCHAR)"
    )


@register(
    "pipeline_lineage_manifest",
    oracle=f"""
    WITH corpus AS ({_LIN_CORPUS_SQL}),
    s1 AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
    ),
    s1d AS (
      SELECT c.doc_id, c.text FROM corpus c
      JOIN s1 ON s1.doc_id = c.doc_id
    ),
    s2 AS (
      SELECT doc_id, text FROM s1d WHERE strlen(text) >= 200
    )
    SELECT 'raw' AS stage, 0 AS stage_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_lin_fp("text")} AS content_fingerprint
    FROM corpus
    UNION ALL
    SELECT 'exact_dedup', 1, CAST(COUNT(*) AS BIGINT), {_lin_fp("text")}
    FROM s1d
    UNION ALL
    SELECT 'length_filter', 2, CAST(COUNT(*) AS BIGINT), {_lin_fp("text")}
    FROM s2
    """,
)
def pipeline_lineage_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reproducibility manifest a data platform stores beside every
    dataset release: per curation stage (raw corpus with PLANTED exact
    duplicates -> md5 exact-dedup keeping the min id -> >= 200-char
    length filter), the row count and a commutative content
    fingerprint (decimal(38) sum of seeded 60-bit text hashes — any
    engine divergence, dropped row, or mutated byte at ANY stage flips
    the sum). Re-running the pipeline and diffing manifests is the
    cheapest end-to-end reproducibility check there is.

    Scale shape: each stage is one grouped/filtered pass over the
    previous stage's frame; fingerprints are map-side combinable sums,
    so the manifest costs one scan per stage and 3 output rows.
    Determinism: content hashing only (no ids in the fingerprint, so
    the manifest is invariant to partitioning and row order); exact
    counts; the dedup keeps min doc_id per md5 — the dedup family's
    canonical rule."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    keep = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s1d = corpus.join(keep.select("doc_id"), "doc_id")
    s2 = s1d.filter(F.length("text") >= 200)

    def manifest(df: DataFrame, stage: str, idx: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                hash64_seeded(F.col("text"), _LIN_SEED).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_fingerprint"),
        ).select(
            F.lit(stage).alias("stage"),
            F.lit(idx).alias("stage_idx"),
            "n_docs",
            "content_fingerprint",
        )
    return (
        manifest(corpus, "raw", 0)
        .unionByName(manifest(s1d, "exact_dedup", 1))
        .unionByName(manifest(s2, "length_filter", 2))
    )


# ---------------------------------------------------------------------------
# Order-invariance audit (the determinism discipline, proved on itself)
# ---------------------------------------------------------------------------

_OIA_SEED = 73


@register(
    "order_invariance_audit",
    oracle=f"""
    WITH v AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(6,4)))
                  AS DECIMAL(22,4)) AS rev
      FROM lineitem
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS VARCHAR) AS revenue_sum,
             CAST(CAST(SUM(CAST({_hex60_seeded(
                 73,
                 "CAST(l_orderkey AS VARCHAR) || '|' "
                 "|| CAST(l_linenumber AS VARCHAR)",
             )} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
               AS row_fingerprint
      FROM v
    )
    SELECT n,
           revenue_sum AS revenue_sum_hash_part,
           revenue_sum AS revenue_sum_range_part,
           revenue_sum AS revenue_sum_alt_part,
           row_fingerprint AS fingerprint_hash_part,
           row_fingerprint AS fingerprint_range_part,
           row_fingerprint AS fingerprint_alt_part,
           CAST(1 AS INT) AS all_equal
    FROM a
    """,
)
def order_invariance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The repo's determinism discipline PROVED on itself: the exact
    decimal revenue sum and the commutative row fingerprint computed
    under THREE different physical layouts (hash-partitioned on
    orderkey, range-partitioned on partkey, hash-partitioned on
    linenumber with a different width) must agree bit-for-bit — if any
    aggregation path were order-dependent (double sums, engine-native
    hashes), the three lanes would diverge and `all_equal` would flip
    to 0. The oracle computes the single canonical answer; Spark must
    land every lane on it.

    Scale shape: three aggregate passes over the same scan (an audit's
    honest cost — run rarely, after engine or layout changes); each is
    map-side combinable, so the exchanges carry one partial row per
    partition. Determinism: decimal(22,4) exact sums and decimal(38)
    hash sums rendered as digit strings — the two primitives every
    money/fingerprint entry in the catalog builds on."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        )
        .cast("decimal(22,4)")
        .alias("rev"),
    )

    def lane(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("rev").cast("string").alias(f"revenue_sum_{tag}"),
            F.sum(
                hash64_seeded(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    ),
                    _OIA_SEED,
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias(f"fingerprint_{tag}"),
        )

    h = lane(v.repartition(7, "l_orderkey"), "hash_part")
    r = lane(
        v.repartitionByRange(5, "l_partkey"), "range_part"
    ).drop("n")
    a = lane(v.repartition(13, "l_linenumber"), "alt_part").drop("n")
    wide = h.crossJoin(F.broadcast(r)).crossJoin(F.broadcast(a))
    eq = (
        (F.col("revenue_sum_hash_part") == F.col("revenue_sum_range_part"))
        & (F.col("revenue_sum_hash_part") == F.col("revenue_sum_alt_part"))
        & (F.col("fingerprint_hash_part") == F.col("fingerprint_range_part"))
        & (F.col("fingerprint_hash_part") == F.col("fingerprint_alt_part"))
    )
    return wide.select(
        "n",
        "revenue_sum_hash_part",
        "revenue_sum_range_part",
        "revenue_sum_alt_part",
        "fingerprint_hash_part",
        "fingerprint_range_part",
        "fingerprint_alt_part",
        eq.cast("int").alias("all_equal"),
    )
