"""Batch-24 queries: graph structure, leakage-safe splits, writer
planning, OLAP cubes, agreement statistics, and dedup economics.

Families (each entry hash-oracled; determinism per the established
recipes — exact integers end to end, truncating/floored divisions via
the shared spellings):

- Triangle count + global clustering coefficient over the part
  co-purchase graph (the sqlfrags-shared edge set HITS uses): one
  ordered triple join on canonical a<b<c edges, wedges from the
  degree frame — the graph-density census beside degree assortativity
  and k-core.
- Leakage-safe split assignment: the FIX the split-leakage audit
  calls for — assign every near-dup CLUSTER (connected component)
  wholly to one split by a seeded hash of the component id, then
  PROVE zero cross-split edges. Registry-composed on both sides.
- Output shard planner: the writer-side greedy packing pass — per
  source, cumulative document bytes cut into fixed-size shards by
  prefix sum (the WebDataset/TAR shard sizing decision, computed
  before any bytes move).
- CUBE revenue stats: full grouping-sets rollup with explicit
  GROUPING flags — the relational-completeness twin of
  ``rollup_order_indicators``.
- Cohen's kappa: inter-rater agreement between two deterministic
  labeling rules, exact-integer po/pe/kappa — the label-quality gate
  an annotation pipeline runs before training on the labels.
- Dedup savings report: the ECONOMICS of near-dup collapse — bytes
  saved per corpus source if every cluster keeps one canonical doc;
  what turns the dedup family's edge lists into a storage decision.

Reference parity: extends the reference's indicator/report lane
(reference/scrapers/base.py generate_summary/indicators) with the
graph, split-governance, and writer-planning passes of a fleet-scale
corpus platform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.queries_llm import (
    dedup_connected_components,
    dedup_ngram_jaccard,
)
from series_tiempo_ar_scraping_spark.registry import ORACLES, register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    COPURCHASE_EDGES_SQL,
    _hex60_seeded,
    _neardup_edges_ctes,
)

# ---------------------------------------------------------------------------
# Triangle count + global clustering coefficient
# ---------------------------------------------------------------------------


@register(
    "triangle_count_clustering",
    oracle=f"""
    WITH {COPURCHASE_EDGES_SQL},
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) u
      GROUP BY id
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    wed AS (
      SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w FROM deg
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)
             AS n_connected_nodes,
           t AS n_triangles, w AS n_wedges,
           CAST(3 * t * 1000000 // NULLIF(w, 0) AS BIGINT)
             AS global_clustering_micro
    FROM tri, wed
    """,
)
def triangle_count_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle census of the part co-purchase graph: exact triangle
    count via ONE ordered triple join on the canonical (src < dst)
    edge set — each triangle a<b<c matches exactly once as edges
    (a,b),(b,c),(a,c) — plus wedge count Σ d·(d-1)/2 from the degree
    frame and the global clustering coefficient 3·T/W, the density
    census beside ``graph_degree_assortativity`` and k-core (how
    cliquish is co-purchase, i.e. how much do basket recommendations
    self-reinforce).

    Scale shape: edges come from per-basket pair generation (the
    shared ``operators/graphs.py`` builder — no (order,part) self
    join), checkpointed ONCE and reused by all three aggregates; the
    triple join is two equi-joins on edge keys. At fleet scale the
    standard refinement is degree-orientation (point each edge at the
    higher-degree endpoint) which bounds per-node join fan-out by
    sqrt(|E|); the canonical-order join here is exact and shares its
    shuffle keys. Determinism: exact bigint counts; the coefficient
    is one truncating division with a NULLIF(0) guard (both engines
    yield NULL on an edgeless graph)."""
    from series_tiempo_ar_scraping_spark.operators.graphs import (
        copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    e = copurchase_edges(li).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count("*").cast("long").alias("t"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("w")
    )
    nn = li.select("l_partkey").distinct().agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    ne = e.agg(F.count("*").cast("long").alias("n_edges"))
    nc = deg.agg(F.count("*").cast("long").alias("n_connected_nodes"))
    return (
        tri.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_nodes",
            "n_edges",
            "n_connected_nodes",
            F.col("t").alias("n_triangles"),
            F.col("w").alias("n_wedges"),
            F.expr(
                "CAST(3 * t * 1000000 DIV NULLIF(w, 0) AS BIGINT)"
            ).alias("global_clustering_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe split assignment (the split_leakage_audit FIX)
# ---------------------------------------------------------------------------

_LSS_SEED = 67


def _lss_oracle() -> str:
    """Composes the shared near-dup edge prefix ONCE and runs the CC
    fixpoint (the _cc_oracle spelling, verbatim) on top of it — nesting
    the registered CC oracle as a subquery would re-derive the whole
    LSH chain a second time (~2x the oracle cost at sf0.1, measured
    504s -> ~250s). The edges and the min-label rule still provably
    match the dedup family's: same prefix fragment, same fixpoint, and
    the Spark side calls the REGISTERED CC query, so any drift fails
    the hash."""
    h = f"(({_hex60_seeded(_LSS_SEED, 'CAST(component_id AS VARCHAR)')}) % 10)"
    return f"""
    WITH RECURSIVE {_neardup_edges_ctes()},
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN bi e ON e.src = r.id
    ),
    comp AS (
      SELECT id AS doc_id, MIN(comp) AS component_id FROM reach
      GROUP BY id
    ),
    asn AS (
      SELECT doc_id, component_id,
             CASE WHEN {h} < 8 THEN 'train'
                  WHEN {h} = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM comp
    ),
    xe AS (
      SELECT ea.split AS split,
             CASE WHEN ea.split <> eb.split THEN 1 ELSE 0 END AS x
      FROM verified v
      JOIN asn ea ON ea.doc_id = v.doc_a
      JOIN asn eb ON eb.doc_id = v.doc_b
    ),
    ce AS (
      SELECT split, CAST(SUM(x) AS BIGINT) AS n_cross FROM xe GROUP BY 1
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.component_id) AS BIGINT) AS n_clusters,
           CAST(COALESCE(MAX(ce.n_cross), 0) AS BIGINT)
             AS n_cross_split_edges
    FROM asn a LEFT JOIN ce ON ce.split = a.split
    GROUP BY a.split
    """


@register("leakage_safe_split_assignment", oracle=_lss_oracle())
def leakage_safe_split_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FIX ``split_leakage_audit`` calls for: assign every near-dup
    CLUSTER (connected component over the verified edge set) wholly to
    one split by a seeded hash of the component id — a doc and its
    near-duplicates can never straddle train/eval — and PROVE it by
    counting cross-split edges (must be 0 by construction, computed
    honestly from the joined edge frame, not assumed). Per split:
    document count, cluster count, and the cross-edge proof.

    Scale shape: the cluster map is the registered CC entry (its
    per-round shuffles already audited); the split label is a map-side
    hash of the component id; the proof is two equi-joins of the edge
    list against the narrow (doc_id, split) projection and a
    3-row aggregate joined back broadcast. Determinism: the split is a
    pure function of (seed, component id) via the shared 60-bit hash
    contract — reruns, retries, and both engines assign identically."""
    from series_tiempo_ar_scraping_spark.operators import dedup as D

    # derive the verified edge list ONCE (eager checkpoint) and feed it
    # to BOTH the component labeling and the cross-split proof — calling
    # the registered CC query would re-run the whole LSH pipeline a
    # second time for the edges (measured 4.5s -> ~2.5s warm at sf0.1);
    # the edges still come from the REGISTERED dedup entry, and the
    # labeling is the same operator that entry uses, so nothing drifts.
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    docs = load_table(spark, sf_dir, "documents")
    corpus_ids = docs.select("doc_id").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id")
        )
    )
    comp = D.connected_components(corpus_ids, edges)
    h = (
        hash64_seeded(F.col("component_id").cast("string"), _LSS_SEED)
        % 10
    )
    asn = comp.select(
        "doc_id",
        "component_id",
        F.when(h < 8, "train")
        .when(h == 8, "val")
        .otherwise("test")
        .alias("split"),
    ).localCheckpoint(eager=False)
    xe = (
        edges.join(
            asn.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("split_a"),
            ),
            "doc_a",
        )
        .join(
            asn.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("split_b"),
            ),
            "doc_b",
        )
        .select(
            F.col("split_a").alias("split"),
            F.when(F.col("split_a") != F.col("split_b"), 1)
            .otherwise(0)
            .alias("x"),
        )
    )
    ce = xe.groupBy("split").agg(
        F.sum("x").cast("long").alias("n_cross")
    )
    return (
        asn.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("component_id")
            .cast("long")
            .alias("n_clusters"),
        )
        .join(F.broadcast(ce), "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce(F.col("n_cross"), F.lit(0))
            .cast("long")
            .alias("n_cross_split_edges"),
        )
    )


# ---------------------------------------------------------------------------
# Output shard planner (writer-side greedy packing)
# ---------------------------------------------------------------------------

_SHARD_TARGET_BYTES = 8192


@register(
    "output_shard_planner",
    oracle=f"""
    WITH c AS (
      SELECT source, doc_id, CAST(strlen(text) AS BIGINT) AS b
      FROM documents
    ),
    cum AS (
      SELECT source, doc_id, b,
             CAST(SUM(b) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cb
      FROM c
    )
    SELECT source,
           CAST((cb - b) // {_SHARD_TARGET_BYTES} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS shard_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM cum GROUP BY 1, 2
    """,
)
def output_shard_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side shard planning: per corpus source, documents in
    doc_id order pack greedily into ~8 KiB shards — shard id =
    bytes-before-this-doc DIV target, the streaming-writer rule (a doc
    starts a new shard only when the previous ones already filled the
    target), reported as (source, shard) rows with byte and doc-range
    bounds. This is the sizing pass that runs BEFORE
    ``multimodal_tar_shards`` moves any bytes: shard boundaries become
    the applyInPandas grouping key.

    Scale shape: ONE prefix-sum window PARTITIONED BY source (bounded
    per-source sorts — never a global order), then a grouped rollup on
    the same partitioning. Determinism: byte counts are exact bigints;
    the cut rule is a truncating division of non-negative prefix
    sums."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        "doc_id",
        F.length("text").cast("long").alias("b"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = c.select(
        "source",
        "doc_id",
        "b",
        F.sum("b").over(w).cast("long").alias("cb"),
    )
    return cum.groupBy(
        "source",
        F.expr(
            f"CAST((cb - b) DIV {_SHARD_TARGET_BYTES} AS BIGINT)"
        ).alias("shard_id"),
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("b").cast("long").alias("shard_bytes"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# CUBE revenue stats (grouping sets with explicit GROUPING flags)
# ---------------------------------------------------------------------------


@register(
    "cube_revenue_stats",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
                ELSE o_orderpriority END AS priority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
                ELSE o_orderstatus END AS status,
           CAST(GROUPING(o_orderpriority) * 2
                + GROUPING(o_orderstatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (priority, status): every grouping set — both
    keys, each alone, and the grand total — in ONE pass with explicit
    GROUPING flags distinguishing subtotal rows from data rows (the
    classic reason COALESCE alone is unsafe; here keys are non-null so
    '(all)' placeholders are unambiguous, and gid carries the proof).
    The grouping-sets twin of ``rollup_order_indicators``, completing
    the relational OLAP surface.

    Scale shape: Spark expands CUBE into a single Expand + one
    aggregate — 4 grouping sets cost one shuffle whose width is the
    union of the sets, exactly how the fleet computes subtotal
    dashboards without rescanning. Determinism: exact cents recipe,
    bigint counts, and the explicit gid; both engines compute
    GROUPING() flags identically."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    agg = orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping("o_orderpriority").cast("long").alias("gp"),
        F.grouping("o_orderstatus").cast("long").alias("gs"),
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("revenue_cents"),
    )
    return agg.select(
        F.when(F.col("gp") == 1, "(all)")
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(F.col("gs") == 1, "(all)")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        (F.col("gp") * 2 + F.col("gs")).cast("long").alias("gid"),
        "n_orders",
        "revenue_cents",
    )


# ---------------------------------------------------------------------------
# Cohen's kappa (inter-rater agreement)
# ---------------------------------------------------------------------------

_KAPPA_RATER_A_SQL = """
  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi'
       WHEN o_orderpriority = '3-MEDIUM' THEN 'mid'
       ELSE 'lo' END
"""
_KAPPA_RATER_B_SQL = """
  CASE WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) >= 18000000
         THEN 'hi'
       WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) >= 9000000
         THEN 'mid'
       ELSE 'lo' END
"""


@register(
    "cohens_kappa_agreement",
    oracle=f"""
    WITH r AS (
      SELECT {_KAPPA_RATER_A_SQL} AS ra, {_KAPPA_RATER_B_SQL} AS rb
      FROM orders
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
               AS agree
      FROM r
    ),
    ma AS (SELECT ra AS k, CAST(COUNT(*) AS BIGINT) AS ca FROM r GROUP BY 1),
    mb AS (SELECT rb AS k, CAST(COUNT(*) AS BIGINT) AS cb FROM r GROUP BY 1),
    s AS (
      SELECT CAST(SUM(ma.ca * mb.cb) AS BIGINT) AS s
      FROM ma JOIN mb ON ma.k = mb.k
    )
    SELECT n.n, n.agree,
           CAST(agree * 1000000 // n AS BIGINT) AS po_micro,
           CAST(s * 1000000 // (n * n) AS BIGINT) AS pe_micro,
           CAST(((agree * n - s) * 1000000
                 - ((((agree * n - s) * 1000000) % NULLIF(n * n - s, 0)
                     + (n * n - s)) % NULLIF(n * n - s, 0)))
                // NULLIF(n * n - s, 0) AS BIGINT) AS kappa_micro
    FROM n, s
    """,
)
def cohens_kappa_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between two deterministic labeling rules over
    orders (rater A: priority bands; rater B: value terciles on fixed
    cent thresholds) — observed agreement po, chance agreement pe from
    the marginal products, and kappa = (po - pe)/(1 - pe) spelled as
    exact integers: kappa = (agree·n - S)/(n² - S) where
    S = Σ_k nA_k·nB_k. The label-quality gate an annotation pipeline
    runs before training on labels (kappa near 0 = the cheap rule adds
    no signal over chance).

    Scale shape: one scan for the 9-cell (ra, rb) reduction is implied
    by the three tiny aggregates (n/agree in one pass, marginals in
    two bounded group-bys joined on the 3-label key); everything after
    is 1-row arithmetic. Determinism: exact bigint counts; kappa can
    be negative, so the division uses the any-sign mod-subtraction
    floor spelling (identical both engines); products fit bigint
    through sf1 — the DECIMAL(38) recipe applies beyond, per
    SCALE.md."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    ra = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi"
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", "mid")
        .otherwise("lo")
    )
    rb = (
        F.when(cents >= 18000000, "hi")
        .when(cents >= 9000000, "mid")
        .otherwise("lo")
    )
    r = orders.select(ra.alias("ra"), rb.alias("rb"))
    n = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = r.groupBy(F.col("ra").alias("k")).agg(
        F.count("*").cast("long").alias("ca")
    )
    mb = r.groupBy(F.col("rb").alias("k")).agg(
        F.count("*").cast("long").alias("cb")
    )
    s = ma.join(mb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("s")
    )
    return n.crossJoin(F.broadcast(s)).select(
        "n",
        "agree",
        F.expr("CAST(agree * 1000000 DIV n AS BIGINT)").alias(
            "po_micro"
        ),
        F.expr("CAST(s * 1000000 DIV (n * n) AS BIGINT)").alias(
            "pe_micro"
        ),
        F.expr(
            "CAST(((agree * n - s) * 1000000"
            " - ((((agree * n - s) * 1000000) % NULLIF(n * n - s, 0)"
            "     + (n * n - s)) % NULLIF(n * n - s, 0)))"
            " DIV NULLIF(n * n - s, 0) AS BIGINT)"
        ).alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# Dedup savings report (the economics of near-dup collapse)
# ---------------------------------------------------------------------------


def _dsr_oracle() -> str:
    """Composes the registered CC oracle and the shared
    near-dup corpus so the clusters provably match the dedup
    family's."""
    from series_tiempo_ar_scraping_spark.sqlfrags import _NEAR_CORPUS_SQL

    return f"""
    WITH comp AS (
      SELECT * FROM ({ORACLES["dedup_connected_components"]})
    ),
    corpus AS ({_NEAR_CORPUS_SQL}),
    sized AS (
      SELECT c.doc_id, comp.component_id,
             CAST(strlen(c.text) AS BIGINT) AS b,
             CASE WHEN c.doc_id >= 100000 THEN c.doc_id - 100000
                  ELSE c.doc_id END AS orig
      FROM corpus c JOIN comp ON comp.doc_id = c.doc_id
    ),
    attr AS (
      SELECT s.doc_id, s.component_id, s.b, d.source
      FROM sized s JOIN documents d ON d.doc_id = s.orig
    ),
    cl AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS csz
      FROM attr GROUP BY 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN csz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cluster_members,
           CAST(SUM(CASE WHEN a.component_id <> a.doc_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN a.component_id <> a.doc_id
                    THEN b ELSE 0 END) AS BIGINT) AS bytes_saved,
           CAST(SUM(b) AS BIGINT) AS bytes_total
    FROM attr a JOIN cl ON cl.component_id = a.component_id
    GROUP BY source
    """


@register("dedup_savings_report", oracle=_dsr_oracle())
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage economics of near-dup collapse: per corpus source,
    how many documents sit in multi-member near-dup clusters, how many
    are redundant (non-canonical — the component keeps its min-id
    member, the dedup family's rule), and the exact bytes saved if
    only canonicals are retained — what turns the dedup edge lists
    into a capacity decision (planted mutants attribute back to their
    original's source, the cross-source-matrix rule).

    Scale shape: the cluster map is the registered CC entry; sizing is
    a map-side length projection over the corpus; attribution is two
    narrow equi-joins (corpus→cluster, orig→source) plus a cluster-
    size aggregate reused broadcast — no text ever crosses a shuffle
    twice. Determinism: exact byte counts (bigint); canonical choice
    is the min-id rule inherited from the hash-oracled CC entry."""
    comp = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # the shared near-dup corpus (queries_llm._near_corpus): originals
    # plus +100000 mutants with the first 12 chars sliced off — spelled
    # inline because batch modules import only from leaves
    mut = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 13)").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mut)
    sized = corpus.join(comp, "doc_id").select(
        "doc_id",
        "component_id",
        F.length("text").cast("long").alias("b"),
        F.when(
            F.col("doc_id") >= 100000, F.col("doc_id") - 100000
        )
        .otherwise(F.col("doc_id"))
        .alias("orig"),
    )
    attr = (
        sized.join(
            docs.select(
                F.col("doc_id").alias("orig"), F.col("source")
            ),
            "orig",
        )
        .select("doc_id", "component_id", "b", "source")
        # read twice (cluster sizing + the final rollup): a lazy
        # checkpoint stops the two upstream equi-joins — and the CC
        # tail past its last internal checkpoint — re-executing (r13)
        .localCheckpoint(eager=False)
    )
    cl = attr.groupBy("component_id").agg(
        F.count("*").cast("long").alias("csz")
    )
    return (
        attr.join(cl, "component_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("csz") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_cluster_members"),
            F.sum(
                F.when(F.col("component_id") != F.col("doc_id"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_redundant"),
            F.sum(
                F.when(
                    F.col("component_id") != F.col("doc_id"),
                    F.col("b"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("bytes_saved"),
            F.sum("b").cast("long").alias("bytes_total"),
        )
    )
