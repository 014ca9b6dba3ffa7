"""Batch-23: HITS hubs/authorities — the 11th iterative family.

Kleinberg's HITS differs structurally from PageRank (batch 5): TWO
mutually recursive score vectors per round (authority pulls from
in-edge hubs, hub pulls from out-edge authorities) with per-round
max-normalization — the shape of any alternating fixed-point
(ALS-style) computation. Scores stay exact integers: micro-unit
seeds, integer sums, and normalization by ``x * 1e6 DIV max`` (max
of bigints is deterministic), so partial sums commute and both
engines land on identical bits.

The graph is the DIRECTED part co-purchase graph (lower key points
to higher — the undirected version makes hubs equal authorities by
symmetry, which would hide a transposed-join bug).

Reference parity: the iterative-algorithms lane (SURVEY §7 hard
parts) beside pagerank/CC/k-means/BPE/power-iteration/Bellman-Ford/
k-core/absorbing-chain/Weiszfeld/perceptron.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

from series_tiempo_ar_scraping_spark.sqlfrags import (
    COPURCHASE_EDGES_SQL,
)

_HITS_ROUNDS = 2

# single-sourced in sqlfrags (the leaf) — batch 24's triangle oracle
# composes the same fragment, so both derive the identical edge set
_HITS_EDGES_SQL = COPURCHASE_EDGES_SQL


def _hits_round_sql(h_prev: str, a_cur: str, h_cur: str) -> str:
    return f"""
    ra_{a_cur} AS (
      SELECT e.dst AS id, CAST(SUM(h.v) AS BIGINT) AS s
      FROM e JOIN {h_prev} h ON h.id = e.src GROUP BY 1
    ),
    {a_cur} AS (
      SELECT n.id,
             CAST(COALESCE(r.s, 0) * 1000000
                  // (SELECT NULLIF(MAX(s), 0) FROM ra_{a_cur}) AS BIGINT) AS v
      FROM nodes n LEFT JOIN ra_{a_cur} r ON r.id = n.id
    ),
    rh_{h_cur} AS (
      SELECT e.src AS id, CAST(SUM(a.v) AS BIGINT) AS s
      FROM e JOIN {a_cur} a ON a.id = e.dst GROUP BY 1
    ),
    {h_cur} AS (
      SELECT n.id,
             CAST(COALESCE(r.s, 0) * 1000000
                  // (SELECT NULLIF(MAX(s), 0) FROM rh_{h_cur}) AS BIGINT) AS v
      FROM nodes n LEFT JOIN rh_{h_cur} r ON r.id = n.id
    )"""


def _hits_oracle() -> str:
    parts = [f"h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM nodes)"]
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(_hits_round_sql(f"h{r - 1}", f"a{r}", f"h{r}"))
    last = _HITS_ROUNDS
    return (
        f"WITH {_HITS_EDGES_SQL}, "
        + ", ".join(parts)
        + f""" SELECT h.id AS part_id, h.v AS hub_micro,
                      a.v AS auth_micro
               FROM h{last} h JOIN a{last} a ON a.id = h.id"""
    )


@register("hits_hub_authority", oracle=_hits_oracle())
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the directed part co-purchase graph: 2 rounds of
    authority(v) = Σ hub(u) over in-edges then hub(u) = Σ auth(v) over
    out-edges, each vector max-normalized to micro units — the 11th
    iterative family, and the first with TWO mutually recursive
    vectors per round (the alternating-fixed-point shape ALS shares).
    The directed graph (lower part key points to higher) keeps hubs
    and authorities distinct, so a transposed join cannot hide.

    Scale shape: the edge list checkpoints ONCE and stays partitioned
    across rounds; each half-round is one edge⋈scores join + one
    keyed sum + a 1-row max broadcast back (the pagerank discipline,
    doubled). Determinism: integer sums and ``x * 1e6 DIV max``
    normalization — no floats anywhere; the oracle unrolls identical
    rounds."""
    from series_tiempo_ar_scraping_spark.operators.graphs import (
        copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).localCheckpoint(eager=False)
    # nodes checkpoints ONCE (r13): each of the 4 half-round normalize
    # joins used to re-plan the lineitem scan + distinct — 4 extra
    # corpus passes per call.
    nodes = (
        li.select(F.col("l_partkey").alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = nodes.select("id", F.lit(1000000).cast("bigint").alias("v"))

    def normalize(raw: DataFrame) -> DataFrame:
        # Lazy-checkpoint the half-round aggregate (r13): it feeds BOTH
        # the 1-row max (built as a broadcast) and the node join below —
        # uncheckpointed, the edge⋈scores join + sum executed twice per
        # half-round. The broadcast build materializes the checkpoint;
        # the join reuses it.
        raw = raw.localCheckpoint(eager=False)
        mx = raw.agg(F.max("s").alias("m"))
        return (
            nodes.join(raw, nodes["id"] == raw["rid"], "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "id",
                F.expr(
                    "CAST(coalesce(s, 0) * 1000000"
                    " DIV NULLIF(m, 0) AS BIGINT)"
                )
                .alias("v"),
            )
            # lazy (r13): with nodes/edges checkpointed the half-round
            # chain needs no synchronous job per step — the final action
            # materializes each checkpoint once (the broadcast mx build
            # pays raw; the next half-round's join reads the cache).
            .localCheckpoint(eager=False)
        )

    a = None
    for _ in range(_HITS_ROUNDS):
        ra = (
            edges.join(h, edges["src"] == h["id"])
            .groupBy(F.col("dst").alias("rid"))
            .agg(F.sum("v").cast("bigint").alias("s"))
        )
        a = normalize(ra)
        rh = (
            edges.join(a, edges["dst"] == a["id"])
            .groupBy(F.col("src").alias("rid"))
            .agg(F.sum("v").cast("bigint").alias("s"))
        )
        h = normalize(rh)
    return (
        h.select(F.col("id").alias("part_id"), F.col("v").alias("hub_micro"))
        .join(
            a.select(
                F.col("id").alias("part_id"),
                F.col("v").alias("auth_micro"),
            ),
            "part_id",
        )
    )
