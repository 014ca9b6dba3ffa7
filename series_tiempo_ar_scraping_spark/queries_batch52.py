"""Batch-52 queries: the ESCALATED blocking paths as oracled catalog
entries (VERDICT r12 #7 depth item).

Round 13 made ``blocking="auto"`` the registered default of the
cell-blocked kernels: past n ≥ 2·target_cell² (125k vectors) they ride
the two-level codebook instead of the flat adaptive-K one. Below the
crossover the flat oracle pins them; ABOVE it the blocking structure
the fleet actually rides had, until this entry, only two pytest
signals — the coarse_k=1 row-for-row identity (which exercises a
degenerate coarse split) and the census invariants at coarse_k=4
(which don't pin values). This entry hash-pins the full escalated
census at the kernel's real escalation shape (coarse_k=8, the auto
path's default): every packed (coarse, fine) cell's member count,
candidate-pair count, near-pair count, dup count and survivor count
against a DuckDB oracle that chains the flat coarse Lloyd CTEs into
the grouped fine Lloyd CTEs and re-runs the same upper-triangle
census over the packed key. A bug in the coarse pass, the group
handoff, the per-group sizing, the key packing, or the census logic
breaks the hash — at every fixture scale, not just above 125k rows.

Reference parity: none (LLM-pipeline scale structure, not a reference
operator); the semantics are ``semantic_cluster_dedup``'s census over
``two_level_codebook``'s blocking key, and (second entry)
``label_noise_knn_disagreement``'s report over
``two_level_multiprobe``'s candidate cells at the r13 default
escalation shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from series_tiempo_ar_scraping_spark.registry import ORACLES, register
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _COS64_SQL,
    _EMB_NEAR_SQL,
    _kmeans_ctes,
    _kmeans_grouped_ctes,
)

_B52_COARSE_K = 8
_B52_ITERS = 2


@register("semantic_cluster_dedup_two_level", oracle=None)
def semantic_cluster_dedup_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The escalation path of ``semantic_cluster_dedup`` as its own
    hash-oracled entry: the near-dup census blocked by the TWO-LEVEL
    codebook at the auto default's real shape (coarse_k=8, 2 Lloyd
    rounds per level, fine k_g = max(2, ⌈n_cell/250⌉) by window
    count), cell key = coarse_cid·2³² + fine_cid. Exactly the frame a
    fleet user gets from the registered kernel once the corpus passes
    ``similarity.TWO_LEVEL_CROSSOVER`` — pinned by value at the
    fixture scales so the escalated dataflow carries the same oracle
    signal as the flat one.

    Scale shape: identical to the kernel's escalation branch — coarse
    pass n·8 against a broadcast 8-row codebook, fine training/
    assignment an equi-join on the coarse id (never a corpus-sized
    broadcast), pair work confined to (coarse, fine) cells,
    upper-triangled. Pure bigint counts cross the engine boundary."""
    from series_tiempo_ar_scraping_spark.queries_batch11 import (
        semantic_cluster_dedup,
    )

    return semantic_cluster_dedup(
        spark, sf_dir, blocking="two_level", coarse_k=_B52_COARSE_K
    )


_COS = _COS64_SQL

ORACLES["semantic_cluster_dedup_two_level"] = f"""
    WITH corpus AS ({_EMB_NEAR_SQL}),
    {_kmeans_ctes(_B52_COARSE_K, _B52_ITERS, src="corpus")},
    {_kmeans_grouped_ctes(
        iters=_B52_ITERS,
        src=f"(SELECT cid AS gid, vid, xi FROM assign{_B52_ITERS - 1})",
    )},
    packed AS (
      SELECT vid,
             gid * 4294967296 + cid AS cid
      FROM gassign{_B52_ITERS - 1}
    ),
    mem AS (
      SELECT p.vid, p.cid, c.embedding
      FROM packed p JOIN corpus c ON c.vec_id = p.vid
    ),
    pairs AS (
      SELECT x.cid, y.vid AS kb,
             {_COS.format(a='x.embedding', b='y.embedding')} AS sim
      FROM mem x JOIN mem y ON x.cid = y.cid AND x.vid < y.vid
    ),
    agg AS (
      SELECT cid,
             CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
             CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_near_pairs,
             CAST(COUNT(DISTINCT CASE WHEN sim >= 0.95 THEN kb END)
                  AS BIGINT) AS n_dups
      FROM pairs GROUP BY 1
    ),
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM packed GROUP BY 1
    )
    SELECT s.cid, s.n_members,
           COALESCE(g.n_cand_pairs, 0) AS n_cand_pairs,
           COALESCE(g.n_near_pairs, 0) AS n_near_pairs,
           COALESCE(g.n_dups, 0) AS n_dups,
           s.n_members - COALESCE(g.n_dups, 0) AS n_survivors
    FROM sizes s LEFT JOIN agg g USING (cid)
"""


@register("label_noise_knn_two_level", oracle=None)
def label_noise_knn_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The escalation path of ``label_noise_knn_disagreement`` as its
    own hash-oracled entry: the 5-NN label-disagreement report with
    candidates from the TWO-LEVEL MULTI-PROBE at the auto default's
    real shape (coarse_k=8, 2 Lloyd rounds per level, nprobe_coarse=2,
    nprobe_fine=1 — the candidate-budget-parity shape the r13
    crossover probe measured: parity with flat at the 128k boundary,
    1.50× past it at 256k). Until this entry the multi-probe path's
    value signals were the coarse_k=1 ≡ flat identity (a degenerate
    coarse split) and contract invariants; this pins every probed
    (coarse, fine) cell, the candidate set, the top-5 ranking and the
    per-class report against a DuckDB twin that chains the coarse
    flat Lloyd CTEs into the grouped fine CTEs and re-runs the
    two-stage cosine ranking — bit-identical micro-unit training and
    the same float/cosine trees end to end.

    Scale shape: identical to the kernel's escalation branch — coarse
    ranking n·8 against a broadcast 8-row codebook; fine ranking an
    equi-join on the coarse id (the fine codebook is deliberately
    unhinted: it grows as n/target_cell); candidate pairs confined to
    ≤2 probed cells per vector. Exact int counts; one final
    same-int division for the rate."""
    from series_tiempo_ar_scraping_spark.queries_batch12 import (
        label_noise_knn_disagreement,
    )

    return label_noise_knn_disagreement(
        spark, sf_dir, blocking="two_level"
    )


def _label_noise_two_level_oracle() -> str:
    it = _B52_ITERS
    cos_vc = _COS64_SQL.format(a="v.embedding", b="c.cvec")
    cos_vf = _COS64_SQL.format(a="v.embedding", b="f.fvec")
    cos_ab = _COS64_SQL.format(a="qa.embedding", b="qb.embedding")
    return f"""
    WITH {_kmeans_ctes(_B52_COARSE_K, it)},
    {_kmeans_grouped_ctes(
        iters=it,
        src=f"(SELECT cid AS gid, vid, xi FROM assign{it - 1})",
    )},
    coarse_float AS (
      SELECT cid AS coarse_cid,
             list_transform(ci, x -> CAST(x AS DOUBLE) / 1000000.0)
               AS cvec
      FROM cent{it}
    ),
    probes_c AS (
      SELECT vid, coarse_cid, crank_c FROM (
        SELECT v.vec_id AS vid, c.coarse_cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos_vc} DESC, c.coarse_cid
               ) AS crank_c
        FROM embeddings v, coarse_float c
      ) WHERE crank_c <= 2
    ),
    fine_float AS (
      SELECT gid AS coarse_cid, cid AS fine_cid,
             list_transform(ci, x -> CAST(x AS DOUBLE) / 1000000.0)
               AS fvec
      FROM gcent{it}
    ),
    cells2 AS (
      SELECT vid, coarse_cid, fine_cid, crank_c, crank_f FROM (
        SELECT p.vid, p.coarse_cid, f.fine_cid, p.crank_c,
               row_number() OVER (
                 PARTITION BY p.vid, p.coarse_cid
                 ORDER BY {cos_vf} DESC, f.fine_cid
               ) AS crank_f
        FROM probes_c p
        JOIN embeddings v ON v.vec_id = p.vid
        JOIN fine_float f ON f.coarse_cid = p.coarse_cid
      ) WHERE crank_f <= 1
    ),
    own AS (
      SELECT vid, coarse_cid * 4294967296 + fine_cid AS centroid_id
      FROM cells2 WHERE crank_c = 1 AND crank_f = 1
    ),
    probes AS (
      SELECT vid, coarse_cid * 4294967296 + fine_cid AS centroid_id
      FROM cells2
    ),
    scored AS (
      SELECT p.vid AS va, qa.label AS la,
             o.vid AS vb, qb.label AS lb,
             {cos_ab} AS sim
      FROM probes p
      JOIN own o ON o.centroid_id = p.centroid_id
                AND o.vid <> p.vid
      JOIN embeddings qa ON qa.vec_id = p.vid
      JOIN embeddings qb ON qb.vec_id = o.vid
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


ORACLES["label_noise_knn_two_level"] = _label_noise_two_level_oracle()
