"""Batch-51 queries: the two-level codebook as an oracled catalog
entry (VERDICT r11 #2).

``operators/similarity.two_level_codebook`` is the blocking structure
SCALE.md prescribes past the flat adaptive-K crossover (~10⁵ vectors,
where even a K ∝ n flat codebook makes assignment itself
n²/target_cell): a small fixed coarse codebook bounds the first pass
at n·coarse_k, then a per-coarse-cell grouped Lloyd trains the fine
codebook with k_g ∝ cell size — n²/(coarse_k·target_cell) total.
Until now its only correctness signal was the pytest grouped≡flat
equivalence (``test_llm_ops.py``); this entry pins the FULL composed
assignment (every vector's coarse and fine cell) against a DuckDB
oracle that chains the unrolled flat Lloyd CTEs into the grouped
Lloyd CTEs (``sqlfrags._kmeans_grouped_ctes``) — bit-identical
micro-unit arithmetic end to end, so a bug in the coarse pass, the
group handoff, or the per-group sizing rule breaks the hash.

Reference parity: none (LLM-pipeline scale structure, not a reference
operator); the design is the standard IVF/two-level quantization
shape restated as deterministic dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _kmeans_ctes,
    _kmeans_grouped_ctes,
)

_TLC_COARSE_K = 8
_TLC_ITERS = 2


def _two_level_codebook_oracle() -> str:
    """Flat Lloyd (coarse) chained into grouped Lloyd (fine): the
    coarse ``assign{iters-1}`` CTE, relabeled (cid → gid), is the
    grouped chain's source; the final projection is every vector's
    (coarse, fine) cell."""
    it = _TLC_ITERS
    return (
        "WITH "
        + _kmeans_ctes(_TLC_COARSE_K, it)
        + ",\n    "
        + _kmeans_grouped_ctes(
            iters=it,
            src=f"(SELECT cid AS gid, vid, xi FROM assign{it - 1})",
        )
        + f"""
    SELECT vid AS vec_id, gid AS coarse_cid, cid AS fine_cid
    FROM gassign{it - 1}
    """
    )


@register("two_level_codebook", oracle=_two_level_codebook_oracle())
def two_level_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level codebook assignment, hash-oracled: a fixed 8-cell
    coarse Lloyd codebook (2 rounds, micro-unit exact — the
    ``kmeans_lloyd_clusters`` arithmetic) partitions the embeddings,
    then ``kmeans_lloyd_micro_grouped`` trains an independent fine
    codebook INSIDE every coarse cell in one dataflow, k_g =
    max(2, ⌈n_cell / 250⌉) derived by a window count. The result is
    the full per-vector (coarse_cid, fine_cid) blocking key — the
    cell-local pair-work key for the regime where the flat adaptive-K
    path (``semantic_cluster_dedup`` / ``label_noise_knn_disagreement``
    defaults) crosses over (~10⁵ vectors per blocking domain; SCALE.md).

    Scale shape: the coarse pass is n·8 work against a broadcast
    8-row codebook; the fine pass keys centroids by (coarse_cid, cid)
    so assignment is an EQUI-JOIN on the coarse id — shuffle-
    partitionable, never a corpus-sized broadcast — and per-round fine
    work is n²/(8·250). No driver-side per-group loop: one plan,
    G groups, window-counted k_g."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.two_level_codebook(
        emb, coarse_k=_TLC_COARSE_K, iters=_TLC_ITERS
    ).select(
        "vec_id",
        F.col("coarse_cid").cast("int").alias("coarse_cid"),
        F.col("fine_cid").cast("int").alias("fine_cid"),
    )
