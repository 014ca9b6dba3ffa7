#!/usr/bin/env python3
"""sf1 probe for the heaviest catalog queries (VERDICT r9 #7).

The driver fixtures stop at sf0.1; the 100 TB question is whether the
heaviest queries' runtime grows ~linearly past it. This tool
synthesizes an sf1-scale dataset as TEN key-shifted copies of the
read-only sf0.1 fixture (foreign keys shifted consistently on both
sides of every join, so join selectivity and per-key densities are
preserved; the time range stays fixed, so events gets 10x denser — the
realistic direction for a busier system), then times each named query
at sf0.1 and at sf1 in the same JVM and reports the ratio. A shape
with a super-linear term reads >> 10x; sort/shuffle log-factors read
10-14x; embarrassingly-parallel maps read ~10x or less (fixed costs
amortize).

Usage: python tools/sf1_probe.py [query ...]   (default: the r9 top-10)
Writes /tmp/sf1 once (reused if present); prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from series_tiempo_ar_scraping_spark.registry import load_queries  # noqa: E402
from series_tiempo_ar_scraping_spark.session import get_spark  # noqa: E402

QUERIES = load_queries()

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1"
COPIES = 10
# multiple of every modulus the fixtures plant structure with (5, 7,
# 100000, ...) so each copy keeps its internal planted relationships
SHIFT = 10_000_000

# key columns to shift per table; every FK pair shifts by the same
# amount on both sides, so joins land exactly as at sf0.1
KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}

# r10 bench top-20 warm entries (VERDICT r10 #7: every bench top-20
# entry keeps a growth curve as ranks shift; vocab_size_oov_curve and
# the pagerank companions entered the top ranks in r10)
DEFAULT = [
    "spatial_dbscan_clusters",
    "spatial_dbscan_clusters_scaled_domain",
    "two_level_codebook",
    "label_noise_knn_disagreement",
    "vocab_size_oov_curve",
    "basket_recommender_hitrate",
    "corpus_curation_pipeline",
    "pagerank_part_graph",
    "semantic_cluster_dedup",
    "embedding_index_pipeline",
    "markov_removal_attribution",
    "governance_nightly_report",
    "hits_hub_authority",
    "graph_kcore_extraction",
    "graph_bounded_shortest_paths",
    "histogram_quantile_sketch",
    "embedding_power_iteration",
    "dedup_containment",
    "incremental_dedup",
    "multimodal_tar_shards",
    "leakage_safe_split_assignment",
    "graph_degree_assortativity",
]


def inflate(spark) -> None:
    os.makedirs(SF1, exist_ok=True)
    for table, keys in KEYS.items():
        dst = os.path.join(SF1, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        src = spark.read.parquet(os.path.join(SF01, f"{table}.parquet"))
        if not keys:  # bounded dimensions copy through unchanged
            src.write.mode("overwrite").parquet(dst)
            continue
        copies = None
        for k in range(COPIES):
            c = src
            for col in keys:
                c = c.withColumn(col, F.col(col) + F.lit(k * SHIFT))
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(dst)


# Value-space-scaled probe variants (VERDICT r11 #5): entries whose
# synthetic value domain must GROW with the corpus for the probe to
# model new content rather than densification. Each maps a probe name
# to per-scale builders; plain names keep running the registered
# default (which, for dbscan, deliberately measures the densification
# regime — the pair of curves is the standing adjudication).
def _dbscan_variant(grid):
    def fn(spark, sf_dir):
        from series_tiempo_ar_scraping_spark.queries_batch13 import (
            _dbscan_clusters_frame,
        )

        return _dbscan_clusters_frame(spark, sf_dir, grid=grid)

    return fn


VARIANTS = {
    # 10000·√10 at 10x rows → constant density (same expected points
    # per eps-cell as the registered sf0.1 run)
    "spatial_dbscan_clusters_scaled_domain": {
        SF01: _dbscan_variant(10000),
        SF1: _dbscan_variant(31623),
    },
    # The r12-era escalation variants (semantic_cluster_dedup_two_level,
    # label_noise_knn_two_level) became REGISTERED oracled entries in
    # r13 (queries_batch52) with identical semantics, so plain QUERIES
    # lookup now covers them — no override needed. The kNN variant's
    # r12 lineage points used the (2,2) probe shape; r13+ points ride
    # the (2,1) default (SCALE.md r13 adjudication).
}


def _run(name: str, spark, sf_dir: str) -> float:
    fn = VARIANTS.get(name, {}).get(sf_dir) or QUERIES[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    from bench import _cpu_stat  # steal telemetry (r11)

    stat0 = _cpu_stat()
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    spark = get_spark("sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    inflate(spark)
    out = {}
    for name in names:
        t01 = _run(name, spark, SF01)
        t1 = _run(name, spark, SF1)
        out[name] = {
            "sf0.1_sec": t01,
            "sf1_sec": t1,
            "ratio": round(t1 / t01, 2) if t01 > 0 else None,
        }
        print(f"PROBE_DETAIL {name}: sf0.1={t01}s sf1={t1}s "
              f"ratio={out[name]['ratio']}x")
    # r11: the cell-blocked kernels' REGISTERED DEFAULT is now the
    # adaptive K ∝ n sizing (VERDICT r10 #2), so the plain runs above
    # already measure the scale-safe path (K=80 at sf1 for the kNN
    # entry — the configuration the r10 twin verified at 19.8 s vs
    # 245 s for the quadratic fixed-K=8). No separate twin needed; the
    # fixed-K hazard remains reachable only by explicit k= override.
    stat1 = _cpu_stat()
    if stat0 and stat1 and stat1[1] > stat0[1]:
        # hypervisor steal over the probe window: a steal episode can
        # fake a super-linear growth reading, so the record carries
        # its own contamination telltale (>~1% = rerun the probe)
        out["steal_pct"] = round(
            100.0 * (stat1[0] - stat0[0]) / (stat1[1] - stat0[1]), 2
        )
    print(json.dumps({"sf1_probe": out}))


if __name__ == "__main__":
    main()
