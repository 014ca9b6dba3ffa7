#!/usr/bin/env python3
"""Composed-pipeline scale probe: time the heaviest registered
pipelines on an INFLATED document corpus (K× replicas of the sf0.1
fixture) and report docs/sec per K — the evidence that the end-to-end
pipeline shapes (not just their kernels, probed in scale_probe.py)
scale linearly.

Usage: python tools/pipeline_probe.py [K ...]     # default: 1 4 16

Replica ids offset by 1,000,000 per copy so they never collide with
the +100,000 planted-mutant band the dedup corpus uses. Only
`documents` inflates; the other tables copy through unchanged (the
probed pipelines are document-bound — the point is the LSH/shingle/
regex stages' growth, and a super-linear term would show in the
ratio). Timing only — correctness at every scale is the oracle
gate's job.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from series_tiempo_ar_scraping_spark.registry import load_queries  # noqa: E402
from series_tiempo_ar_scraping_spark.session import get_spark  # noqa: E402

QUERIES = load_queries()

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PIPELINES = (
    "corpus_curation_pipeline",
    "governance_nightly_report",
    "gopher_repetition_report",
)
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def inflate(spark, k: int, out_dir: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = f"{BASE}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if t != "documents":
            if not os.path.exists(dst):
                shutil.copy(src, dst)
            continue
        docs = spark.read.parquet(src)
        inflated = docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("rep"),
            "*",
        ).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias(
                "doc_id"
            ),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        inflated.write.mode("overwrite").parquet(dst)
        return inflated.count()
    raise AssertionError("documents missing from TABLES")


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("pipeline-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    out: dict = {"docs_per_sec_by_k": {}, "seconds_by_k": {}}
    root = tempfile.mkdtemp(prefix="spark_graft_pipeline_probe_")
    try:
        for k in ks:
            d = os.path.join(root, f"k{k}")
            n_docs = inflate(spark, k, d)
            for name in PIPELINES:
                # warm the plan once is NOT done: pipelines are
                # nightly-run (cold-ish) shapes; single timed run.
                t0 = time.perf_counter()
                QUERIES[name](spark, d).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.perf_counter() - t0
                out["seconds_by_k"].setdefault(name, {})[
                    f"{k}x"
                ] = round(dt, 2)
                out["docs_per_sec_by_k"].setdefault(name, {})[
                    f"{k}x"
                ] = int(n_docs / dt)
                print(
                    f"PROBE {name} k={k} docs={n_docs} "
                    f"sec={dt:.2f}",
                    flush=True,
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
