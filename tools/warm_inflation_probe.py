#!/usr/bin/env python3
"""Diagnose the shared-JVM warm-lane inflation (VERDICT r10 #3/#4).

Observation: vocab_size_oov_curve reads 4.25-5.79 s warm in the full
259-query bench JVM while its isolated fresh-JVM warm is ~1.5 s — and
its warm-with-cached-tables can exceed its own cold-uncached time.
Same-tree bench records 1.8 h apart differ by a median 1.11x per query
(max 2.5x), which is the dominant noise term in the frozen-set
headline.

This probe reproduces the effect inside ONE JVM and separates the
candidate causes by measuring the suspect at four points:

  base       min-of-2 right after cache materialization (the isolated
             number the bench's only-mode reports)
  inflated1  single run after N filler queries executed warm (the
             bench's EXT-lane single-run methodology at depth)
  inflated2  second consecutive run (if fast: the inflation is a
             per-plan RE-compile/JIT-eviction cost the single-run
             methodology charges; if still slow: ambient JVM pressure)
  after_gc   after an explicit System.gc() (if fast: garbage pressure;
             heap headroom was the resource)
  recached   after clearCache() + re-cache + re-materialize (if fast:
             cached-table fragmentation/eviction was the resource)

Usage: python tools/warm_inflation_probe.py [n_filler] [suspect ...]
Prints one JSON line; detail lines are prefixed PROBE_DETAIL.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SUSPECTS = ["vocab_size_oov_curve", "langid_confusion_matrix"]


def main() -> None:
    n_filler = int(sys.argv[1]) if len(sys.argv) > 1 else 150
    suspects = sys.argv[2:] or SUSPECTS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"

    from bench import BENCH_QUERIES, TABLES  # noqa: E402
    from series_tiempo_ar_scraping_spark.registry import load_queries
    from series_tiempo_ar_scraping_spark.session import (  # noqa: E402
        get_spark,
        load_table,
    )

    QUERIES = load_queries()
    spark = get_spark("warm-inflation-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.perf_counter() - t0, 3)

    def materialize() -> None:
        for t in TABLES:
            load_table(spark, sf_dir, t).count()

    materialize()
    out: dict = {"sf_dir": sf_dir, "n_filler": n_filler, "suspects": {}}
    for s in suspects:
        out["suspects"][s] = {"base": min(run(s), run(s))}
        print(f"PROBE_DETAIL {s} base={out['suspects'][s]['base']}s")

    fillers = [n for n in BENCH_QUERIES if n not in set(suspects)][
        :n_filler
    ]
    t0 = time.perf_counter()
    for name in fillers:
        run(name)
    out["filler_sec"] = round(time.perf_counter() - t0, 1)
    print(f"PROBE_DETAIL {len(fillers)} fillers in {out['filler_sec']}s")

    for s in suspects:
        d = out["suspects"][s]
        d["inflated1"] = run(s)
        d["inflated2"] = run(s)
        print(
            f"PROBE_DETAIL {s} inflated1={d['inflated1']}s "
            f"inflated2={d['inflated2']}s"
        )
    # explicit full GC, then re-time (single run: the methodology that
    # showed the inflation)
    spark._jvm.System.gc()
    time.sleep(2)
    for s in suspects:
        out["suspects"][s]["after_gc"] = run(s)
        print(
            f"PROBE_DETAIL {s} after_gc={out['suspects'][s]['after_gc']}s"
        )
    # drop + rebuild the table cache, then re-time
    spark.catalog.clearCache()
    materialize()
    for s in suspects:
        out["suspects"][s]["recached"] = run(s)
        print(
            f"PROBE_DETAIL {s} recached={out['suspects'][s]['recached']}s"
        )
    for s, d in out["suspects"].items():
        d["inflation_x"] = (
            round(d["inflated1"] / d["base"], 2) if d["base"] > 0 else None
        )
    print(json.dumps({"warm_inflation_probe": out}))


if __name__ == "__main__":
    main()
