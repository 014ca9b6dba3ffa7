#!/usr/bin/env python3
"""Round-13 optimization probe: time named queries in isolation and dump
their formatted plans.

Usage:
    python tools/opt_probe.py [--sf DIR] [--runs N] [--plans-dir DIR]
        [--cache 0|1] [--conf k=v ...] query [query ...]

Methodology (guide §1): one warm JVM, hot-table cache ON (the bench's
steady lane), each query timed with the noop sink (materializes every
column; count() would let Catalyst prune). First run reported separately
(codegen compile); steady = min of the remaining runs. Plans are written
to <plans-dir>/<query>.txt when --plans-dir is given.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from series_tiempo_ar_scraping_spark.registry import load_queries  # noqa: E402
from series_tiempo_ar_scraping_spark.session import get_spark, load_table  # noqa: E402

QUERIES = load_queries()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--cache", default="1")
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CACHE_TABLES"] = args.cache
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("opt-probe", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    if args.cache == "1":
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            load_table(spark, args.sf, t).count()

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        times = []
        for i in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "first": times[0],
            "steady": min(times[1:]) if len(times) > 1 else times[0],
            "all": times,
        }
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        print(json.dumps({name: out[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)
    print("OPT_PROBE_SUMMARY " + json.dumps(out))


if __name__ == "__main__":
    main()
