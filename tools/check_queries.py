#!/usr/bin/env python3
"""Fast iteration loop: run catalog queries vs DuckDB oracles.

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from series_tiempo_ar_scraping_spark.registry import (  # noqa: E402
    NO_ORACLE_REASONS,
    load_queries,
)
from series_tiempo_ar_scraping_spark.session import get_spark  # noqa: E402
from series_tiempo_ar_scraping_spark.testing import compare_query  # noqa: E402

QUERIES = load_queries()


def main() -> int:
    args = sys.argv[1:]
    # sf_dir may appear in ANY position (an arg containing '/'); dropping
    # it silently would validate against the default scale while the user
    # believes they ran the gate scale
    dirs = [a for a in args if "/" in a]
    if len(dirs) > 1:
        print(f"multiple sf_dir arguments: {dirs}")
        return 2
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a] or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}; available: {sorted(QUERIES)}")
        return 2
    spark = get_spark("check-queries", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    import time

    failed, untested = [], []
    for name in names:
        t0 = time.perf_counter()
        # Side-output, never throw per-record (the repo's V7 pattern):
        # one broken query must not kill the harness.
        try:
            r = compare_query(spark, sf_dir, name)
        except Exception as exc:  # noqa: BLE001
            r = {"name": name, "status": f"error: {exc!r:.300}", "match": False}
        dt = time.perf_counter() - t0
        if r["match"] is None:
            flag = "?? "
            untested.append(name)
        elif r["match"]:
            flag = "OK "
        else:
            flag = "FAIL"
        print(
            f"[{flag}] {name}: {r['status']} rows={r.get('rows')} "
            f"({dt:.1f}s)",
            flush=True,
        )
        if r["match"] is False:
            failed.append(name)
            for k in ("spark_cols", "duck_cols", "n_spark", "n_duck", "sample_diff", "spark_head", "duck_head"):
                if k in r:
                    print(f"    {k}: {r[k]}")
    n_ok = len(names) - len(failed) - len(untested)
    print(f"\n{n_ok}/{len(names)} ok; failed: {failed}; untested (no oracle): {untested}")
    # Oracle coverage may not silently erode: an oracle-less query is only
    # acceptable with a committed justification (register(...,
    # no_oracle_reason=...)). New queries must declare one or an oracle.
    unjustified = [n for n in untested if n not in NO_ORACLE_REASONS]
    if unjustified:
        print(f"FAIL: oracle-less queries without a committed justification: {unjustified}")
        return 1
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
