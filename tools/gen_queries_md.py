#!/usr/bin/env python3
"""Regenerate QUERIES.md from the query registry (docstring summaries)."""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from series_tiempo_ar_scraping_spark.registry import (  # noqa: E402
    ORACLES,
    load_queries,
)

OUT = os.path.join(ROOT, "QUERIES.md")


def render() -> str:
    """QUERIES.md's text for the catalog in driver-gate order."""
    queries = load_queries()
    lines = [
        "# QUERIES — the %d-entry catalog" % len(queries),
        "",
        "Generated from the registry (`python tools/gen_queries_md.py` regenerates).",
        "Order = driver-gate order: the FIRST 50 rows are the driver's hash-checked",
        "correctness gate; every row also runs in the local mirror",
        "(`tools/check_queries.py`). ✓ = DuckDB oracle registered.",
        "",
        "| # | Query | Oracle | Module | Summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(queries.items(), 1):
        doc = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = doc.replace("\n", " ").replace("|", "\\|")
        if len(doc) > 160:
            doc = doc[:157] + "..."
        mod = fn.__module__.rsplit(".", 1)[-1]
        oracle = "✓" if name in ORACLES else "rows-only"
        lines.append(f"| {i} | `{name}` | {oracle} | `{mod}` | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    with open(OUT, "w") as fh:
        fh.write(text)
    print(f"wrote {len(load_queries())} rows to {OUT}")


if __name__ == "__main__":
    main()
