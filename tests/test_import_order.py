"""Import-order contract of the query catalog.

Query modules register into the leaf ``registry``, and
``registry.load_queries()`` imports them in canonical order
(``QUERY_MODULES``). A query module may import the registry, leaf
modules, and query modules that come EARLIER in that order — never
``queries`` (the first module, which used to import every batch at its
bottom), never ``load_queries``, never a later module. Then any module
can be imported first, and the catalog order does not depend on which
one was.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import pytest

from series_tiempo_ar_scraping_spark.registry import (
    _DRIVER_GATE_PRIORITY,
    _RANK,
    ORACLES,
    QUERY_MODULES,
    load_queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "series_tiempo_ar_scraping_spark"


def _imports(path: str) -> list[tuple[int, str]]:
    """(line, dotted name) for every import in the file, at any depth;
    ``load_queries`` shows up as ``registry.load_queries``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.append((node.lineno, node.module))
            out += [
                (node.lineno, f"{node.module}.{a.name}") for a in node.names
            ]
        elif isinstance(node, ast.Attribute) and node.attr == "load_queries":
            out.append((node.lineno, f"{PKG}.registry.load_queries"))
    return out


def test_query_modules_match_the_package():
    on_disk = {
        f[:-3]
        for f in os.listdir(os.path.join(REPO, PKG))
        if f.startswith("queries") and f.endswith(".py")
    }
    assert on_disk == set(QUERY_MODULES)


@pytest.mark.parametrize("mod", QUERY_MODULES)
def test_submodule_imports_first(mod):
    """Static (no subprocess, no Spark): ``mod`` imports no query module
    at or after its own rank, no ``queries`` and no ``load_queries`` —
    so importing it first in a fresh interpreter cannot hit a cycle."""
    rank = QUERY_MODULES.index(mod)
    forbidden = {f"{PKG}.queries", f"{PKG}.registry.load_queries"}
    forbidden |= {f"{PKG}.{m}" for m in QUERY_MODULES[rank:]}
    bad = [
        (line, name)
        for line, name in _imports(os.path.join(REPO, PKG, f"{mod}.py"))
        if name in forbidden
    ]
    assert not bad, f"{mod} imports {bad}"


_ORDER_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
import series_tiempo_ar_scraping_spark.queries_batch52
import series_tiempo_ar_scraping_spark.queries_batch13
from series_tiempo_ar_scraping_spark.registry import ORACLES, load_queries
print(json.dumps([[n, ORACLES.get(n)] for n in load_queries()]))
"""


def test_catalog_order_ignores_first_import():
    """Importing batches out of order first (52, then 13) must give the
    same ordered (name, oracle) list: the gate names, then every other
    entry by its module's canonical rank."""
    proc = subprocess.run(
        [sys.executable, "-c", _ORDER_SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = [tuple(pair) for pair in json.loads(proc.stdout)]
    queries = load_queries()
    assert len(got) == 365
    assert got == [(n, ORACLES.get(n)) for n in queries]
    names = [n for n, _ in got]
    gate = len(_DRIVER_GATE_PRIORITY)
    assert names[:gate] == _DRIVER_GATE_PRIORITY
    ranks = [_RANK[queries[n].__module__] for n in names[gate:]]
    assert ranks == sorted(ranks)


def test_queries_md_is_current():
    """QUERIES.md is generated from the registry; compare without writing."""
    from tools.gen_queries_md import OUT, render

    with open(OUT) as f:
        committed = f.read()
    assert committed == render(), "stale: run python tools/gen_queries_md.py"
