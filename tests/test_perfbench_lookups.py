"""The traced benchmark's lookups resolve in the package.

``perfbench/run.py --trace 1`` wraps the layers its ``SPANS`` table
names, where their callers look them up, and ``_isolated`` drives three
operators through imports of its own. Neither runs in this suite, so a
refactor that moves or renames one of those functions would only break
the benchmark. This reads both from ``perfbench/run.py`` (loaded by path)
and resolves every name; no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import os

import pytest

RUN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "run.py")


def _load_run():
    spec = importlib.util.spec_from_file_location("perfbench_run", RUN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


RUN_MODULE = _load_run()


@pytest.mark.parametrize(
    "module, attr", [(m, a) for m, a, _n, _s in RUN_MODULE.SPANS]
)
def test_span_target_resolves(module, attr):
    owner = importlib.import_module(f"series_tiempo_ar_scraping_spark.{module}")
    for part in attr.split("."):
        owner = getattr(owner, part)
    assert callable(owner)


def _isolated_imports() -> list[tuple[str, str]]:
    tree = ast.parse(inspect.getsource(RUN_MODULE._isolated))
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
    ]


def test_isolated_imports_resolve():
    names = _isolated_imports()
    assert ("series_tiempo_ar_scraping_spark.plans.pipeline", "CatalogPipeline") in names
    for module, name in names:
        assert hasattr(importlib.import_module(module), name), (module, name)
