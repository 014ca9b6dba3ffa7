"""The benchmark's correctness gate, run as a test.

``perfbench/run.py`` checks every output of its pass with
``checks.check_catalog``: each planted fault of the generated workload is
exactly one ERROR or WARNING report row (its ledger), every other
distribution and dataset is OK, and every wide CSV holds the generated
values. This runs one pass of ``main.run_etl`` over the
``etl_many_catalogs`` inputs of seed 1 and asks the same checks, so a
change that breaks the gate fails here and not only in the benchmark.
The perfbench modules are loaded by path, each under its own name for
the test's duration: ``checks`` imports ``gen`` by name, and ``gen``'s
dataclasses look their module up.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from series_tiempo_ar_scraping_spark.main import run_etl

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


def _load(name: str, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(PERFBENCH, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_many_catalogs_pass_meets_the_benchmark_gate(spark, tmp_path, monkeypatch):
    gen = _load("gen", monkeypatch)
    checks = _load("checks", monkeypatch)

    m = gen.generate("etl_many_catalogs", 1, str(tmp_path / "inputs"))
    out = str(tmp_path / "out")
    results = run_etl(m.index, out, spark=spark, file_resolver=m.resolve)
    assert m.ledger
    problems = {
        cid: checks.check_catalog(cid, results.get(cid), m, out)
        for cid in m.index
    }
    assert problems == {cid: [] for cid in m.index}
