"""Tests of the benchmark itself. None of them boots Spark.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
from checks import check_catalog  # noqa: E402
from spans import _union_s  # noqa: E402

from series_tiempo_ar_scraping_spark.sinks.csv_wide import (  # noqa: E402
    distribution_dir,
)
from series_tiempo_ar_scraping_spark.sources.xlsx import write_xlsx  # noqa: E402

WORKLOADS = sorted(gen.SHAPES)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a.ledger == b.ledger and a.csvs == b.csvs
    gen.generate(workload, 8, str(tmp_path / "c"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_ledger_covers_every_planted_fault(tmp_path, workload):
    m = gen.generate(workload, 3, str(tmp_path))
    assert sorted(e["fault"] for e in m.ledger) == sorted(gen.SHAPES[workload].faults)
    # every non-OK status the reports must show is one ledger entry
    non_ok = sorted(
        (cid, report, key, status)
        for report, table in (
            ("dataset", m.dataset_status),
            ("distribution", m.distribution_status),
        )
        for cid, statuses in table.items()
        for key, status in statuses.items()
        if status != "OK"
    )
    assert non_ok == sorted(
        (e["catalog"], e["report"], e["distribution"] or e["dataset"], e["status"])
        for e in m.ledger
    )
    for e in m.ledger:
        assert (e["report"], e["status"]) == gen.FAULT_EFFECT[e["fault"]]
        urls = [
            u for u in m.urls
            if u.startswith(f"{gen.URL_ROOT}/{e['catalog']}/{e['distribution']}.")
        ]
        if e["fault"] == gen.MISSING_FILE:
            assert not os.path.exists(m.urls[urls[0]])
        elif e["fault"] == gen.CORRUPT_FILE:
            with open(m.urls[urls[0]]) as fh:
                assert not fh.readline().startswith("indice_tiempo")
    # faulted files write no wide CSV; all others do
    lost = {
        (e["catalog"], e["dataset"], e["distribution"]) for e in m.ledger
        if e["fault"] in (gen.MISSING_FILE, gen.CORRUPT_FILE)
    }
    n_dists = sum(len(s) for s in m.distribution_status.values())
    assert len(m.csvs) == n_dists - len(lost) and not lost & set(m.csvs)


def _fake_outputs(m: gen.Manifest, out: str) -> None:
    """The outputs a correct ETL pass writes, built from the manifest."""
    for cid in m.index:
        rep = os.path.join(out, "reports", cid)
        write_xlsx(os.path.join(rep, "reporte-distributions.xlsx"), {
            "reporte-distributions": (
                ["distribution_identifier", "distribution_status"],
                sorted(m.distribution_status[cid].items()),
            )
        })
        write_xlsx(os.path.join(rep, "reporte-datasets.xlsx"), {
            "reporte-datasets": (
                ["dataset_identifier", "dataset_status"],
                sorted(m.dataset_status[cid].items()),
            )
        })
        write_xlsx(os.path.join(rep, "reporte-errores-metadata.xlsx"), {
            "reporte-errores-metadata": (["dataset_id", "rule"], [
                (e["dataset"], "dataset_accrualPeriodicity_format")
                for e in m.ledger
                if e["catalog"] == cid and e["fault"] == gen.SCHEMA_INVALID
            ])
        })
    for (cid, did, rid), want in m.csvs.items():
        d = distribution_dir(out, cid, did, rid)
        os.makedirs(d, exist_ok=True)
        lines = [",".join(["indice_tiempo", *want["titles"]])] + [
            ",".join([date, *("" if v is None else repr(v) for v in vals)])
            for date, vals in want["rows"]
        ]
        with open(os.path.join(d, want["fileName"]), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def test_checks_accept_right_outputs_and_catch_a_wrong_value(tmp_path):
    m = gen.generate("etl_many_catalogs", 5, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    _fake_outputs(m, out)
    for cid in m.index:
        assert check_catalog(cid, {"written": 1}, m, out) == []
    assert check_catalog("cat00", {"error": "boom"}, m, out)

    (cid, did, rid), want = next(
        (k, w) for k, w in m.csvs.items() if w["rows"][0][1][0] is not None
    )
    path = os.path.join(distribution_dir(out, cid, did, rid), want["fileName"])
    with open(path) as fh:
        lines = fh.read().splitlines()
    date, first, *rest = lines[1].split(",")
    lines[1] = ",".join([date, repr(float(first) + 0.01), *rest])
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    assert any("values differ" in p for p in check_catalog(cid, {}, m, out))
    with open(path, "w") as fh:  # a truncated file, right values
        fh.write("\n".join(lines[:1] + lines[2:]) + "\n")
    assert any("values differ" in p for p in check_catalog(cid, {}, m, out))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(gen.SHAPES)
    assert {e["name"]: e["unit"] for e in spec["end_to_end"]} == run.END_TO_END
    assert {e["name"]: e["unit"] for e in spec["per_layer"]} == run.per_layer_units()


def test_union_of_job_intervals():
    assert _union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert _union_s([]) == 0.0
