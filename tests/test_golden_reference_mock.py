"""Golden e2e over the REFERENCE's own mock catalog.

``/root/reference/tests/project/mock/test1.json`` (2 datasets / 3
distributions: two scraped from one XLSX workbook, one direct-download
CSV — reference ``test1.json:227-294``) is the closest thing to a
fidelity fixture the reference ships. Its source files are remote URLs,
so ``tools/gen_reference_mock_fixtures.py`` synthesizes them FROM THE
DECLARED METADATA (header ids at each ``scrapingIdentifierCell``, data
at each ``scrapingDataStartCell``, a real .xlsx through the stdlib OOXML
writer) and derives the GOLDEN wide CSVs independently of the engine
from the ``base.py:266-279`` contract: ``indice_tiempo`` index label,
columns in field declaration order, one row per period.

This test runs the full pipeline over the reference metadata and fails
if ANY BYTE of the emitted distribution CSVs drifts from the committed
goldens, or if the rewritten data.json violates K7/K8.
"""

from __future__ import annotations

import json
import os

import pytest

from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

REF_CATALOG = "/root/reference/tests/project/mock/test1.json"
FIX = os.path.join(os.path.dirname(__file__), "fixtures", "reference_mock")
HOST = "http://sandbox.test"

FILE_NAMES = {
    "1.1": "oferta-demanda-globales-datos-desestacionalizados-valores-anuales-base-1993.csv",
    "1.2": "oferta-demanda-globales-datos-desestacionalizados-valores-trimestrales-base-1993.csv",
    "200.1": "odg-total-millones-pesos-1960-trimestral.csv",
}


def resolver(ref: str) -> str:
    return os.path.join(FIX, ref.rsplit("/", 1)[-1])


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    if not os.path.exists(REF_CATALOG):
        pytest.skip("reference checkout not available")
    out = str(tmp_path_factory.mktemp("ref_mock_out"))
    pipe = CatalogPipeline(
        spark,
        catalog_path=REF_CATALOG,
        catalog_id="example_catalog2",
        output_dir=out,
        file_resolver=resolver,
        host=HOST,
    )
    return pipe.run(), out


def _dist_csv_path(out: str, dataset_id: str, dist_id: str) -> str:
    return os.path.join(
        out, "catalog", "example_catalog2", "dataset", dataset_id,
        "distribution", dist_id, "download", FILE_NAMES[dist_id],
    )


@pytest.mark.parametrize(
    "dataset_id,dist_id",
    [("1", "1.1"), ("1", "1.2"), ("200", "200.1")],
)
def test_wide_csv_bytes_match_golden(result, dataset_id, dist_id):
    res, out = result
    got_path = _dist_csv_path(out, dataset_id, dist_id)
    assert got_path in res.written_files, res.written_files
    got = open(got_path, "rb").read()
    want = open(os.path.join(FIX, "golden", FILE_NAMES[dist_id]), "rb").read()
    assert got == want, (
        f"{dist_id} CSV contract drifted:\n"
        f"--- got ---\n{got.decode()[:800]}\n"
        f"--- want ---\n{want.decode()[:800]}"
    )


def test_all_distributions_ok(result):
    res, _ = result
    statuses = {
        r.distribution_identifier: r.distribution_status
        for r in res.distribution_report
    }
    assert statuses == {"1.1": "OK", "1.2": "OK", "200.1": "OK"}
    ds = {r.dataset_identifier: r.dataset_status for r in res.dataset_report}
    assert ds == {"1": "OK", "200": "OK"}


def test_no_metadata_errors(result):
    res, _ = result
    assert res.metadata_errors == []


def test_data_json_k7_k8(result):
    res, out = result
    path = os.path.join(out, "catalog", "example_catalog2", "data.json")
    assert path in res.written_files and os.path.exists(path)
    doc = json.load(open(path))
    assert doc["identifier"] == "example_catalog2"
    assert doc["title"] == "Datos Programación Macroeconómica"
    dists = {
        d["distribution_id"] if "distribution_id" in d else d["identifier"]: d
        for ds in doc["dataset"]
        for d in ds["distribution"]
    }
    assert set(dists) == {"1.1", "1.2", "200.1"}
    for rid, d in dists.items():
        # K7: downloadURL points at the published file under the host
        assert d["downloadURL"].startswith(HOST + "/"), (rid, d["downloadURL"])
        assert d["downloadURL"].endswith(FILE_NAMES[rid])
        # K8: scraping-only keys scrubbed
        assert "scrapingFileURL" not in d and "scrapingFileSheet" not in d
        for f in d.get("field", []):
            assert "scrapingIdentifierCell" not in f
            assert "scrapingDataStartCell" not in f
    # field identity and declaration order survive the round trip
    ids_11 = [f["id"] for f in dists["1.1"]["field"]]
    src = json.load(open(REF_CATALOG))
    want_11 = [
        f["id"]
        for ds in src["dataset"]
        for d in ds["distribution"]
        if d["identifier"] == "1.1"
        for f in d["field"]
    ]
    assert ids_11 == want_11


def test_catalog_xlsx_written_and_readable(result):
    res, out = result
    path = os.path.join(out, "catalog", "example_catalog2", "catalog.xlsx")
    assert path in res.written_files
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    sheets = read_sheets(path)
    assert {"catalog", "dataset", "distribution", "field"} <= set(sheets)
    assert len(sheets["distribution"]) == 3
