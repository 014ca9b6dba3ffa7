"""S8 legacy path — stdlib BIFF8 ``.xls`` reader/writer.

The reference routes ``.xls`` and ``.xlsx`` alike into the scraper
(``base.py:134,144``); this suite proves the legacy format is a drop-in:
write/read roundtrips (SST + CONTINUE included) and a full pipeline run
whose observations and statuses match the equivalent non-BIFF workbook
(the ``wb1.jsonl`` fixture grid re-materialized as real BIFF8).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.sources.xls import (
    iter_cells_xls,
    write_xls,
    write_xls_cells,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _grid(path: str) -> dict:
    return {(s, r, c): v for s, r, c, v in iter_cells_xls(path)}


def test_write_read_roundtrip(tmp_path):
    path = str(tmp_path / "out.xls")
    write_xls(
        path,
        {
            "report": (
                ["id", "name", "score"],
                [(1, "aé<b>&", 0.5), (2, None, 3)],
            ),
            "empty": (["x"], []),
        },
    )
    g = _grid(path)
    assert g[("report", 1, "A")] == "id"
    assert g[("report", 2, "B")] == "aé<b>&"  # non-ASCII via SST
    assert g[("report", 2, "C")] == "0.5"
    assert g[("report", 3, "C")] == "3"  # float noise trimmed like xlsx
    assert ("report", 3, "B") not in g  # None absent
    assert g[("empty", 1, "A")] == "x"
    assert {k[0] for k in g} == {"report", "empty"}


def test_sst_continue_roundtrip(tmp_path):
    """An SST bigger than one record must split into CONTINUEs and read
    back intact (the historically buggy corner of every BIFF reader)."""
    path = str(tmp_path / "big.xls")
    values = [f"série-{i:05d}-" + "x" * 40 for i in range(400)]
    cells = [("hoja", i + 1, 1, v) for i, v in enumerate(values)]
    write_xls_cells(path, cells)
    g = _grid(path)
    assert len(g) == 400
    assert [g[("hoja", i + 1, "A")] for i in range(400)] == values


def test_rk_and_number_values(tmp_path):
    path = str(tmp_path / "nums.xls")
    write_xls_cells(
        path,
        [
            ("s", 1, 1, 812.5),
            ("s", 1, 2, 4500),
            ("s", 2, 1, -273.15),
            ("s", 2, 2, 1e12),
        ],
    )
    g = _grid(path)
    assert g[("s", 1, "A")] == "812.5"
    assert g[("s", 1, "B")] == "4500"
    assert g[("s", 2, "A")] == "-273.15"
    assert float(g[("s", 2, "B")]) == 1e12


@pytest.fixture(scope="module")
def xls_twin_run(spark, tmp_path_factory):
    """Full pipeline over a catalog whose scraped workbook is a real
    BIFF8 twin of the wb1.jsonl cell grid."""
    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    work = tmp_path_factory.mktemp("xls_twin")
    cells = []
    with open(os.path.join(FIX, "files", "wb1.jsonl")) as fh:
        for line in fh:
            rec = json.loads(line)
            val: object = rec["value"]
            try:
                val = float(val)
            except (TypeError, ValueError):
                pass
            col = 0
            for ch in rec["col"]:
                col = col * 26 + (ord(ch) - 64)
            cells.append((rec["sheet"], rec["row"], col, val))
    xls_path = str(work / "wb1.xls")
    write_xls_cells(xls_path, cells)

    with open(os.path.join(FIX, "catalog.json")) as fh:
        catalog = fh.read().replace("wb1.jsonl", "wb1.xls")
    cat_path = str(work / "catalog.json")
    with open(cat_path, "w") as fh:
        fh.write(catalog)

    def resolver(ref: str) -> str:
        name = ref.rsplit("/", 1)[-1]
        if name == "wb1.xls":
            return xls_path
        return os.path.join(FIX, "files", name)

    out = str(tmp_path_factory.mktemp("xls_out"))
    pipe = CatalogPipeline(
        spark,
        catalog_path=cat_path,
        catalog_id="acme",
        output_dir=out,
        file_resolver=resolver,
        host="http://acme.test",
    )
    return pipe.run()


def test_xls_scrape_matches_jsonl_twin(spark, xls_twin_run, tmp_path):
    """E2E parity: scraping the BIFF8 workbook yields the same
    observations (values, nulls, timestamps) as the jsonl cell grid."""
    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    def resolver(ref: str) -> str:
        return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])

    base = CatalogPipeline(
        spark,
        catalog_path=os.path.join(FIX, "catalog.json"),
        catalog_id="acme",
        output_dir=str(tmp_path),
        file_resolver=resolver,
        host="http://acme.test",
    ).run()

    cols = ["distribution_id", "series_id", "ts", "value"]
    got = {
        tuple(r)
        for r in xls_twin_run.observations.select(*cols).collect()
    }
    want = {tuple(r) for r in base.observations.select(*cols).collect()}
    assert got == want


def test_xls_statuses_match_twin(xls_twin_run):
    rep = {
        r.distribution_identifier: r.distribution_status
        for r in xls_twin_run.distribution_report
    }
    # Same statuses the jsonl-based run produces (test_pipeline.py):
    # 1.1 scraped OK but trim-warned, 1.2 OK, 1.3 header ERROR, 2.1 OK.
    assert rep["1.1"] == "WARNING"
    assert rep["1.2"] == "OK"
    assert rep["1.3"] == "ERROR"
    assert rep["2.1"] == "OK"
