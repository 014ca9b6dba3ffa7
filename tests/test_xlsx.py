"""S5/K3/K4 + S8-xlsx: stdlib OOXML reader/writer.

The fixture workbook ``tests/fixtures/catalog.xlsx`` is the 5-sheet
catalog ``sinks.metadata.write_xlsx_catalog`` writes for
``tests/fixtures/catalog.json`` (``test_catalog_xlsx_fixture_is_current``
says how to rebuild it). Parity with the pydatajson layout is checked
against the reference's own workbook (``REF_XLSX``, its
``tests/project/mock/test2.xlsx`` — read-only input) when that checkout
is present.
"""

from __future__ import annotations

import os

import pytest

from series_tiempo_ar_scraping_spark.sources.catalog_json import (
    catalog_frames,
    read_catalog_json,
)
from series_tiempo_ar_scraping_spark.sources.xlsx import (
    iter_cells,
    read_sheets,
    read_xlsx_catalog,
    write_xlsx,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
FIX_JSON = os.path.join(FIX, "catalog.json")
FIX_XLSX = os.path.join(FIX, "catalog.xlsx")
REF_XLSX = "/root/reference/tests/project/mock/test2.xlsx"


@pytest.mark.skipif(
    not os.path.exists(REF_XLSX), reason="reference checkout not present"
)
def test_reference_workbook_parity(spark):
    """The pydatajson layout: shared strings with accents, prefixed
    columns, and the normalized frames they read into."""
    sheets = read_sheets(REF_XLSX)
    assert set(sheets) == {"catalog", "dataset", "distribution", "field", "theme"}
    assert len(sheets["dataset"]) == 2
    assert len(sheets["distribution"]) == 3
    assert len(sheets["field"]) == 22
    cat = sheets["catalog"][0]
    assert cat["catalog_identifier"] == "example_catalog1"
    # shared strings with accents decode correctly
    assert "Macroecon" in cat["catalog_title"]
    frames = catalog_frames(spark, read_xlsx_catalog(REF_XLSX))
    assert frames["fields"].count() == 22
    ti = frames["fields"].filter("specialType = 'time_index'")
    assert ti.count() == 3  # one per distribution


def test_catalog_xlsx_fixture_is_current(spark, tmp_path):
    """The committed fixture is what K3 writes for the JSON fixture
    today; rebuild it with ``write_xlsx_catalog(read_catalog_json(spark,
    FIX_JSON), {"acme": FIX_XLSX})`` when the writer changes."""
    from series_tiempo_ar_scraping_spark.sinks.metadata import (
        write_xlsx_catalog,
    )

    out = str(tmp_path / "catalog.xlsx")
    write_xlsx_catalog(read_catalog_json(spark, FIX_JSON), {"acme": out})
    assert read_sheets(out) == read_sheets(FIX_XLSX)


def test_read_sheets_fixture():
    sheets = read_sheets(FIX_XLSX)
    assert list(sheets) == ["catalog", "dataset", "distribution", "field", "theme"]
    assert len(sheets["dataset"]) == 3
    assert len(sheets["distribution"]) == 4
    assert len(sheets["field"]) == 10
    cat = sheets["catalog"][0]
    assert cat["catalog_id"] == "acme"
    assert cat["title"] == "ACME statistics catalog"


def test_iter_cells_shape():
    cells = list(iter_cells(FIX_XLSX))
    # (sheet, row, col, value) with 1-based rows and letter columns
    sheets = {c[0] for c in cells}
    assert "field" in sheets
    assert all(isinstance(r, int) and r >= 1 for _, r, _, _ in cells)
    assert any(c == "A" for _, _, c, _ in cells)


def test_read_xlsx_catalog_normalized(spark):
    """K3's workbook reads back into exactly the frames the JSON reader
    made it from: same columns, same rows (lists split back to arrays)."""
    frames = catalog_frames(spark, read_xlsx_catalog(FIX_XLSX))
    want = read_catalog_json(spark, FIX_JSON)
    assert set(frames) == set(want)
    for name, df in frames.items():
        assert df.columns == want[name].columns, name
        assert sorted(map(str, df.collect())) == sorted(
            map(str, want[name].collect())
        ), name
    ti = frames["fields"].filter("specialType = 'time_index'")
    assert ti.count() == 4  # one per distribution
    row = frames["datasets"].filter("dataset_id = 'ds-energy'").first()
    assert row.theme == ["energia"]


def test_write_read_roundtrip(tmp_path):
    path = str(tmp_path / "out.xlsx")
    write_xlsx(
        path,
        {
            "report": (
                ["id", "name", "score"],
                [(1, "aé<b>&", 0.5), (2, None, 3)],
            ),
            "empty": (["x"], []),
        },
    )
    sheets = read_sheets(path)
    assert set(sheets) == {"report", "empty"}
    rows = sheets["report"]
    assert rows[0]["id"] == "1"
    assert rows[0]["name"] == "aé<b>&"  # XML escaping round-trips
    assert rows[0]["score"] == "0.5"
    assert "name" not in rows[1]  # nulls absent, not empty strings
    assert sheets["empty"] == []


def test_extract_cells_xlsx(spark):
    from series_tiempo_ar_scraping_spark.sources.cells import extract_cells

    cells = extract_cells(spark, [FIX_XLSX]).cache()
    first = cells.filter(
        "sheet = 'catalog' and row = 1 and col = 'A'"
    ).first()
    assert first.value == "catalog_id"
    assert first.file == "catalog.xlsx"
    assert cells.count() == len(list(iter_cells(FIX_XLSX)))
    by_path = extract_cells(spark, [FIX_XLSX], by_path=True)
    assert {r.file for r in by_path.select("file").distinct().collect()} == {
        FIX_XLSX
    }


def test_pipeline_runs_from_xlsx_catalog(spark, tmp_path):
    """EP2 over the xlsx catalog form: plan + validate, no data fetch."""
    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    pipe = CatalogPipeline(
        spark,
        catalog_path=FIX_XLSX,
        catalog_id="acme",
        output_dir=str(tmp_path),
        file_resolver=lambda ref: None,  # no data files in this fixture
    )
    frames = pipe.plan()
    assert frames["distributions"].count() == 4
    assert "method" in frames["distributions"].columns


def test_write_xlsx_catalog_roundtrip(spark, tmp_path):
    """K3: normalized frames → catalog.xlsx → S5 read-back."""
    from series_tiempo_ar_scraping_spark.sinks.metadata import (
        write_xlsx_catalog,
    )

    frames = catalog_frames(spark, read_xlsx_catalog(FIX_XLSX))
    out = str(tmp_path / "catalog.xlsx")
    write_xlsx_catalog(frames, {"acme": out})
    back = read_sheets(out)
    assert set(back) >= {"catalog", "dataset", "distribution", "field"}
    assert len(back["distribution"]) == 4
    assert len(back["field"]) == 10


def test_absolute_rel_targets_and_quoted_sheet_names(tmp_path):
    """OOXML corners: a relationship target given as an absolute part
    name must resolve (no 'xl/xl/' mangling), and a sheet name with a
    double quote must round-trip (quoteattr, not escape)."""
    import zipfile

    from series_tiempo_ar_scraping_spark.sources.xlsx import (
        iter_cells,
        write_xlsx,
    )

    p = str(tmp_path / "quoted.xlsx")
    write_xlsx(p, {'My "Q1" Data': (["col1"], [["hello"]])})
    cells = list(iter_cells(p))
    assert cells and all(c[0] == 'My "Q1" Data' for c in cells)
    assert any(c[3] == "hello" for c in cells)

    # rewrite the rels with an ABSOLUTE target (legal OOXML)
    src = zipfile.ZipFile(p)
    out = str(tmp_path / "abs_target.xlsx")
    with zipfile.ZipFile(out, "w") as zf:
        for item in src.infolist():
            data = src.read(item.filename)
            if item.filename == "xl/_rels/workbook.xml.rels":
                data = data.replace(
                    b'Target="worksheets/', b'Target="/xl/worksheets/'
                )
                assert b'Target="/xl/worksheets/' in data
            zf.writestr(item, data)
    src.close()
    assert list(iter_cells(out)) == cells
