"""End-to-end catalog pipeline tests over the original fixture catalog
(SURVEY §5 engine test plan: e2e run with golden expectations).

Fixture scenarios (tests/fixtures/):
- 2.1  direct-download CSV, quarterly, one missing token → S6 + X8 + V4
- 1.1  scraped annual sheet, one missing token, one trailing data row with
       no date → S8 + V6 trim warning
- 1.2  scraped quarterly sheet sharing the same workbook (open-once), one
       unparseable date → composed-time synthesis
- 1.3  scraped sheet whose header cell ≠ declared field id → V5 ERROR
- ds-broken  invalid accrualPeriodicity → V1 error + F1 harvest filter
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def resolver(ref: str) -> str:
    return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("etl_out"))
    pipe = CatalogPipeline(
        spark,
        catalog_path=os.path.join(FIX, "catalog.json"),
        catalog_id="acme",
        output_dir=out,
        file_resolver=resolver,
        host="http://acme.test",
    )
    return pipe.run(), out


def test_metadata_normalization(result):
    res, _ = result
    assert res.frames["catalogs"].count() == 1
    assert {r.dataset_id for r in res.frames["datasets"].select("dataset_id").collect()} == {
        "ds-energy", "ds-prices",  # ds-broken filtered by F1
    }
    assert res.frames["distributions"].count() == 4
    assert res.frames["themes"].count() == 2


def test_metadata_validation_flags_broken_dataset(result):
    res, _ = result
    errs = res.metadata_errors
    assert any(
        e.dataset_id == "ds-broken" and e.rule == "dataset_accrualPeriodicity_format"
        for e in errs
    )
    ds_rep = {r.dataset_identifier: r.dataset_status for r in res.dataset_report}
    # the broken dataset must APPEAR as an ERROR row (reference
    # base.py:443-451 reports invalid datasets; it does not drop them)
    assert ds_rep == {
        "ds-energy": "OK", "ds-prices": "OK", "ds-broken": "ERROR",
    }


def test_observations_long_form(result):
    res, _ = result
    obs = res.observations
    # 2.1: 5 ts × 2 series; 1.1: 5 ts × 2 series (+ no row for B14 — no date);
    # 1.2: 6 ts × 1 series; 1.3: header invalid but still scraped rows excluded
    counts = {
        r.distribution_id: r.n
        for r in obs.groupBy("distribution_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts["2.1"] == 10
    assert counts["1.1"] == 10
    assert counts["1.2"] == 6
    # missing tokens became NULL, other values parsed
    row = obs.filter(
        (F.col("distribution_id") == "2.1")
        & (F.col("series_id") == "precio_interno")
        & (F.col("ts") == F.lit("2020-07-01").cast("date"))
    ).collect()[0]
    assert row.value is None
    sd = obs.filter(
        (F.col("distribution_id") == "1.1")
        & (F.col("series_id") == "prod_renovable")
        & (F.col("ts") == F.lit("2020-01-01").cast("date"))
    ).collect()[0]
    assert sd.value is None


def test_composed_time_synthesis(result):
    res, _ = result
    # 1.2 row 6 had "T4 2021" — synthesized to 2021-10-01 from the anchor
    got = sorted(
        str(r.ts)
        for r in res.observations.filter(F.col("distribution_id") == "1.2").collect()
    )
    assert "2021-10-01" in got
    assert got[0] == "2021-01-01" and got[-1] == "2022-04-01"


def test_statuses(result):
    res, _ = result
    statuses = {
        r.distribution_identifier: r.distribution_status
        for r in res.distribution_report
    }
    assert statuses["2.1"] == "OK"
    assert statuses["1.1"] == "WARNING"  # V6 trim
    assert statuses["1.3"] == "ERROR"  # V5 header mismatch
    assert statuses["1.2"] == "OK"
    # O1: worst status first, then by distribution id
    assert [r.distribution_identifier for r in res.distribution_report] == [
        "1.3", "1.1", "1.2", "2.1",
    ]


def test_indicators(result):
    res, _ = result
    ind = res.indicators[0]
    # 3 datasets total: 2 OK + the metadata-broken one counted as error
    assert ind.datasets == 3 and ind.datasets_ok == 2
    assert ind.datasets_error == 1
    assert ind.distributions == 4
    assert ind.distributions_ok == 2
    assert ind.distributions_error == 1


def test_wide_csv_contract(result):
    res, out = result
    path = os.path.join(
        out, "catalog", "acme", "dataset", "ds-prices", "distribution", "2.1",
        "download", "precios-trimestrales.csv",
    )
    assert path in res.written_files and os.path.exists(path)
    with open(path) as fh:
        header = fh.readline().strip().split(",")
        first = fh.readline().strip().split(",")
    assert header[0] == "indice_tiempo"
    assert set(header[1:]) == {"precio_interno", "precio_externo"}
    assert first[0] == "2020-01-01"


def test_published_metadata_rewrite_and_scrub(result):
    res, out = result
    pub = res.frames["distributions_published"]
    assert "scrapingFileURL" not in pub.columns  # K8
    url = pub.filter(F.col("distribution_id") == "2.1").collect()[0].downloadURL
    assert url.startswith("http://acme.test/") and url.endswith(
        "precios-trimestrales.csv"
    )  # K7
    assert "scrapingIdentifierCell" not in res.frames["fields_published"].columns


def test_corrupt_data_file_is_error_row_not_crash(spark, tmp_path):
    """V7: a garbage payload behind a distribution's downloadURL costs one
    ERROR report row; the rest of the catalog still processes."""
    garbage = tmp_path / "precios_q.csv"
    garbage.write_bytes(b"\x00\x01\x02 not,a/csv\nPK\x03\x04")

    def bad_resolver(ref: str) -> str:
        name = ref.rsplit("/", 1)[-1]
        if name == "precios_q.csv":  # the 2.1 direct-csv source
            return str(garbage)
        return resolver(ref)

    pipe = CatalogPipeline(
        spark,
        catalog_path=os.path.join(FIX, "catalog.json"),
        catalog_id="acme",
        output_dir=str(tmp_path / "out"),
        file_resolver=bad_resolver,
        host="http://acme.test",
    )
    res = pipe.run()
    statuses = {
        r.distribution_identifier: r.distribution_status
        for r in res.distribution_report
    }
    assert statuses["2.1"] == "ERROR"
    # scraped distributions still process
    assert statuses["1.1"] in ("OK", "WARNING")


def test_extract_cells_and_datasource_share_one_parser(spark, tmp_path):
    """The pipeline's extraction and the ``workbook_cells`` DataSource
    give the same cells for every format: JSONL null or empty values and
    malformed lines are absent cells. A file that cannot be parsed
    yields no cells in the pipeline and raises in the DataSource."""
    import json

    from series_tiempo_ar_scraping_spark.sources.cells import extract_cells
    from series_tiempo_ar_scraping_spark.sources.datasource import (
        register_workbook_cells,
    )
    from series_tiempo_ar_scraping_spark.sources.xls import write_xls_cells

    jsonl = os.path.join(FIX, "files", "wb1.jsonl")
    xls = str(tmp_path / "wb1.xls")
    grid = []
    with open(jsonl) as fh:
        for line in fh:
            rec = json.loads(line)
            col = sum(
                (ord(ch) - 64) * 26**i for i, ch in enumerate(rec["col"][::-1])
            )
            grid.append((rec["sheet"], rec["row"], col, rec["value"]))
    write_xls_cells(xls, grid)
    gappy = tmp_path / "gappy.jsonl"
    gappy.write_text(
        '{"sheet": "s", "row": 1, "col": "A", "value": "Periodo"}\n'
        '{"sheet": "s", "row": 2, "col": "A", "value": null}\n'
        '{"sheet": "s", "row": 3, "col": "A", "value": ""}\n'
        '{"sheet": "s", "row": 4, "col": "A", "value": 7}\n'
        '{"sheet": "s", "row": 5, "col"\n'
        "\n"
    )
    register_workbook_cells(spark)
    paths = [
        jsonl,
        os.path.join(FIX, "reference_mock", "actividad_ied.xlsx"),
        xls,
        str(gappy),
    ]
    for p in paths:
        via_ds = {
            tuple(r) for r in spark.read.format("workbook_cells").load(p).collect()
        }
        via_mip = {tuple(r) for r in extract_cells(spark, [p]).collect()}
        assert via_ds and via_ds == via_mip, p
    assert via_mip == {
        ("gappy.jsonl", "s", 1, "A", "Periodo"),
        ("gappy.jsonl", "s", 4, "A", "7"),
    }

    missing = str(tmp_path / "missing.xlsx")
    assert extract_cells(spark, [missing, str(gappy)]).count() == 2
    with pytest.raises(Exception):
        spark.read.format("workbook_cells").load(missing).collect()


def test_bulk_csv_writer_v8_skip_and_header_order(spark, tmp_path):
    """K1 bulk sink: one write for every distribution, declared
    column order in headers, and V8 skip-if-exists honored per file."""
    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        write_wide_csvs_bulk,
    )

    obs = spark.createDataFrame(
        [
            ("c", "d", "r1", "serie_b", "2024-01-01", 1.5),
            ("c", "d", "r1", "serie_a", "2024-01-01", 2.5),
            ("c", "d", "r1", "serie_a", "2024-01-02", 3.5),
            ("c", "d", "r2", "solo", "2024-02-01", 9.0),
        ],
        "catalog_id string, dataset_id string, distribution_id string,"
        " series_title string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("date"))
    fields = spark.createDataFrame(
        [
            ("r1", 0, "serie_b", None),
            ("r1", 1, "serie_a", None),
            ("r1", 2, "tiempo", "time_index"),
            ("r2", 0, "solo", None),
        ],
        "distribution_id string, field_order int, title string,"
        " specialType string",
    )
    names = {("c", "d", "r1"): "uno.csv", ("c", "d", "r2"): "dos.csv"}
    out = str(tmp_path / "out")
    written = write_wide_csvs_bulk(obs, fields, out, names, replace=True)
    assert len(written) == 2
    p1 = [p for p in written if p.endswith("uno.csv")][0]
    lines = open(p1).read().splitlines()
    # declared field order (serie_b before serie_a), not alphabetical
    assert lines[0] == "indice_tiempo,serie_b,serie_a"
    assert lines[1] == "2024-01-01,1.5,2.5"
    assert lines[2] == "2024-01-02,,3.5"  # missing serie_b -> empty cell

    # V8: replace=False leaves existing files untouched
    with open(p1, "a") as fh:
        fh.write("SENTINEL\n")
    again = write_wide_csvs_bulk(obs, fields, out, names, replace=False)
    assert again == []  # nothing rewritten
    assert open(p1).read().splitlines()[-1] == "SENTINEL"


def test_bulk_csv_writer_quotes_header_titles(spark, tmp_path):
    """K1: V1 accepts any non-empty field title, so a title holding a
    comma, quote or line break is quoted in the header as pandas
    ``to_csv`` writes it; under ``csv.reader`` every line then has as
    many fields as the header."""
    import csv

    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        write_wide_csvs_bulk,
    )

    titles = ["serie, total", 'dicho "x"', "a\nb", "x"]
    obs = spark.createDataFrame(
        [
            ("c", "d", "r1", t, "2024-01-01", float(i))
            for i, t in enumerate(titles)
        ],
        "catalog_id string, dataset_id string, distribution_id string,"
        " series_title string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("date"))
    fields = spark.createDataFrame(
        [("r1", i, t, None) for i, t in enumerate(titles)],
        "distribution_id string, field_order int, title string,"
        " specialType string",
    )
    (path,) = write_wide_csvs_bulk(
        obs, fields, str(tmp_path / "out"), {("c", "d", "r1"): "q.csv"}
    )
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["indice_tiempo", *titles]
    assert rows[1] == ["2024-01-01", "0.0", "1.0", "2.0", "3.0"]
    assert all(len(r) == len(rows[0]) for r in rows)


def test_bulk_csv_writer_multi_catalog_same_distribution_id(spark, tmp_path):
    """Distribution ids are catalog-scoped ('1.1' can exist in two
    catalogs): targets and the V8 skip set must key on the full
    (catalog, dataset, distribution) triple or one catalog's CSV
    silently overwrites the other's."""
    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        write_wide_csvs_bulk,
    )

    obs = spark.createDataFrame(
        [
            ("catA", "d", "1.1", "sa", "2024-01-01", 1.0),
            ("catB", "d", "1.1", "sb", "2024-01-01", 2.0),
        ],
        "catalog_id string, dataset_id string, distribution_id string,"
        " series_title string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("date"))
    fields = spark.createDataFrame(
        [("1.1", 0, "sa", None), ("1.1", 1, "sb", None)],
        "distribution_id string, field_order int, title string,"
        " specialType string",
    )
    names = {("catA", "d", "1.1"): "a.csv", ("catB", "d", "1.1"): "b.csv"}
    out = str(tmp_path / "out")
    written = write_wide_csvs_bulk(obs, fields, out, names, replace=True)
    assert len(written) == 2
    a = [p for p in written if "catA" in p][0]
    b = [p for p in written if "catB" in p][0]
    assert a.endswith("a.csv") and b.endswith("b.csv")
    assert "1.0" in open(a).read() and "2.0" in open(b).read()

    # V8 per-triple: only catA's file exists -> only catB rewrites
    import os

    os.remove(b)
    again = write_wide_csvs_bulk(obs, fields, out, names, replace=False)
    assert [p for p in again if "catB" in p] and not [
        p for p in again if "catA" in p
    ]


def test_blank_value_cell_is_missing_not_table_end(spark):
    """A genuinely blank observation cell mid-series must NOT truncate
    the series (it is a missing value); the table is bounded by the TIME
    column's extent plus its contiguous continuation, so a second table
    stacked further down the same column still stays out and the V6
    trailing-data row still counts."""
    from series_tiempo_ar_scraping_spark.sources.scrape import (
        scrape_observations,
    )

    # time col A rows 1-5 (annual); value col B with row 3 BLANK (absent),
    # a trailing no-date data row at 6 (V6), and a stacked table at 10-12
    cells = spark.createDataFrame(
        [("f", "s", "A", r, f"{2019 + r}") for r in range(1, 6)]
        + [("f", "s", "B", r, str(float(r))) for r in (1, 2, 4, 5)]
        + [("f", "s", "B", 6, "6.0")]          # past last date: V6 trim
        + [("f", "s", "B", r, "99.0") for r in (10, 11, 12)],  # 2nd table
        "file string, sheet string, col string, row long, value string",
    )
    series_params = spark.createDataFrame(
        [("f", "s", "B", 1, "c", "d", "r1", "fld", "Serie")],
        "file string, sheet string, data_col string, data_start_row long,"
        " catalog_id string, dataset_id string, distribution_id string,"
        " field_id string, series_title string",
    )
    time_params = spark.createDataFrame(
        [("f", "s", "A", 1, "c", "d", "r1", "Y")],
        "file string, sheet string, time_col string, time_start_row long,"
        " catalog_id string, dataset_id string, distribution_id string,"
        " freq_code string",
    )
    obs, ends = scrape_observations(cells, series_params, time_params)
    got = {(r.ts.year, r.value) for r in obs.collect()}
    # rows 1,2,4,5 observed; 2021 (row 3) simply missing; no 99s leak
    assert got == {(2020, 1.0), (2021, 2.0), (2023, 4.0), (2024, 5.0)}
    e = ends.collect()[0]
    assert e.table_end == 6   # the trailing data row counts (V6)
    assert e.end == 5         # last dated row


def test_scrape_observations_v6_signal_from_one_join(spark):
    """The observations and the V6 trim signal come from one join of the
    value cells and the time cells; pinned values of the two-join form.
    The sheet holds a trimmed table (data rows 8-9 past the last time
    row), a second table stacked at rows 12-14, a time row (6) whose
    values are all blank, and two unparseable date cells (rows 4 and 7,
    synthesized). Row 6 is the last dated row: only the time side has
    it, so a join that keeps only rows with a value cell reads end 5."""
    from series_tiempo_ar_scraping_spark.sources.scrape import (
        scrape_observations,
    )

    times = ["2020", "2021", "2022", "s/d", "2024", "2025", "nope"]
    cells = spark.createDataFrame(
        [("f", "s", "A", r, v) for r, v in enumerate(times, 1)]
        + [("f", "s", "A", r, f"{2018 + r}") for r in (12, 13, 14)]
        + [("f", "s", "B", r, f"{r}.5") for r in (1, 2, 3, 4, 5, 7, 8, 9)]
        + [("f", "s", "B", r, "99") for r in (12, 13, 14)]
        + [("f", "s", "C", r, f"-{r}") for r in (1, 2, 3, 4, 5)],
        "file string, sheet string, col string, row long, value string",
    )
    series_params = spark.createDataFrame(
        [
            ("f", "s", col, 1, "c", "d", "r1", fid, fid.upper())
            for col, fid in (("B", "b"), ("C", "c"))
        ],
        "file string, sheet string, data_col string, data_start_row long,"
        " catalog_id string, dataset_id string, distribution_id string,"
        " field_id string, series_title string",
    )
    time_params = spark.createDataFrame(
        [("f", "s", "A", 1, "c", "d", "r1", "Y")],
        "file string, sheet string, time_col string, time_start_row long,"
        " catalog_id string, dataset_id string, distribution_id string,"
        " freq_code string",
    )
    obs, ends = scrape_observations(cells, series_params, time_params)
    assert obs.schema.simpleString() == (
        "struct<catalog_id:string,dataset_id:string,distribution_id:string,"
        "series_id:string,series_title:string,ts:date,value:double>"
    )
    got = sorted((r.series_id, r.ts.isoformat(), r.value) for r in obs.collect())
    assert got == [
        ("b", "2020-01-01", 1.5), ("b", "2021-01-01", 2.5),
        ("b", "2022-01-01", 3.5), ("b", "2023-01-01", 4.5),
        ("b", "2024-01-01", 5.5), ("b", "2026-01-01", 7.5),
        ("c", "2020-01-01", -1.0), ("c", "2021-01-01", -2.0),
        ("c", "2022-01-01", -3.0), ("c", "2023-01-01", -4.0),
        ("c", "2024-01-01", -5.0),
    ]
    assert ends.schema.simpleString() == (
        "struct<catalog_id:string,dataset_id:string,distribution_id:string,"
        "table_end:bigint,end:bigint>"
    )
    assert [tuple(r) for r in ends.collect()] == [("c", "d", "r1", 9, 6)]


def test_same_titled_series_across_distributions_not_cross_flagged(spark):
    """series_id is the column TITLE on the CSV routes — two
    distributions both having a 'total' column with overlapping dates
    must validate independently (partitioning only by series_id would
    interleave them and flag false duplicates on valid data)."""
    from series_tiempo_ar_scraping_spark.functions.calendar import (
        with_series_checks,
    )

    rows = []
    for rid in ("r1", "r2"):
        for d in ("2024-01-01", "2024-02-01", "2024-03-01"):
            rows.append(("c", "d", rid, "total", d, 1.0, "M"))
    obs = spark.createDataFrame(
        rows,
        "catalog_id string, dataset_id string, distribution_id string,"
        " series_id string, ts string, value double, freq_code string",
    ).withColumn("ts", F.col("ts").cast("date"))
    checked = with_series_checks(obs)
    flags = checked.select(
        F.max(F.col("is_duplicate_ts").cast("int")).alias("dup"),
        F.max(F.col("has_gap").cast("int")).alias("gap"),
        F.max(F.col("is_out_of_order").cast("int")).alias("ooo"),
    ).collect()[0]
    assert (flags.dup, flags.gap, flags.ooo) == (0, 0, 0)
