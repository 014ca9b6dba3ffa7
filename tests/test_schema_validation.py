"""V1 schema-driven validation: every constraint declared in
``config/schemas/*.json`` must compile to a rule, each rule must
actually fire on a violating row (negative fixtures), and the Python
patterns must keep the verdicts of the Spark ``rlike`` rules they
replace (Java regex semantics)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import CELL_COORD_REGEX
from series_tiempo_ar_scraping_spark.operators.schema_rules import (
    FORMAT_REGEX,
    INTEGER_REGEX,
    entity_rules,
    java_search,
    load_schema,
    schema_constraint_inventory,
    validate_metadata,
)
from series_tiempo_ar_scraping_spark.operators.validation import (
    validate_observations,
)
from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import local_frame
from series_tiempo_ar_scraping_spark.sinks.reports import MetadataError
from series_tiempo_ar_scraping_spark.sources.catalog_json import SCHEMAS

ENTITY_COLUMNS = {
    e: SCHEMAS[f"{e}s"].names
    for e in ("catalog", "dataset", "distribution", "field")
}


@pytest.mark.parametrize(
    "entity", ["catalog", "dataset", "distribution", "field"]
)
def test_every_schema_constraint_has_a_rule(entity):
    """Walk the schema document: each required/format/pattern constraint
    on a materialized column must map to a compiled rule."""
    rules = entity_rules(f"{entity}s")
    inventory = schema_constraint_inventory(entity)
    assert inventory, f"{entity} schema declares no constraints?"
    for col, kinds in inventory.items():
        if col not in ENTITY_COLUMNS[entity]:
            continue  # property the engine doesn't materialize
        for kind in kinds:
            assert f"{entity}_{col}_{kind}" in rules, (
                f"schema constraint {entity}.{col} [{kind}] has no rule"
            )


def test_rule_names_stable():
    """Report consumers depend on these names (test_pipeline asserts
    dataset_accrualPeriodicity_format on the broken fixture)."""
    assert "dataset_accrualPeriodicity_format" in entity_rules("datasets")
    assert "dataset_accrualPeriodicity_required" in entity_rules("datasets")
    assert "catalog_publisher_mbox_format" in entity_rules("catalogs")
    assert "distribution_has_source_url" in entity_rules("distributions")


def test_compiled_rule_names_in_order():
    """Rules compile over ``catalog_json.SCHEMAS``' columns: a schema
    property without a column (distribution ``modified``) yields no rule,
    and the ids, ``source`` and the scraping keys get none."""
    def names(prefix, cols):
        return [f"{prefix}_{c}" for c in cols.split()]

    assert list(entity_rules("catalogs")) == names("catalog", (
        "title_required title_format description_required "
        "description_format publisher_name_required publisher_name_format "
        "publisher_mbox_required publisher_mbox_format "
        "superThemeTaxonomy_required superThemeTaxonomy_format "
        "issued_format modified_format license_format homepage_format "
        "rights_format"
    ))
    assert list(entity_rules("datasets")) == names("dataset", (
        "title_required title_format description_required "
        "description_format publisher_name_required publisher_name_format "
        "publisher_mbox_format accrualPeriodicity_required "
        "accrualPeriodicity_format issued_required issued_format "
        "modified_format temporal_format landingPage_format "
        "superTheme_required"
    ))
    assert list(entity_rules("distributions")) == names("distribution", (
        "title_required title_format issued_required issued_format "
        "downloadURL_format accessURL_format byteSize_format has_source_url"
    ))
    assert list(entity_rules("fields")) == names("field", (
        "title_required title_format type_enum time_index_frequency "
        "identifier_cell_coord data_start_cell_coord"
    ))


# the id column ``rid`` stands for: the one each frame's errors end with
_RID = {
    "catalogs": "catalog_id",
    "datasets": "dataset_id",
    "distributions": "distribution_id",
    "fields": "distribution_id",
}


def _rows(frame: str, cols: str, values: list[tuple]) -> list[dict]:
    """Rows of ``frame`` holding ``values`` under ``cols``; every other
    column is null."""
    names = [_RID[frame] if c == "rid" else c for c in cols.split(", ")]
    return [
        {**dict.fromkeys(SCHEMAS[frame].names), **dict(zip(names, v))}
        for v in values
    ]


def _errors(frame: str, cols: str, values: list[tuple]) -> set[tuple[str, str]]:
    """(rid, rule) of every V1 error over the rows."""
    return {
        (getattr(e, _RID[frame]), e.rule)
        for e in validate_metadata({frame: _rows(frame, cols, values)})
    }


def _fired(frame: str, cols: str, values: list[tuple]) -> set[str]:
    return {rule for _rid, rule in _errors(frame, cols, values)}


def test_errors_in_entity_row_and_rule_order():
    """One error per (row, violated rule): catalogs, datasets,
    distributions, fields; within one, row order, then rule order. The
    error names the ids its entity carries."""
    catalog = _rows("catalogs", "title", [(None,)])
    for r in catalog:
        r.update(catalog_id="c", publisher_name="p", publisher_mbox="a@b.cl",
                 description="d", superThemeTaxonomy="http://x")
    datasets = _rows("datasets", "title, issued", [("", "x"), ("t", None)])
    for i, r in enumerate(datasets):
        r.update(catalog_id="c", dataset_id=f"ds{i}", description="d",
                 publisher_name="p", accrualPeriodicity="R/P1Y",
                 superTheme=["ECON"])
    fields = _rows("fields", "rid, type, scrapingDataStartCell",
                   [("d1", "float", "9Z")])
    for r in fields:
        r.update(catalog_id="c", dataset_id="ds0", title="t")
    errors = validate_metadata(
        {"fields": fields, "datasets": datasets, "catalogs": catalog}
    )
    assert errors == [
        MetadataError("catalog", "c", None, None, "catalog_title_required"),
        MetadataError("dataset", "c", "ds0", None, "dataset_title_format"),
        MetadataError("dataset", "c", "ds0", None, "dataset_issued_format"),
        MetadataError("dataset", "c", "ds1", None, "dataset_issued_required"),
        MetadataError("field", "c", "ds0", "d1", "field_type_enum"),
        MetadataError("field", "c", "ds0", "d1", "field_data_start_cell_coord"),
    ]


CATALOG_COLS = (
    "rid, title, description, publisher_name, publisher_mbox,"
    " superThemeTaxonomy, issued, modified, license, homepage, rights"
)


def test_catalog_negative_fixtures():
    fired = _fired("catalogs", CATALOG_COLS, [
        ("x", "", "d", None, "not-an-email", "ftp:/bad", "13-01-2020",
         None, "", "nota url", None),
    ])
    assert "catalog_title_format" in fired  # minLength 1
    assert "catalog_publisher_name_required" in fired
    assert "catalog_publisher_mbox_format" in fired
    assert "catalog_superThemeTaxonomy_format" in fired
    assert "catalog_issued_format" in fired
    assert "catalog_license_format" in fired  # empty string, minLength 1
    assert "catalog_homepage_format" in fired


def test_catalog_positive_fixture():
    assert _fired("catalogs", CATALOG_COLS, [
        ("x", "Título", "desc", "ACME", "a@b.cl",
         "http://datos.gob.ar/superThemeTaxonomy.json", "2021-03-01",
         "2024-06-30T10:00:00Z", "CC-BY", "https://acme.test", "open"),
    ]) == set()


DATASET_COLS = (
    "rid, title, description, publisher_name, publisher_mbox,"
    " accrualPeriodicity, issued, modified, temporal, landingPage,"
    " superTheme, theme, keyword"
)


def test_dataset_negative_fixtures():
    fired = _fired("datasets", DATASET_COLS, [
        ("x", None, "d", "ACME", "bad@", "weekly-ish", None, "soon",
         "2019-01-01..2020-01-01", "gopher:x", None, None, None),
    ])
    assert "dataset_title_required" in fired
    assert "dataset_publisher_mbox_format" in fired
    assert "dataset_accrualPeriodicity_format" in fired
    assert "dataset_issued_required" in fired
    assert "dataset_modified_format" in fired
    assert "dataset_temporal_format" in fired
    assert "dataset_landingPage_format" in fired
    assert "dataset_superTheme_required" in fired


def test_dataset_accrual_pattern_vocabulary():
    """The schema's three accrualPeriodicity alternations, exercised the
    way the reference's regex admits them (R/P…, R/PT…, eventual)."""
    values = [
        ("ok1", "R/P1Y"), ("ok2", "R/P0.5M"), ("ok3", "R/PT1H"),
        ("ok4", "eventual"), ("bad1", "P1Y"), ("bad2", "R/X"),
        ("bad3", "R/PT1Y"),
    ]
    errors = _errors("datasets", "rid, accrualPeriodicity", values)
    assert {
        rid for rid, rule in errors
        if rule == "dataset_accrualPeriodicity_format"
    } == {"bad1", "bad2", "bad3"}


DIST_COLS = (
    "rid, title, description, fileName, format, downloadURL, accessURL,"
    " issued, byteSize, scrapingFileURL"
)


def test_distribution_negative_fixtures():
    fired = _fired("distributions", DIST_COLS, [
        ("x", "", "d", "f.csv", "CSV", "not a url", None, "yesterday",
         "12MB", None),
    ])
    assert "distribution_title_format" in fired
    assert "distribution_downloadURL_format" in fired
    assert "distribution_issued_format" in fired
    assert "distribution_byteSize_format" in fired
    assert "distribution_has_source_url" not in fired  # downloadURL present


def test_distribution_positive_fixture():
    assert _fired("distributions", DIST_COLS, [
        ("x", "Serie", None, "s.csv", "CSV",
         "https://acme.test/s.csv", "http://acme.test/land", "2020-06-01",
         "20480", None),
    ]) == set()


def test_byte_size_empty_string_allowed():
    fired = _fired("distributions", DIST_COLS, [
        ("x", "Serie", None, None, None, "https://a.b/c", None,
         "2020-06-01", "", "http://a.b/wb.xlsx"),
    ])
    assert "distribution_byteSize_format" not in fired


FIELD_COLS = (
    "rid, title, type, description, specialType, specialTypeDetail,"
    " scrapingIdentifierCell, scrapingDataStartCell"
)


def test_field_negative_fixtures():
    """Field BASE rules compile from config/schemas/field.json (title
    required+minLength, type enum); the scraping-extension rules stay
    explicit. One violating row per rule."""
    fired = _errors("fields", FIELD_COLS, [
        ("null_title", None, "number", None, None, None, None, None),
        ("empty_title", "", "number", None, None, None, None, None),
        ("bad_type", "s", "float", None, None, None, None, None),
        ("bad_freq", "t", "date", None, "time_index", "R/P2M", None, None),
        ("no_freq", "t", "date", None, "time_index", None, None, None),
        ("bad_coord", "u", "number", None, None, None, "8B", "Z0x"),
    ])
    assert ("null_title", "field_title_required") in fired
    assert ("empty_title", "field_title_format") in fired
    assert ("empty_title", "field_title_required") not in fired
    assert ("bad_type", "field_type_enum") in fired
    assert ("bad_freq", "field_time_index_frequency") in fired
    # a NULL detail is no supported frequency: the rule is violated
    # unless it holds, as a NULL verdict was under Spark
    assert ("no_freq", "field_time_index_frequency") in fired
    assert ("bad_coord", "field_identifier_cell_coord") in fired
    assert ("bad_coord", "field_data_start_cell_coord") in fired


def test_field_positive_fixture():
    assert _fired("fields", FIELD_COLS, [
        ("x", "serie_a", "number", "desc", "time_index", "R/P3M", "B8", "B9"),
    ]) == set()


# Strings where java.util.regex and Python's re part ways: a final line
# terminator (Java's ``$`` matches before \r, \r\n, \x85, \u2028 and
# \u2029 as well as \n; ``.`` matches none of them), non-ASCII digits
# (Java's ``\d`` is ASCII) and a non-ASCII space (Java's ``\s`` is ASCII).
_BASES = [
    "2020-01-01", "2024-06-30T10:00:00Z", "2024-06-30T10:00:00.5+03:00",
    "2019-01-01/2020-01-01T00:00:00Z", "a@b.cl", "http://a.b/c",
    "R/P1Y", "R/PT1H", "R/P0.5M", "eventual", "12", "-3", "B8", "ab12",
]
_EDGES = ["\r", "\r\n", "\n", "\x85", "\u2028", "\u2029", "\r\r", "\n\n",
          "\n\r", "\r\n\n"]
EDGE_STRINGS = [
    *[b + e for b in _BASES for e in _EDGES],
    *[e + b for b in ("2020-01-01", "B8") for e in _EDGES],
    "2020-01-01\rx", "\uff12\uff10\uff12\uff10-01-01", "\u0661\u0662",
    "B\uff18", "R/P\u0661Y", "A\u0668", "2020-\u0660\u0661-01",
    "a\xa0@b.c", "a@b\xa0.c", "http://a\xa0b", "\xa0", "", "x",
    "2024-06-30T10:00:00\u2028Z", "a.b\n@c.d", "http://a\u2028b",
    "R/P1\rY", "R/P1Y|", "R/P|",
]


def _schema_patterns() -> list[str]:
    out = []

    def walk(node):
        if isinstance(node, dict):
            if isinstance(node.get("pattern"), str):
                out.append(node["pattern"])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    for entity in ("catalog", "dataset", "distribution", "field"):
        walk(load_schema(entity))
    return out


def test_python_patterns_keep_spark_rlike_verdicts(spark):
    """No V1 rule calls ``rlike`` any more: for every pattern V1 uses,
    ``java_search`` must give Spark's ``rlike`` verdict on every edge
    string, read from one local frame."""
    patterns = [
        *FORMAT_REGEX.values(), *_schema_patterns(), INTEGER_REGEX,
        CELL_COORD_REGEX,
    ]
    assert len(_schema_patterns()) == 4
    df = local_frame(spark, [(s,) for s in EDGE_STRINGS], "v string")
    got = df.select(
        "v", *[F.col("v").rlike(p).alias(f"p{i}") for i, p in enumerate(patterns)]
    ).collect()
    assert [r.v for r in got] == EDGE_STRINGS
    mismatches = [
        (p, r.v, r[i + 1])
        for r in got
        for i, p in enumerate(patterns)
        if java_search(p)(r.v) != r[i + 1]
    ]
    assert mismatches == []
    # the edges are real: plain Python ``re`` would disagree on them
    plain = [
        (p, r.v)
        for r in got
        for i, p in enumerate(patterns)
        if (re.search(p, r.v) is not None) != r[i + 1]
    ]
    assert len(plain) > 20


def test_expectation_engine_detects_violations(spark):
    """The expectations operator must COUNT violations, not just bless
    clean data: a deliberately dirty frame trips every check kind with
    the exact violation counts."""
    from series_tiempo_ar_scraping_spark.operators.expectations import (
        Expectation,
        run_expectations,
    )

    dirty = spark.createDataFrame(
        [
            (1, 0.5, "A"),
            (1, -0.1, "B"),   # dup id, below-min rate
            (None, 1.5, "C"),  # null id, above-max rate, bad enum
            (2, None, "A"),
        ],
        "id long, rate double, seg string",
    )
    specs = [
        Expectation("t", "id", "not_null"),
        Expectation("t", "id", "unique"),
        Expectation("t", "rate", "min_ge", 0),
        Expectation("t", "rate", "max_le", 1),
        Expectation("t", "seg", "accepted_values", ("A", "B")),
    ]
    rows = {
        (r.column_name, r.check): r
        for r in run_expectations({"t": dirty}, specs).collect()
    }
    assert rows[("id", "not_null")].n_violations == 1
    # 4 rows, 3 distinct id values (1, 2, NULL->excluded by distinct):
    # count(*)-countDistinct = 4-2 = 2 (null + the duplicate)
    assert rows[("id", "unique")].n_violations == 2
    assert rows[("rate", "min_ge")].n_violations == 1
    assert rows[("rate", "max_le")].n_violations == 1
    assert rows[("seg", "accepted_values")].n_violations == 1
    assert all(r.passed == 0 for r in rows.values())
    assert all(r.n_rows == 4 for r in rows.values())


def test_expectation_engine_one_scan_per_table(spark, sf_dir):
    """N contracts on one table must compile to ONE scan (the plan
    contract that makes contracts affordable at 100 TB)."""
    import contextlib
    import io

    QUERIES = load_queries()

    df = QUERIES["expectation_suite_report"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    # 4 tables -> exactly 4 parquet scans, no joins, no Python
    assert p.count("Scan parquet") == 4
    assert "Join" not in p and "EvalPython" not in p


def test_pipeline_contract_report_frame_availability(spark):
    """EP1 wiring contract: the contract rows come from the V4 series
    rows and the dataset report. Empty outputs (a pass whose readers all
    failed) report nothing, as the Spark report grouped by catalog does;
    a planted violation in either output surfaces in the long report,
    which equals the grouped Spark report over the observations the V4
    rows summarize."""
    from series_tiempo_ar_scraping_spark.operators.expectations import (
        Expectation,
        run_expectations,
    )
    from series_tiempo_ar_scraping_spark.sinks.reports import (
        ContractCheck,
        DatasetStatus,
        SeriesStatus,
        contract_rows,
        split_by_catalog,
    )

    specs = [
        Expectation("observations", "distribution_id", "not_null"),
        Expectation("observations", "series_id", "not_null"),
        Expectation("observations", "ts", "not_null"),
        Expectation("dataset_report", "dataset_identifier", "not_null"),
        Expectation(
            "dataset_report", "dataset_status", "accepted_values", ("OK", "ERROR")
        ),
    ]

    def spark_report(obs, rep):
        df = run_expectations(
            {"observations": obs, "dataset_report": rep}, specs, ["catalog_id"]
        )
        return split_by_catalog(df.columns, df.collect())

    # c1 plants a null series id and a status outside the enum; c2 a
    # null distribution id and a null ts and has no dataset rows; c3
    # has a null dataset id and no observations
    obs = spark.createDataFrame(
        [
            ("c1", "ds", "d1", "s1", "2024-01-01", 1.0),
            ("c1", "ds", "d2", None, "2024-01-02", 2.0),
            ("c2", "ds", None, "s1", "2024-01-01", 3.0),
            ("c2", "ds", "d1", "s1", None, 4.0),
            ("c2", "ds", "d1", "s1", "2024-02-01", None),
        ],
        "catalog_id string, dataset_id string, distribution_id string,"
        " series_id string, ts string, value double",
    ).withColumns({"ts": F.col("ts").cast("date"), "freq_code": F.lit("M")})
    datasets = [
        DatasetStatus("c1", "a", "OK"),
        DatasetStatus("c1", "b", "BOGUS"),
        DatasetStatus("c3", None, "ERROR"),
    ]
    rep = spark.createDataFrame(
        datasets, ", ".join(f"{c} string" for c in DatasetStatus._fields)
    )
    series = [
        SeriesStatus(*r)
        for r in validate_observations(obs)
        .select(
            "catalog_id", "dataset_id", "distribution_id", "series_status",
            "series_id", "n_obs", "n_null_ts",
        )
        .collect()
    ]

    # EMPTY outputs violate nothing: grouped by catalog, they report no
    # row at all (and no SUM-over-nothing NULL reaches the run_etl sum)
    assert contract_rows([], []) == []
    assert spark_report(obs.limit(0), rep.limit(0)) == (
        list(ContractCheck._fields[1:]), {}
    )

    rows = contract_rows(series, datasets)
    assert split_by_catalog(ContractCheck._fields, rows) == spark_report(obs, rep)
    both = {
        (r.catalog_id, r.table_name, r.column_name, r.check): r.n_violations
        for r in rows
    }
    assert both[("c1", "observations", "series_id", "not_null")] == 1
    assert both[("c1", "observations", "distribution_id", "not_null")] == 0
    assert both[("c1", "dataset_report", "dataset_status", "accepted_values")] == 1
    assert both[("c2", "observations", "distribution_id", "not_null")] == 1
    assert both[("c2", "observations", "ts", "not_null")] == 1
    assert both[("c3", "dataset_report", "dataset_identifier", "not_null")] == 1
    assert {r.table_name for r in rows if r.catalog_id == "c2"} == {"observations"}
    assert {r.table_name for r in rows if r.catalog_id == "c3"} == {"dataset_report"}
    assert {(r.catalog_id, r.n_rows) for r in rows} == {
        ("c1", 2), ("c2", 3), ("c3", 1)
    }
    assert [r.passed for r in rows] == [int(r.n_violations == 0) for r in rows]
