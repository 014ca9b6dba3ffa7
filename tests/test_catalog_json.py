"""S4/K2: the catalog document ↔ normalized rows, in plain Python.

Pins the parse rules of ``normalize_catalog`` (value text, non-object
array elements, ``field_order``, the catalog id fallback, list-typed
keys) and the re-nest of ``nest_catalogs``. Parity with the former
Spark JSON reader and re-nest was checked on the fixture and on the
perfbench workloads, row for row and byte for byte.
"""

from __future__ import annotations

import json
import os

import pytest

from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline
from series_tiempo_ar_scraping_spark.sources.catalog_json import (
    SCHEMAS,
    nest_catalogs,
    normalize_catalog,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _load_fixture() -> dict:
    with open(os.path.join(FIX, "catalog.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _col(rows: dict, entity: str, column: str) -> list:
    at = SCHEMAS[entity].names.index(column)
    return [r[at] for r in rows[entity]]


def _one_distribution(**keys) -> dict:
    return {"identifier": "c", "dataset": [{
        "identifier": "d", "distribution": [{"identifier": "1", **keys}],
    }]}


def test_rows_follow_the_schemas():
    rows = normalize_catalog(_load_fixture(), "acme")
    assert set(rows) == set(SCHEMAS)
    for entity, schema in SCHEMAS.items():
        assert all(len(r) == len(schema) for r in rows[entity]), entity
    assert [len(rows[e]) for e in SCHEMAS] == [1, 3, 4, 10, 2]


def test_value_text():
    """A string stays as is; any other non-null value is compact JSON."""
    rows = normalize_catalog(_one_distribution(
        title="  Título ", byteSize=12, format=True,
        description={"a": [1, "é"]}, issued=None, fileName=1.5,
    ))
    (row,) = [dict(zip(SCHEMAS["distributions"].names, r))
              for r in rows["distributions"]]
    assert row["title"] == "  Título "
    assert row["byteSize"] == "12"
    assert row["format"] == "true"
    assert row["description"] == '{"a":[1,"é"]}'
    assert row["issued"] is None
    assert row["fileName"] == "1.5"


def test_mixed_int_and_float_keep_their_own_text(spark, tmp_path):
    """An int beside a float under one key reads as the int's text, not
    as a double's (``"12"``, never ``"12.0"``)."""
    doc = _one_distribution(byteSize=12)
    doc["dataset"][0]["distribution"].append(
        {"identifier": "2", "byteSize": 1.5}
    )
    path = tmp_path / "mixed.json"
    path.write_text(json.dumps(doc))
    frames = CatalogPipeline(
        spark, str(path), "mixed", str(tmp_path / "out")
    ).plan()
    got = frames["distributions"].select("distribution_id", "byteSize")
    assert [tuple(r) for r in got.collect()] == [("1", "12"), ("2", "1.5")]


def test_non_object_elements_and_field_order():
    """A non-object array element reads as an empty object: its row is
    dropped, its children are none, and a field's ``field_order`` is its
    position before the title/id filter."""
    doc = {"dataset": [
        "junk",
        {"identifier": "d", "distribution": [
            7,
            {"identifier": "1", "field": [
                {"id": "a"}, None, {"units": "u"}, {"title": "b"},
            ]},
        ]},
    ], "themeTaxonomy": [[], {"id": "t"}]}
    rows = normalize_catalog(doc, "c")
    assert _col(rows, "datasets", "dataset_id") == ["d"]
    assert _col(rows, "distributions", "distribution_id") == ["1"]
    assert [(r[3], r[4], r[5]) for r in rows["fields"]] == [
        (0, "a", None), (3, None, "b"),
    ]
    assert _col(rows, "themes", "theme_id") == ["t"]


def test_children_of_an_id_less_parent_are_kept():
    """A distribution under a dataset without ``identifier`` keeps its
    row, with a null ``dataset_id``; the dataset row is dropped."""
    doc = {"dataset": [{"distribution": [{"identifier": "1"}]}]}
    rows = normalize_catalog(doc, "c")
    assert rows["datasets"] == []
    assert [r[:3] for r in rows["distributions"]] == [("c", None, "1")]


def test_catalog_id_fallback():
    assert _col(normalize_catalog({"identifier": "x"}, "y"), "catalogs",
                "catalog_id") == ["y"]
    assert _col(normalize_catalog({"identifier": "x"}), "catalogs",
                "catalog_id") == ["x"]
    assert _col(normalize_catalog({"identifier": 5}), "catalogs",
                "catalog_id") == ["5"]
    assert _col(normalize_catalog({}), "catalogs", "catalog_id") == ["catalog"]
    assert _col(normalize_catalog({"dataset": [{"identifier": "d"}]}),
                "datasets", "catalog_id") == ["catalog"]


def test_list_keys():
    """``superTheme``/``theme``/``keyword`` stay lists of strings and null
    stays null; any other value raises ``ValueError`` naming the key."""
    doc = {"dataset": [
        {"identifier": "a", "theme": ["x", 1], "keyword": None},
        {"identifier": "b", "superTheme": []},
    ]}
    rows = normalize_catalog(doc, "c")
    assert _col(rows, "datasets", "theme") == [["x", "1"], None]
    assert _col(rows, "datasets", "keyword") == [None, None]
    assert _col(rows, "datasets", "superTheme") == [None, []]
    with pytest.raises(ValueError, match="'keyword'"):
        normalize_catalog({"dataset": [{"identifier": "a", "keyword": "x,y"}]})
    with pytest.raises(ValueError, match="'dataset'"):
        normalize_catalog({"dataset": {"identifier": "a"}})
    with pytest.raises(ValueError, match="not a JSON object"):
        normalize_catalog([{"identifier": "a"}])


def test_nest_is_the_inverse_on_the_fixture():
    """Re-nesting the rows gives the fixture back: ids as
    ``identifier``, fields in declaration order, the rest sorted by
    identifier, no empty child array."""
    doc = _load_fixture()
    rows = normalize_catalog(doc)
    (got,) = nest_catalogs(
        {e: (SCHEMAS[e].names, rows[e]) for e in rows}
    ).values()
    want = json.loads(json.dumps(doc))
    for ds in want["dataset"]:
        ds["distribution"].sort(key=lambda d: d["identifier"])
        if not ds["distribution"]:
            del ds["distribution"]
    want["dataset"].sort(key=lambda d: d["identifier"])
    assert got == want


def test_nest_keeps_only_carried_keys_and_matching_children():
    """Only columns the rows carry are written; a child whose key has a
    null or matches no parent is dropped; no ``themes`` entry writes no
    ``themeTaxonomy``; a parent without children has no array key."""
    rows = normalize_catalog({
        "identifier": "c",
        "publisher": {"mbox": "m@x.test"},
        "themeTaxonomy": [{"id": "t"}],
        "dataset": [
            {"identifier": "b", "distribution": [
                {"identifier": "1", "scrapingFileURL": "u", "field": [
                    {"id": "f2", "title": "z"}, {"id": "f1", "title": "y"},
                ]},
            ]},
            {"identifier": "a", "publisher": {}},
            {"distribution": [{"identifier": "9"}]},
        ],
    })
    dcols = [c for c in SCHEMAS["distributions"].names if c != "scrapingFileURL"]
    at = [SCHEMAS["distributions"].names.index(c) for c in dcols]
    docs = nest_catalogs({
        "catalogs": (SCHEMAS["catalogs"].names, rows["catalogs"]),
        "datasets": (SCHEMAS["datasets"].names, rows["datasets"]),
        "distributions": (
            dcols, [tuple(r[i] for i in at) for r in rows["distributions"]]
        ),
        "fields": (SCHEMAS["fields"].names, rows["fields"]),
    })
    assert docs == {"c": {
        "identifier": "c",
        "publisher": {"mbox": "m@x.test"},
        "dataset": [
            {"identifier": "a"},
            {"identifier": "b", "distribution": [{"identifier": "1", "field": [
                {"id": "f2", "title": "z"}, {"id": "f1", "title": "y"},
            ]}]},
        ],
    }}
