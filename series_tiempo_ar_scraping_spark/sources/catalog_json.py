"""S4/K2 — the catalog document and its normalized rows, both ways.

The reference parses ``data.json`` into a dict tree on the driver
(``base.py:408-421`` via pydatajson) and writes the filtered tree back
(``base.py:494-498``). Here the document is normalized into five flat
entities (``catalogs``, ``datasets``, ``distributions``, ``fields``,
``themes``) with explicit foreign keys — the shape the reference's own
XLSX catalog format already uses (5 sheets, SURVEY §1.3).

One table, ``_ENTITIES``, maps each entity's document keys to its
columns and drives both directions in plain Python: ``normalize_catalog``
turns a ``json.load``-ed document into row tuples under ``SCHEMAS``, and
``nest_catalogs`` turns collected rows back into documents. Catalog
metadata is tiny, so it never goes through a Spark scan: the pipeline
builds each entity's frame once from the rows, as an Arrow local
relation (``CatalogPipeline.plan``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from series_tiempo_ar_scraping_spark.session import local_frame

_STR = T.StringType()
_LIST = T.ArrayType(T.StringType())

# entity → (document array holding it, parent entity, own columns as
# (document key, column, type)). A row is the parent's id columns, then
# the own columns; the first own column is the entity's id. A dotted key
# reads one nested object level. ``field_order`` has no key: it is the
# field's position in its distribution's ``field`` array.
_ENTITIES = {
    "catalogs": (None, None, [
        ("identifier", "catalog_id", _STR),
        ("title", "title", _STR),
        ("description", "description", _STR),
        ("publisher.name", "publisher_name", _STR),
        ("publisher.mbox", "publisher_mbox", _STR),
        ("superThemeTaxonomy", "superThemeTaxonomy", _STR),
        ("issued", "issued", _STR),
        ("modified", "modified", _STR),
        ("license", "license", _STR),
        ("homepage", "homepage", _STR),
        ("rights", "rights", _STR),
    ]),
    "datasets": ("dataset", "catalogs", [
        ("identifier", "dataset_id", _STR),
        ("title", "title", _STR),
        ("description", "description", _STR),
        ("publisher.name", "publisher_name", _STR),
        ("publisher.mbox", "publisher_mbox", _STR),
        ("accrualPeriodicity", "accrualPeriodicity", _STR),
        ("issued", "issued", _STR),
        ("modified", "modified", _STR),
        ("temporal", "temporal", _STR),
        ("landingPage", "landingPage", _STR),
        ("source", "source", _STR),
        ("superTheme", "superTheme", _LIST),
        ("theme", "theme", _LIST),
        ("keyword", "keyword", _LIST),
    ]),
    "distributions": ("distribution", "datasets", [
        ("identifier", "distribution_id", _STR),
        ("title", "title", _STR),
        ("description", "description", _STR),
        ("fileName", "fileName", _STR),
        ("format", "format", _STR),
        ("downloadURL", "downloadURL", _STR),
        ("accessURL", "accessURL", _STR),
        ("scrapingFileURL", "scrapingFileURL", _STR),
        ("scrapingFileSheet", "scrapingFileSheet", _STR),
        ("issued", "issued", _STR),
        ("byteSize", "byteSize", _STR),
    ]),
    "fields": ("field", "distributions", [
        (None, "field_order", T.IntegerType()),
        ("id", "field_id", _STR),
        ("title", "title", _STR),
        ("type", "type", _STR),
        ("description", "description", _STR),
        ("units", "units", _STR),
        ("specialType", "specialType", _STR),
        ("specialTypeDetail", "specialTypeDetail", _STR),
        ("scrapingIdentifierCell", "scrapingIdentifierCell", _STR),
        ("scrapingDataStartCell", "scrapingDataStartCell", _STR),
    ]),
    "themes": ("themeTaxonomy", "catalogs", [
        ("id", "theme_id", _STR),
        ("label", "label", _STR),
        ("description", "description", _STR),
    ]),
}


def _children(entity: str) -> list[str]:
    return [e for e, (_a, parent, _o) in _ENTITIES.items() if parent == entity]


def _key_columns(entity: str | None) -> list[str]:
    """The id columns that key ``entity`` (its ancestors' ids, then its
    own): the columns its children's rows start with."""
    if entity is None:
        return []
    _array, parent, own = _ENTITIES[entity]
    return _key_columns(parent) + [own[0][1]]


# every entity's frame schema: the parent's key columns, then its own
SCHEMAS: dict[str, T.StructType] = {
    e: T.StructType(
        [T.StructField(c, _STR) for c in _key_columns(parent)]
        + [T.StructField(c, t) for _k, c, t in own]
    )
    for e, (_a, parent, own) in _ENTITIES.items()
}

# a row is kept when one of these columns is not null (catalogs always)
_KEEP_IF = {
    e: [SCHEMAS[e].names.index(c) for c in cols]
    for e, cols in {
        "datasets": ["dataset_id"],
        "distributions": ["distribution_id"],
        "fields": ["field_id", "title"],
        "themes": ["theme_id"],
    }.items()
}


def _text(v):
    """A string stays as is; any other non-null value becomes compact
    JSON text (``12``, ``true``, ``{"a":1}``)."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _array(obj: dict, key: str) -> list | None:
    v = obj.get(key)
    if v is not None and not isinstance(v, list):
        raise ValueError(f"catalog key {key!r} is not a list: {v!r}")
    return v


def _value(obj: dict, key: str, dtype):
    if dtype == _LIST:
        v = _array(obj, key)
        return None if v is None else [_text(x) for x in v]
    for part in key.split("."):
        obj = obj.get(part) if isinstance(obj, dict) else None
    return _text(obj)


def normalize_catalog(doc, catalog_id: str | None = None) -> dict[str, list[tuple]]:
    """A ``json.load``-ed ``data.json`` → each entity's rows, in document
    order, under ``SCHEMAS``.

    ``catalog_id`` overrides the document's ``identifier`` (the
    reference keys catalogs by their index.yaml name,
    ``base.py:1073-1091``); with neither the id is ``"catalog"``. An
    array element that is not an object reads as an empty object, so the
    id filters drop its row; a list-typed key holding anything but a
    list or null raises ``ValueError`` naming the key.
    """
    if not isinstance(doc, dict):
        raise ValueError("catalog document is not a JSON object")
    if catalog_id is None:
        catalog_id = _text(doc.get("identifier"))
    own = _ENTITIES["catalogs"][2]
    catalog = ("catalog" if catalog_id is None else catalog_id,
               *[_value(doc, k, t) for k, _c, t in own[1:]])
    out: dict[str, list[tuple]] = {e: [] for e in _ENTITIES}
    out["catalogs"].append(catalog)

    def walk(entity: str, parent: dict, keys: tuple) -> None:
        array, _p, own = _ENTITIES[entity]
        for pos, obj in enumerate(_array(parent, array) or []):
            obj = obj if isinstance(obj, dict) else {}
            row = (*keys, *[
                pos if k is None else _value(obj, k, t) for k, _c, t in own
            ])
            if any(row[i] is not None for i in _KEEP_IF[entity]):
                out[entity].append(row)
            # the children of a dropped row keep theirs
            for child in _children(entity):
                walk(child, obj, row[:len(keys) + 1])

    for child in _children("catalogs"):
        walk(child, doc, catalog[:1])
    return out


def read_catalog_json(spark: SparkSession, path: str, catalog_id: str | None = None) -> dict[str, DataFrame]:
    """One ``data.json`` file → its five frames, as local relations."""
    with open(path, encoding="utf-8") as fh:
        rows = normalize_catalog(json.load(fh), catalog_id)
    return catalog_frames(spark, rows)


def catalog_frames(spark: SparkSession, rows: dict[str, list[tuple]]) -> dict[str, DataFrame]:
    """Each entity's rows → its frame, an Arrow local relation."""
    return {e: local_frame(spark, rows[e], SCHEMAS[e]) for e in _ENTITIES}


def _sort_key(v):
    """Spark's ascending order of a struct/array value: nulls first,
    then field by field (element by element)."""
    if v is None:
        return (0,)
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, list):
        return (1, [_sort_key(x) for x in v])
    return (1, v)


def _prune_nulls(obj):
    """Drop null keys/entries — pydatajson omits absent metadata keys
    rather than writing ``null``."""
    if isinstance(obj, dict):
        return {k: _prune_nulls(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [_prune_nulls(v) for v in obj if v is not None]
    return obj


def nest_catalogs(rows: dict[str, tuple[list[str], list[tuple]]]) -> dict[str, dict]:
    """K2 — collected rows ``{entity: (columns, rows)}`` → one document
    per catalog id, the inverse of ``normalize_catalog``.

    Only the keys whose column the rows carry are written (published
    rows have the scraping keys scrubbed, K8). A child array holds the
    rows whose key columns match its parent's (a null key matches
    nothing); datasets, distributions and themes sort by identifier,
    fields by declaration order, so the document is deterministic. A
    missing ``themes`` entry writes no ``themeTaxonomy``; null keys and
    entries are dropped."""
    nested: dict[str, dict[tuple, list[dict]]] = {}
    for entity in ("fields", "distributions", "datasets", "themes", "catalogs"):
        if entity not in rows:
            continue
        array, parent, own = _ENTITIES[entity]
        cols, data = rows[entity]
        at = {c: i for i, c in enumerate(cols)}
        groups = nested[entity] = {}
        for r in data:
            obj, sub = {}, {}
            for k, c, _t in own:
                if c not in at:
                    continue
                if k is not None and "." in k:
                    head, tail = k.split(".")
                    sub.setdefault(head, {})[tail] = r[at[c]]
                else:  # field_order (no key) only sorts, see below
                    obj[k or c] = r[at[c]]
            for head, inner in sub.items():
                obj[head] = inner if any(v is not None for v in inner.values()) else None
            key = tuple(r[at[c]] for c in _key_columns(entity))
            for child in _children(entity):
                obj[_ENTITIES[child][0]] = nested.get(child, {}).get(key)
            parent_key = key[:-1]
            if None not in parent_key:
                groups.setdefault(parent_key, []).append(obj)
        if parent is not None:
            for objs in groups.values():
                objs.sort(key=_sort_key)
                for obj in objs:
                    obj.pop("field_order", None)
    return {
        doc["identifier"]: _prune_nulls(doc)
        for doc in nested["catalogs"].get((), [])
    }
