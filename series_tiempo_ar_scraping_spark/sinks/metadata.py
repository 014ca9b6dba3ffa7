"""K2/K3 — publishable catalog metadata writers.

The reference rewrites the filtered catalog after processing: ``data.json``
via pydatajson ``write_json_catalog`` (``base.py:494-498``) and
``catalog.xlsx`` via ``metadata.to_xlsx`` (``base.py:500-504``). Here the
normalized frames re-nest via ``renest_catalog`` (collect_list(struct)
bottom-up) for the JSON form, and the 5-sheet relational form writes
directly through the stdlib OOXML writer. Catalog metadata is tiny, so
both sinks are driver-side collects by design.
"""

from __future__ import annotations

import json

from series_tiempo_ar_scraping_spark.sinks.atomic import atomic_output_path
from series_tiempo_ar_scraping_spark.sources.catalog_json import renest_catalog


def _prune_nulls(obj):
    """Drop null keys/entries — pydatajson omits absent metadata keys
    rather than writing ``null``."""
    if isinstance(obj, dict):
        return {k: _prune_nulls(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [_prune_nulls(v) for v in obj if v is not None]
    return obj


def _published(frames: dict) -> dict:
    """The frames K2/K3 publish: the K7/K8-rewritten distributions and
    fields when the pipeline made them."""
    return {
        "catalogs": frames["catalogs"],
        "datasets": frames["datasets"],
        "distributions": frames.get(
            "distributions_published", frames["distributions"]
        ),
        "fields": frames.get("fields_published", frames["fields"]),
        "themes": frames.get("themes"),
    }


def write_json_catalog(frames: dict, path: str | dict[str, str]) -> str | list[str]:
    """K2 — re-nest the (published) frames → ``data.json``.

    ``path`` is one catalog's file, or ``{catalog_id: path}``: every
    catalog's document then comes from the same one collect. Returns
    what it wrote: the path, or the list of paths."""
    docs = []
    for r in renest_catalog(_published(frames)).toJSON().collect():
        doc = _prune_nulls(json.loads(r))
        if "catalog_id" in doc:
            doc["identifier"] = doc.pop("catalog_id")
        docs.append(doc)
    if isinstance(path, str):
        targets = [(path, docs[0] if docs else {})]
    else:
        by_id = {d.get("identifier"): d for d in docs}
        targets = [(p, by_id.get(cid, {})) for cid, p in path.items()]
    for target, doc in targets:
        # stage + atomic replace: a crash mid-dump must never leave a
        # truncated data.json at the path consumers read
        with atomic_output_path(target) as tmp:
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(
                    doc, fh, ensure_ascii=False, indent=2, sort_keys=True
                )
    return path if isinstance(path, str) else [t for t, _d in targets]


def write_xlsx_catalog(frames: dict, path: str | dict[str, str]) -> str | list[str]:
    """K3 — 5-sheet ``catalog.xlsx`` in the pydatajson sheet layout
    (sheet order ``catalog/dataset/distribution/field/theme`` as in
    ``tests/project/mock/test2.xlsx``).

    ``path`` is one catalog's file, or ``{catalog_id: path}``: each sheet
    is then collected once and split by ``catalog_id``. Returns what it
    wrote: the path, or the list of paths."""
    from series_tiempo_ar_scraping_spark.sources import xlsx

    pub = _published(frames)
    sheets = {
        "catalog": pub["catalogs"],
        "dataset": pub["datasets"],
        "distribution": pub["distributions"],
        "field": pub["fields"],
    }
    if pub["themes"] is not None:
        sheets["theme"] = pub["themes"]
    if isinstance(path, str):
        return xlsx.write_xlsx_frames(path, sheets)
    split: dict[str, dict] = {cid: {} for cid in path}
    for name, df in sheets.items():
        cols = df.columns
        at = cols.index("catalog_id")
        for cid in split:
            split[cid][name] = (cols, [])
        for r in df.collect():
            if r[at] in split:
                split[r[at]][name][1].append(tuple(r))
    return [xlsx.write_xlsx(path[cid], split[cid]) for cid in path]
