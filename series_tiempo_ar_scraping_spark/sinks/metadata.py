"""K2/K3 — publishable catalog metadata writers.

The reference rewrites the filtered catalog after processing: ``data.json``
via pydatajson ``write_json_catalog`` (``base.py:494-498``) and
``catalog.xlsx`` via ``metadata.to_xlsx`` (``base.py:500-504``). Here each
published frame is collected once for every catalog of the pass; the
JSON form re-nests the rows in Python (``catalog_json.nest_catalogs``,
the inverse of the reader's table) and the 5-sheet relational form
writes them directly through the stdlib OOXML writer. Catalog metadata
is tiny, so both sinks are driver-side collects by design. On a pipeline
pass every published frame is an Arrow local relation, or a projection
or filter of one (``CatalogPipeline.plan``; the harvested datasets
``CatalogPipeline.run`` builds), so collecting it runs no Spark job.
"""

from __future__ import annotations

import json

from series_tiempo_ar_scraping_spark.sinks.atomic import atomic_output_path
from series_tiempo_ar_scraping_spark.sinks.reports import split_by_catalog
from series_tiempo_ar_scraping_spark.sources.catalog_json import nest_catalogs


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


def write_json_catalog(frames: dict, path: dict[str, str]) -> list[str]:
    """K2 — re-nest the (published) frames → one ``data.json`` per
    catalog. ``path`` is ``{catalog_id: path}``; every catalog's document
    comes from the same one collect per frame. Returns the paths
    written."""
    by_id = nest_catalogs({
        name: (df.columns, [tuple(r) for r in df.collect()])
        for name, df in _published(frames).items()
        if df is not None
    })
    for cid, target in path.items():
        # stage + atomic replace: a crash mid-dump must never leave a
        # truncated data.json at the path consumers read
        with atomic_output_path(target) as tmp:
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(
                    by_id.get(cid, {}), fh, ensure_ascii=False, indent=2,
                    sort_keys=True,
                )
    return list(path.values())


def write_xlsx_catalog(frames: dict, path: dict[str, str]) -> list[str]:
    """K3 — one 5-sheet ``catalog.xlsx`` per catalog in the pydatajson
    sheet layout (sheet order ``catalog/dataset/distribution/field/theme``
    as in ``tests/project/mock/test2.xlsx``).

    ``path`` is ``{catalog_id: path}``; each sheet is collected once and
    split by ``catalog_id``. Returns the paths written."""
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
    split = {
        name: split_by_catalog(df.columns, df.collect(), keep_id=True)
        for name, df in sheets.items()
    }
    return [
        xlsx.write_xlsx(
            target,
            {
                name: (cols, rows.get(cid, []))
                for name, (cols, rows) in split.items()
            },
        )
        for cid, target in path.items()
    ]
