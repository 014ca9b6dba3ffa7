"""Stdlib-only XLSX reader/writer (no openpyxl in this container).

An ``.xlsx`` file is a ZIP of OOXML parts (ECMA-376). Reading needs only
``zipfile`` + ``xml.etree``: sheet names from ``xl/workbook.xml`` (resolved
to part paths via ``xl/_rels/workbook.xml.rels``), shared strings from
``xl/sharedStrings.xml``, and per-sheet ``<c r="A1" t="s"><v>…</v></c>``
cells. Writing emits the minimal conforming package with inline strings.

This powers three reference surfaces:

- **S5** XLSX catalog reader (``base.py:932-938`` via pydatajson
  ``read_xlsx_catalog``): 5 sheets ``catalog/dataset/distribution/field/
  theme`` — already the normalized relational form (SURVEY §1.3) — mapped
  straight into the same rows ``catalog_json.normalize_catalog`` produces,
  under its ``SCHEMAS``.
- **S8** workbook→cells extraction for scraping (``cells.py``).
- **K3/K4** XLSX catalog + report writers (``base.py:500-504,679-703``).

All driver-side: catalog/report workbooks are tiny. The distributed path
for *many* workbooks is ``cells.extract_cells`` (mapInPandas), which calls
``iter_cells`` per file on executors.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NS_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(f"{_NS}si"):
        # An <si> is either one <t> or rich-text runs <r><t>…; concat runs.
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_part_path)] in workbook order."""
    rels = {}
    for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")).iter(
        f"{_NS_PKG}Relationship"
    ):
        # targets may be workbook-relative ('worksheets/sheet1.xml') or
        # absolute part names ('/xl/worksheets/sheet1.xml' — legal OOXML,
        # emitted by several non-Excel writers): strip the leading slash
        # FIRST, then prefix only when the part isn't already under xl/
        target = rel.get("Target", "").lstrip("/")
        rels[rel.get("Id")] = (
            target if target.startswith("xl/") else "xl/" + target
        )
    parts = []
    for sheet in ET.fromstring(zf.read("xl/workbook.xml")).iter(f"{_NS}sheet"):
        rid = sheet.get(f"{_NS_R}id")
        if rid in rels:
            parts.append((sheet.get("name"), rels[rid]))
    return parts


def _cell_value(c: ET.Element, shared: list[str]) -> str | None:
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(el.text or "" for el in c.iter(f"{_NS}t"))
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return "TRUE" if v.text == "1" else "FALSE"
    # t in {"n","str","e","d"}: numbers come through in their serialized
    # form; trim float noise like "3.0" → "3" for id-like columns.
    text = v.text
    if t == "n" and text.endswith(".0"):
        text = text[:-2]
    return text


def iter_cells(path: str):
    """Yield ``(sheet, row, col_letter, value)`` for every non-empty cell.

    The long-cells relational model of SURVEY §2.1-S8; value is always the
    string serialization (typing happens downstream, declared by metadata).
    """
    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        for name, part in _sheet_parts(zf):
            root = ET.fromstring(zf.read(part))
            for row_el in root.iter(f"{_NS}row"):
                for c in row_el.iter(f"{_NS}c"):
                    ref = c.get("r", "")
                    m = _CELL_REF.match(ref)
                    if not m:
                        continue
                    val = _cell_value(c, shared)
                    if val is not None and val != "":
                        yield name, int(m.group(2)), m.group(1), val


def _col_to_idx(col: str) -> int:
    """'A'→1, 'Z'→26, 'AA'→27 (base-26 bijective)."""
    n = 0
    for ch in col:
        n = n * 26 + (ord(ch) - 64)
    return n


def _idx_to_col(n: int) -> str:
    s = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


def read_sheets(path: str) -> dict[str, list[dict[str, str]]]:
    """Each sheet → list of row-dicts keyed by the row-1 header values.

    Blank cells are absent from the dicts (matches how pydatajson's xlsx
    reader drops empty metadata keys).
    """
    grids: dict[str, dict[int, dict[int, str]]] = {}
    for sheet, row, col, val in iter_cells(path):
        grids.setdefault(sheet, {}).setdefault(row, {})[_col_to_idx(col)] = val
    out: dict[str, list[dict[str, str]]] = {}
    for sheet, rows in grids.items():
        header = rows.get(1, {})
        records = []
        for r in sorted(k for k in rows if k > 1):
            rec = {
                header[c]: v
                for c, v in rows[r].items()
                if c in header and v is not None
            }
            if rec:
                records.append(rec)
        out[sheet] = records
    return out


# --- S5: pydatajson 5-sheet catalog → normalized rows ----------------------

# pydatajson's xlsx layout prefixes every column with its level name
# (evidenced by tests/project/mock/test2.xlsx sharedStrings:
# catalog_identifier, dataset_identifier, distribution_scrapingFileURL, …).
def _strip_prefix(rec: dict[str, str], prefix: str) -> dict[str, str]:
    out = {}
    for k, v in rec.items():
        if k.startswith(prefix):
            out[k[len(prefix):]] = v
    return out


def read_xlsx_catalog(path: str, catalog_id: str | None = None) -> dict[str, list[tuple]]:
    """S5 — 5-sheet XLSX catalog → the same rows, under the same
    ``catalog_json.SCHEMAS``, as the JSON reader (``base.py:932-938``).
    Two sheet layouts: the pydatajson one
    (``tests/project/mock/test2.xlsx``: columns prefixed by entity,
    ``catalog_title``, ``dataset_identifier``, …) and the one K3 writes
    (``sinks.metadata.write_xlsx_catalog``: columns named as in the
    frames), so a published ``catalog.xlsx`` reads back. Parsed in
    Python, not in Spark (catalog workbooks are small); distributed
    reading of *data* stays in parquet/CSV land.
    """
    from pyspark.sql import types as T

    from series_tiempo_ar_scraping_spark.sources.catalog_json import SCHEMAS

    sheets = read_sheets(path)
    cat_rec = (sheets.get("catalog") or [{}])[0]
    own = "catalog_id" in cat_rec  # the K3 layout
    cid = (
        catalog_id
        or cat_rec.get("catalog_id" if own else "catalog_identifier")
        or "catalog"
    )
    lists = [
        f.name for f in SCHEMAS["datasets"]
        if isinstance(f.dataType, T.ArrayType)
    ]

    cat = dict(cat_rec) if own else _strip_prefix(cat_rec, "catalog_")
    recs: dict[str, list[dict]] = {"catalogs": [{**cat, "catalog_id": cid}]}

    ds_recs = recs["datasets"] = []
    for r in sheets.get("dataset", []):
        d = dict(r) if own else _strip_prefix(r, "dataset_")
        d["catalog_id"] = cid
        if not own:
            d["dataset_id"] = d.pop("identifier", None)
        for lf in lists:
            if lf in d:
                d[lf] = [s.strip() for s in str(d[lf]).split(",") if s.strip()]
        ds_recs.append(d)

    di_recs = recs["distributions"] = []
    for r in sheets.get("distribution", []):
        d = dict(r) if own else _strip_prefix(r, "distribution_")
        d["catalog_id"] = cid
        if not own:
            d["dataset_id"] = r.get("dataset_identifier")
            d["distribution_id"] = d.pop("identifier", None)
        di_recs.append(d)

    f_recs = recs["fields"] = []
    order: dict[str, int] = {}
    for r in sheets.get("field", []):
        d = dict(r) if own else _strip_prefix(r, "field_")
        d["catalog_id"] = cid
        if not own:
            d["dataset_id"] = r.get("dataset_identifier")
            d["distribution_id"] = r.get("distribution_identifier")
            d["field_id"] = d.pop("id", None)
        key = d.get("distribution_id") or ""
        d["field_order"] = order.get(key, 0)
        order[key] = d["field_order"] + 1
        f_recs.append(d)

    recs["themes"] = [
        {
            "catalog_id": cid,
            "theme_id": r.get("theme_id") or r.get("theme_identifier"),
            "label": r.get("label" if own else "theme_label"),
            "description": r.get("description" if own else "theme_description"),
        }
        for r in sheets.get("theme", [])
    ]
    return {
        name: [tuple(d.get(c) for c in SCHEMAS[name].names) for d in entity]
        for name, entity in recs.items()
    }


# --- K3/K4: minimal conforming XLSX writer --------------------------------

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def write_xlsx(path: str, sheets: dict[str, tuple[list[str], list[tuple]]]) -> str:
    """Write ``{sheet_name: (columns, rows)}`` as a minimal xlsx.

    Strings are inline (``t="inlineStr"`` — valid OOXML, no sharedStrings
    part needed); numerics are native. Readable back by ``iter_cells`` and
    by Excel/pandas.
    """
    from series_tiempo_ar_scraping_spark.sinks.atomic import (
        atomic_output_path,
    )

    names = list(sheets)
    # stage + atomic replace: a crash mid-zip must never leave a
    # corrupt xlsx at the path consumers read (K3/K4 contract)
    with atomic_output_path(path) as tmp, zipfile.ZipFile(
        tmp, "w", zipfile.ZIP_DEFLATED
    ) as zf:
        overrides = "\n".join(
            f'<Override PartName="/xl/worksheets/sheet{i+1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        zf.writestr("[Content_Types].xml", _CT.format(overrides=overrides))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        sheet_tags = "".join(
            # quoteattr, not escape: sheet names may legally contain '"'
            # (escape() leaves quotes alone and would corrupt the XML)
            f'<sheet name={quoteattr(n)} sheetId="{i+1}" r:id="rId{i+1}"/>'
            for i, n in enumerate(names)
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        rel_tags = "".join(
            f'<Relationship Id="rId{i+1}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/worksheet"'
            f' Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(len(names))
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            f'package/2006/relationships">{rel_tags}</Relationships>',
        )
        for i, name in enumerate(names):
            columns, rows = sheets[name]
            xml_rows = []
            for r_idx, row in enumerate([tuple(columns)] + [tuple(r) for r in rows], start=1):
                cells_xml = []
                for c_idx, v in enumerate(row, start=1):
                    if v is None or (isinstance(v, float) and v != v):
                        continue
                    ref = f"{_idx_to_col(c_idx)}{r_idx}"
                    if _num(v):
                        cells_xml.append(f'<c r="{ref}"><v>{v}</v></c>')
                    else:
                        if isinstance(v, (list, tuple)):
                            v = ",".join(str(x) for x in v)
                        cells_xml.append(
                            f'<c r="{ref}" t="inlineStr"><is><t xml:space='
                            f'"preserve">{escape(str(v))}</t></is></c>'
                        )
                xml_rows.append(f'<row r="{r_idx}">{"".join(cells_xml)}</row>')
            zf.writestr(
                f"xl/worksheets/sheet{i+1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main"><sheetData>'
                + "".join(xml_rows)
                + "</sheetData></worksheet>",
            )
    return path

