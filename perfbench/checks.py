"""Output checks for one ETL pass, run outside the timed region.

Per catalog, the pass must:
- return a result without an ``error`` key (no exception escaped, V7);
- write report workbooks whose statuses equal the ledger's: every
  planted fault is exactly one ERROR or WARNING row, everything else OK;
- write one metadata-error row per schema-invalid dataset;
- write every expected wide CSV, and no other, whose values parsed again
  equal the generated ones.
"""

from __future__ import annotations

import os

from series_tiempo_ar_scraping_spark.sinks.csv_wide import distribution_dir
from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

from gen import SCHEMA_INVALID, Manifest


def _report(out_dir: str, cid: str, name: str) -> list[dict]:
    path = os.path.join(out_dir, "reports", cid, f"{name}.xlsx")
    return read_sheets(path).get(name, [])


def _statuses(rows: list[dict], key: str) -> dict[str, str] | None:
    """{id: status}, or None when an id shows up twice."""
    out = {r[f"{key}_identifier"]: r[f"{key}_status"] for r in rows}
    return out if len(out) == len(rows) else None


def _read_csv(path: str) -> tuple[list[str], list[tuple[str, list]]]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    rows = []
    for line in lines[1:]:
        date, *vals = line.split(",")
        rows.append((date, [float(v) if v else None for v in vals]))
    return lines[0].split(","), rows


def check_catalog(cid: str, result: dict, m: Manifest, out_dir: str) -> list[str]:
    """Problems found in one catalog's outputs; empty when all is right."""
    if not isinstance(result, dict) or "error" in result:
        return [f"{cid}: run_etl error {result!r}"]
    problems = []
    dists = _statuses(_report(out_dir, cid, "reporte-distributions"), "distribution")
    if dists != m.distribution_status[cid]:
        problems.append(
            f"{cid}: distribution report {dists} != ledger "
            f"{m.distribution_status[cid]}"
        )
    datasets = _statuses(_report(out_dir, cid, "reporte-datasets"), "dataset")
    if datasets != m.dataset_status[cid]:
        problems.append(
            f"{cid}: dataset report {datasets} != ledger {m.dataset_status[cid]}"
        )
    meta_errors = sorted(
        r.get("dataset_id", "")
        for r in _report(out_dir, cid, "reporte-errores-metadata")
    )
    invalid = sorted(
        e["dataset"] for e in m.ledger
        if e["catalog"] == cid and e["fault"] == SCHEMA_INVALID
    )
    if meta_errors != invalid:
        problems.append(f"{cid}: metadata errors {meta_errors} != {invalid}")

    expected = {k: v for k, v in m.csvs.items() if k[0] == cid}
    written = set()
    root = os.path.join(out_dir, "catalog", cid, "dataset")
    for dirpath, _dirs, files in os.walk(root):
        written |= {os.path.join(dirpath, f) for f in files if f.endswith(".csv")}
    for (c, did, rid), want in expected.items():
        path = os.path.join(distribution_dir(out_dir, c, did, rid), want["fileName"])
        written.discard(path)
        if not os.path.exists(path):
            problems.append(f"{cid}: missing wide CSV {path}")
            continue
        header, rows = _read_csv(path)
        if header != ["indice_tiempo", *want["titles"]]:
            problems.append(f"{cid}: {rid} header {header}")
        elif rows != want["rows"]:
            bad = next(
                ((g, w) for g, w in zip(rows, want["rows"]) if g != w),
                f"{len(rows)} rows, want {len(want['rows'])}",
            )
            problems.append(f"{cid}: {rid} values differ, first {bad}")
    if written:
        problems.append(f"{cid}: unexpected wide CSVs {sorted(written)}")
    return problems
