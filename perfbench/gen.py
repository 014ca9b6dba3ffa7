"""Seeded ETL inputs: catalogs, distribution files and the fault ledger.

Pure Python, no Spark. ``generate(workload, seed, root)`` writes one
``data.json`` per catalog plus its CSV, TXT and XLSX distribution files
under ``root`` and returns a ``Manifest``: the index ``run_etl`` takes,
the URL -> local path map its file resolver uses, the ledger of planted
faults and the expected contents of every wide CSV the ETL should write.

The same (workload, seed) always gives byte-identical files. Faults are
planted at fixed counts per run (the rate is that count over the run's
distributions); the seed only chooses where they land, so the work per
run stays the same across seeds.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

from series_tiempo_ar_scraping_spark.sources.xlsx import _idx_to_col, write_xlsx

URL_ROOT = "http://bench.test"

# Planted faults. V7: each must cost exactly one ERROR or WARNING report
# row, never an exception.
CORRUPT_FILE = "corrupt_file"  # csv/txt payload is an HTML error page
MISSING_FILE = "missing_file"  # csv/txt file never landed
BAD_HEADER = "bad_header"  # V5: identifier cell != field id (xlsx)
NON_MONOTONIC = "non_monotonic_index"  # one date jumps back before the start
SCHEMA_INVALID = "schema_invalid_dataset"  # V1: accrualPeriodicity off-pattern

# fault -> (report it shows in, status it must get)
FAULT_EFFECT = {
    CORRUPT_FILE: ("distribution", "ERROR"),
    MISSING_FILE: ("distribution", "ERROR"),
    BAD_HEADER: ("distribution", "ERROR"),
    # V4 sorts by date, so the moved date reads as a hole in the spacing:
    # a gap WARNING, not an ordering ERROR
    NON_MONOTONIC: ("distribution", "WARNING"),
    SCHEMA_INVALID: ("dataset", "ERROR"),
}
FAULT_ROUTES = {
    CORRUPT_FILE: ("csv", "txt"),
    MISSING_FILE: ("csv", "txt"),
    BAD_HEADER: ("xlsx",),
    NON_MONOTONIC: ("csv", "txt", "xlsx"),
}
ALL_FAULTS = tuple(FAULT_EFFECT)

MONTHS = {"R/P1M": 1, "R/P3M": 3, "R/P1Y": 12}


@dataclass(frozen=True)
class Shape:
    """Size of one workload; counts are per catalog."""

    catalogs: int
    datasets: int
    csv: int
    txt: int
    xlsx_books: int
    sheets_per_book: int
    series: int  # value series per distribution
    rows: int  # observations per series
    faults: tuple[str, ...] = ALL_FAULTS  # each planted once per run


SHAPES = {
    # fixed per-catalog cost: many catalogs, few short series each
    "etl_many_catalogs": Shape(
        catalogs=2, datasets=2, csv=1, txt=1, xlsx_books=1,
        sheets_per_book=2, series=3, rows=60,
    ),
    # data plane: one catalog of long, wide series, mostly workbooks
    "etl_big_workbooks": Shape(
        catalogs=1, datasets=2, csv=2, txt=2, xlsx_books=2,
        sheets_per_book=3, series=10, rows=1000,
    ),
}


@dataclass
class Manifest:
    index: dict
    urls: dict[str, str]
    ledger: list[dict]
    # (catalog, dataset, distribution) -> {fileName, titles, rows}
    csvs: dict[tuple[str, str, str], dict] = field(default_factory=dict)
    # catalog -> {id: status} as the report workbooks must show them
    dataset_status: dict[str, dict[str, str]] = field(default_factory=dict)
    distribution_status: dict[str, dict[str, str]] = field(
        default_factory=dict
    )
    observations: int = 0

    def resolve(self, ref: str) -> str | None:
        """File resolver for ``run_etl``: URL -> landed local path."""
        return self.urls.get(ref)


def _add_months(d: dt.date, n: int) -> dt.date:
    y, m = divmod(d.month - 1 + n, 12)
    return dt.date(d.year + y, m + 1, 1)


def _dates(freq: str, start: dt.date, n: int) -> list[dt.date]:
    if freq == "R/P1D":
        return [start + dt.timedelta(days=i) for i in range(n)]
    return [_add_months(start, i * MONTHS[freq]) for i in range(n)]


def _before(freq: str, d: dt.date) -> dt.date:
    """The period just before ``d``."""
    if freq == "R/P1D":
        return d - dt.timedelta(days=1)
    return _add_months(d, -MONTHS[freq])


def _series(rng: random.Random, n: int) -> list[float | None]:
    v = rng.uniform(50.0, 5000.0)
    out: list[float | None] = []
    for i in range(n):
        v *= 1.0 + rng.gauss(0.0, 0.02)
        # ~2% missing (written as the 's/d' token), never the first value
        out.append(None if i and rng.random() < 0.02 else round(v, 2))
    return out


def _txt_number(v: float) -> str:
    """Argentine form: thousands dots, decimal comma (``1.234,56``)."""
    return f"{v:,.2f}".translate(str.maketrans(",.", ".,"))


def _pin_zip_times(path: str) -> None:
    """Rewrite a zip with fixed member timestamps, so reruns are
    byte-identical (``zipfile`` stamps members with the current time)."""
    with zipfile.ZipFile(path) as zf:
        members = [(i.filename, zf.read(i)) for i in zf.infolist()]
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data, zipfile.ZIP_DEFLATED)


_CORRUPT_PAYLOAD = (
    "<html><head><title>502 Bad Gateway</title></head>\n"
    "<body><h1>Bad Gateway</h1><p>upstream timed out</p></body></html>\n"
)


def _plan(shape: Shape) -> tuple[list[tuple], list[tuple[str, str]]]:
    """[(catalog, dataset, distribution, route, book, sheet)], [(catalog,
    dataset)]; distributions go round-robin over a catalog's datasets."""
    dists, datasets = [], []
    for c in range(shape.catalogs):
        cid = f"cat{c:02d}"
        datasets += [(cid, str(k + 1)) for k in range(shape.datasets)]
        routes = [("csv", None, None)] * shape.csv + [
            ("txt", None, None)
        ] * shape.txt + [
            ("xlsx", b, s)
            for b in range(shape.xlsx_books)
            for s in range(shape.sheets_per_book)
        ]
        per_ds: dict[str, int] = {}
        for i, route in enumerate(routes):
            did = str(i % shape.datasets + 1)
            per_ds[did] = per_ds.get(did, 0) + 1
            dists.append((cid, did, f"{did}.{per_ds[did]}", *route))
    return dists, datasets


def _place_faults(rng, shape, dists, datasets) -> dict[tuple, str]:
    """Pick a distinct target for each planted fault."""
    placed: dict[tuple, str] = {}
    free = list(dists)
    for fault in shape.faults:
        if fault == SCHEMA_INVALID:
            target = rng.choice([d for d in datasets if d not in placed])
        else:
            target = rng.choice([d for d in free if d[3] in FAULT_ROUTES[fault]])
            free.remove(target)
        placed[target] = fault
    return placed


def generate(workload: str, seed: int, root: str) -> Manifest:
    """Write the inputs of ``workload`` for ``seed`` under ``root``."""
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    dists, datasets = _plan(shape)
    faults = _place_faults(rng, shape, dists, datasets)

    m = Manifest(index={}, urls={}, ledger=[])
    for target, fault in sorted(faults.items(), key=lambda kv: kv[0][:3]):
        report, status = FAULT_EFFECT[fault]
        m.ledger.append({
            "catalog": target[0],
            "dataset": target[1],
            "distribution": target[2] if report == "distribution" else None,
            "fault": fault,
            "report": report,
            "status": status,
        })
    for cid, did in datasets:
        m.dataset_status.setdefault(cid, {})[did] = (
            "ERROR" if (cid, did) in faults else "OK"
        )

    catalogs = {
        cid: _catalog_doc(cid, shape, {
            did for c, did in datasets if c == cid and (c, did) in faults
        })
        for cid in dict.fromkeys(c for c, _did in datasets)
    }
    books: dict[tuple[str, int], dict] = {}
    for dist_key in dists:
        cid, did, rid, route, book, sheet = dist_key
        fault = faults.get(dist_key)
        m.distribution_status.setdefault(cid, {})[rid] = (
            FAULT_EFFECT[fault][1] if fault else "OK"
        )
        freq = (
            "R/P1D" if shape.rows > 400
            else rng.choice(["R/P1M", "R/P3M", "R/P1Y"])
        )
        start = (
            dt.date(rng.randint(1990, 2000), 1, 1) if freq == "R/P1D"
            else dt.date(rng.randint(1930, 1960), 1, 1)
        )
        dates = _dates(freq, start, shape.rows)
        if fault == NON_MONOTONIC:
            dates[shape.rows // 3] = _before(freq, dates[0])
        titles = [f"serie_{j}" for j in range(shape.series)]
        fids = [f"{cid}_{rid}_s{j}" for j in range(shape.series)]
        cols = [_series(rng, shape.rows) for _ in titles]
        bad_col = rng.randrange(shape.series) if fault == BAD_HEADER else None
        fname = f"{cid}-{rid}-{route}.csv"

        dist = {
            "identifier": rid,
            "title": f"Series {rid} ({route})",
            "description": f"Distribucion {rid} del catalogo {cid}",
            "fileName": fname,
            "format": route.upper(),
            "issued": "2021-03-01",
        }
        tfield = {
            "id": f"{cid}_{rid}_tiempo",
            "title": "indice_tiempo",
            "type": "date",
            "specialType": "time_index",
            "specialTypeDetail": freq,
        }
        vfields = [
            {"id": f, "title": t, "type": "number", "units": "unidades"}
            for f, t in zip(fids, titles)
        ]
        files_dir = os.path.join(root, "files", cid)
        os.makedirs(files_dir, exist_ok=True)
        if route == "xlsx":
            bname = f"{cid}_libro{book}.xlsx"
            url = f"{URL_ROOT}/{cid}/{bname}"
            sheet_name = f"hoja{sheet}"
            header_row = rng.randint(3, 6)
            tfield["scrapingDataStartCell"] = f"A{header_row + 1}"
            for j, vf in enumerate(vfields):
                col = _idx_to_col(j + 2)
                vf["scrapingIdentifierCell"] = f"{col}{header_row}"
                vf["scrapingDataStartCell"] = f"{col}{header_row + 1}"
            dist["scrapingFileURL"] = url
            dist["scrapingFileSheet"] = sheet_name
            # write_xlsx puts `columns` on row 1 and `rows` from row 2
            grid: list[tuple] = [(f"Fuente: {cid}",)] * (header_row - 2)
            grid.append(("indice_tiempo", *[
                f + "_old" if j == bad_col else f for j, f in enumerate(fids)
            ]))
            grid += [
                (d.isoformat(), *["s/d" if c[i] is None else c[i] for c in cols])
                for i, d in enumerate(dates)
            ]
            b = books.setdefault((cid, book), {
                "path": os.path.join(files_dir, bname), "sheets": {},
            })
            b["sheets"][sheet_name] = ([f"Series {rid}"], grid)
            m.urls[url] = b["path"]
        else:
            local = os.path.join(files_dir, f"{rid}.{route}")
            url = f"{URL_ROOT}/{cid}/{rid}.{route}"
            if route == "csv":
                dist["downloadURL"] = url
                sep, num = ",", repr
            else:
                dist["scrapingFileURL"] = url
                sep, num = ";", _txt_number
            m.urls[url] = local
            if fault == CORRUPT_FILE:
                with open(local, "w") as fh:
                    fh.write(_CORRUPT_PAYLOAD)
            elif fault != MISSING_FILE:
                lines = [sep.join(["indice_tiempo", *titles])] + [
                    sep.join([d.isoformat(), *[
                        "s/d" if c[i] is None else num(c[i]) for c in cols
                    ]])
                    for i, d in enumerate(dates)
                ]
                with open(local, "w") as fh:
                    fh.write("\n".join(lines) + "\n")
        dist["field"] = [tfield, *vfields]
        catalogs[cid]["dataset"][int(did) - 1]["distribution"].append(dist)

        if fault not in (CORRUPT_FILE, MISSING_FILE):
            # what K1 must write: rows sorted by date, the bad-header
            # series (never scraped) left blank
            rows = sorted(
                (d.isoformat(), [
                    None if j == bad_col else c[i] for j, c in enumerate(cols)
                ])
                for i, d in enumerate(dates)
            )
            m.csvs[(cid, did, rid)] = {
                "fileName": fname, "titles": titles, "rows": rows,
            }
            m.observations += shape.rows * shape.series

    for b in books.values():
        write_xlsx(b["path"], b["sheets"])
        _pin_zip_times(b["path"])
    os.makedirs(os.path.join(root, "catalogs"), exist_ok=True)
    for cid, doc in catalogs.items():
        path = os.path.join(root, "catalogs", f"{cid}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        m.index[cid] = {"metadata_path": path, "formato": "json"}
    return m


def _catalog_doc(cid: str, shape: Shape, invalid: set[str]) -> dict:
    """A catalog that validates clean, except datasets in ``invalid``."""
    publisher = {"name": "Oficina de estadistica", "mbox": "datos@bench.test"}
    return {
        "identifier": cid,
        "title": f"Catalogo {cid}",
        "description": "Catalogo sintetico de series de tiempo",
        "publisher": publisher,
        "superThemeTaxonomy": f"{URL_ROOT}/superThemeTaxonomy.json",
        "issued": "2020-01-01",
        "themeTaxonomy": [
            {"id": "economia", "label": "Economia", "description": "Series"}
        ],
        "dataset": [
            {
                "identifier": did,
                "title": f"Dataset {did} de {cid}",
                "description": "Series sinteticas",
                "publisher": publisher,
                "accrualPeriodicity": "mensual" if did in invalid else "R/P1M",
                "issued": "2020-01-01",
                "temporal": "1930-01-01/2020-12-31",
                "superTheme": ["ECON"],
                "theme": ["economia"],
                "keyword": ["series"],
                "distribution": [],
            }
            for did in (str(k + 1) for k in range(shape.datasets))
        ],
    }
