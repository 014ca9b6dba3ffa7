"""One pipeline pass over an index of catalogs (EP1): each catalog's
outputs equal a run of that catalog alone, and the pass launches no
more Spark jobs than one catalog does: metadata is read on the driver,
so an extra catalog adds no job.

The two catalogs are built to leak into each other if any join keyed
on a bare id: they share dataset ids (``ds-energy``, ``ds-prices``) and
distribution ids (``1.1`` … ``2.1``), each points at a *different*
workbook named ``wb1.jsonl`` (and a different ``precios_q.csv``), and
dataset ``ds-broken`` is V1-invalid only in catalog ``a``: catalog
``b``'s dataset of that id is valid.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from series_tiempo_ar_scraping_spark.main import run_etl
from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
REPORTS = (
    "reporte-datasets",
    "reporte-distributions",
    "reporte-errores-metadata",
    "reporte-expectations",
)


def _catalog(src_dir: str, host: str, fix_broken: bool) -> dict:
    with open(os.path.join(FIX, "catalog.json")) as fh:
        doc = json.load(fh)
    if fix_broken:
        broken = next(d for d in doc["dataset"] if d["identifier"] == "ds-broken")
        broken.update(
            accrualPeriodicity="R/P1M",
            publisher={"name": "ACME Stats Office"},
            superTheme=["ECON"],
        )
    text = json.dumps(doc).replace("http://example.test/", f"http://{host}/")
    path = os.path.join(src_dir, f"{host}.json")
    with open(path, "w") as fh:
        fh.write(text)
    return {"metadata_path": path}


def _doubled_files(dest: str) -> None:
    """Copies of the fixture workbook and CSV, same file names, every
    observation value doubled."""
    os.makedirs(dest)
    with open(os.path.join(FIX, "files", "wb1.jsonl")) as fh, open(
        os.path.join(dest, "wb1.jsonl"), "w"
    ) as out:
        for line in fh:
            cell = json.loads(line)
            try:
                if cell["col"] != "A":
                    cell["value"] = str(float(cell["value"]) * 2)
            except ValueError:
                pass  # missing tokens and labels stay as they are
            out.write(json.dumps(cell) + "\n")
    with open(os.path.join(FIX, "files", "precios_q.csv")) as fh, open(
        os.path.join(dest, "precios_q.csv"), "w"
    ) as out:
        out.write(fh.readline())
        for line in fh:
            ts, *vals = line.rstrip("\n").split(",")
            vals = [
                str(float(v) * 2) if v.replace(".", "").isdigit() else v
                for v in vals
            ]
            out.write(",".join([ts, *vals]) + "\n")


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _outputs(out_dir: str, cid: str, result: dict) -> dict:
    """Everything a catalog's run leaves, in comparable form: bytes for
    CSVs and data.json, parsed rows for the xlsx files (zip timestamps
    differ run to run), and the result dict minus its report paths."""
    cat_dir = os.path.join(out_dir, "catalog", cid)
    files = _tree(cat_dir)
    return {
        "csvs": {k: v for k, v in files.items() if k.endswith(".csv")},
        "data.json": files["data.json"],
        "catalog.xlsx": read_sheets(os.path.join(cat_dir, "catalog.xlsx")),
        "reports": {
            name: read_sheets(path) for name, path in result["reports"].items()
        },
        "result": {k: v for k, v in result.items() if k != "reports"},
    }


def _run(spark, index, out_dir, resolver, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        results = run_etl(index, out_dir, spark=spark, file_resolver=resolver)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return results, len(sc.statusTracker().getJobIdsForGroup(group))


def _index(src_dir: str) -> dict:
    os.makedirs(src_dir)
    return {
        "a": _catalog(src_dir, "a.test", fix_broken=False),
        "b": _catalog(src_dir, "b.test", fix_broken=True),
    }


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("multi"))
    b_files = os.path.join(root, "b-files")
    _doubled_files(b_files)
    dirs = {"a.test": os.path.join(FIX, "files"), "b.test": b_files}

    def resolver(ref: str) -> str:
        host, name = ref.split("/")[2], ref.rsplit("/", 1)[-1]
        return os.path.join(dirs[host], name)

    yield root, resolver
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def runs(spark, inputs):
    root, resolver = inputs
    index = _index(os.path.join(root, "runs"))
    solo, solo_jobs = {}, 0
    for cid in index:
        out = os.path.join(root, f"solo-{cid}")
        res, jobs = _run(
            spark, {cid: index[cid]}, out, resolver, f"multi-solo-{cid}"
        )
        solo[cid] = _outputs(out, cid, res[cid])
        solo_jobs += jobs
    out = os.path.join(root, "pass")
    res, pass_jobs = _run(spark, index, out, resolver, "multi-pass")
    # one pass launches fewer jobs than both solo runs together; a pass
    # that raised is not re-run per catalog, it costs each catalog an
    # error entry, which the tests below reject
    assert pass_jobs < solo_jobs, (pass_jobs, solo_jobs)
    shared = {cid: _outputs(out, cid, res[cid]) for cid in index}
    return solo, shared, res


@pytest.mark.parametrize("cid", ["a", "b"])
def test_pass_outputs_equal_solo_run(runs, cid):
    solo, shared, res = runs
    assert "error" not in res[cid], res[cid]
    got, want = shared[cid], solo[cid]
    assert sorted(got["reports"]) == list(REPORTS)
    assert got["csvs"] == want["csvs"]
    assert got["data.json"] == want["data.json"]
    assert got["catalog.xlsx"] == want["catalog.xlsx"]
    for name in REPORTS:
        assert got["reports"][name] == want["reports"][name], name
    assert got["result"] == want["result"]


def test_catalogs_do_not_leak_into_each_other(runs):
    """The doubled workbook and CSV reach only catalog b, and only
    catalog a reports its invalid dataset."""
    _solo, shared, _res = runs
    a, b = shared["a"], shared["b"]
    assert a["csvs"].keys() == b["csvs"].keys() and a["csvs"]
    for k in a["csvs"]:
        assert a["csvs"][k] != b["csvs"][k], k
    assert a["result"]["metadata_error_count"] > 0
    assert b["result"]["metadata_error_count"] == 0
    datasets = {
        cid: {
            r["dataset_identifier"]: r["dataset_status"]
            for r in shared[cid]["reports"]["reporte-datasets"][
                "reporte-datasets"
            ]
        }
        for cid in ("a", "b")
    }
    assert datasets["a"] == {
        "ds-energy": "OK", "ds-prices": "OK", "ds-broken": "ERROR"
    }
    assert datasets["b"] == {
        "ds-energy": "OK", "ds-prices": "OK", "ds-broken": "OK"
    }
    assert a["result"]["indicators"]["datasets_ok"] == 2
    assert b["result"]["indicators"]["datasets_ok"] == 3
    published = {
        cid: sorted(d["identifier"] for d in json.loads(shared[cid]["data.json"])["dataset"])
        for cid in ("a", "b")
    }
    assert published == {
        "a": ["ds-energy", "ds-prices"],
        "b": ["ds-broken", "ds-energy", "ds-prices"],
    }


def test_pass_job_count_does_not_grow_with_catalogs(spark, inputs):
    """Two catalogs launch no more jobs than one: each catalog's metadata
    is parsed on the driver and planned as a local relation, so the
    second catalog adds no job. Counted with AQE off: AQE runs
    each query stage as a job and re-plans as stages finish, so with it
    the count also follows row counts and timing, not the plan alone.
    Fresh metadata files keep earlier runs' cached frames out of it; the
    pass runs first so the solo run reuses nothing of it either."""
    root, resolver = inputs
    index = _index(os.path.join(root, "jobs"))
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        res, pass_jobs = _run(
            spark, index, os.path.join(root, "jobs-pass"), resolver,
            "multi-jobs-pass",
        )
        solo, solo_jobs = _run(
            spark, {"a": index["a"]}, os.path.join(root, "jobs-solo"),
            resolver, "multi-jobs-solo",
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "error" not in res["a"] and "error" not in res["b"], res
    assert "error" not in solo["a"], solo
    assert pass_jobs <= solo_jobs, (pass_jobs, solo_jobs)
