"""Driver-side frames of the one-pass ETL are Arrow local relations.

``CatalogPipeline.plan`` builds each metadata frame once, from the
rows the driver parsed, as a ``LocalRelation``, and neither planning,
V1 over the planned rows, the routing rows (F2) nor the K2 write over
its frames runs a Spark job;
the bulk reader's path dimension and the workbook path list are local
relations too, and ``run_etl`` runs no job outside the pass. Arrow
conversion can fall back to a list-built (Python-worker) frame without a
word, so the plan shape is read here from the optimized plan, node by
node.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

import pytest
from pyspark.sql import DataFrame

from series_tiempo_ar_scraping_spark.operators.filters import (
    clean_field_keyspace,
    with_method,
)
from series_tiempo_ar_scraping_spark.plans import pipeline as P
from series_tiempo_ar_scraping_spark.sources.catalog_json import read_catalog_json
from series_tiempo_ar_scraping_spark.sources.cells import extract_cells
from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
    read_distributions_bulk,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
CATALOG = os.path.join(FIX, "catalog.json")
CATALOG_XLSX = os.path.join(FIX, "catalog.xlsx")


def _nodes(plan) -> list:
    """Every node of a JVM logical plan, pre-order."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def _optimized(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan()


def _is_bare_local_relation(df: DataFrame) -> bool:
    return _optimized(df).nodeName() == "LocalRelation"


def _leaves(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(node name, output column names) of every leaf of the plan."""
    leaves = []
    for node in _nodes(_optimized(df)):
        if node.children().isEmpty():
            out = node.output()
            leaves.append(
                (node.nodeName(), [out.apply(i).name() for i in range(out.size())])
            )
    return leaves


def _bare_catalog(tmp_path) -> str:
    """The fixture catalog without ``themeTaxonomy`` and with one
    dataset's ``keyword`` set to null."""
    with open(CATALOG) as fh:
        doc = json.load(fh)
    doc.pop("themeTaxonomy")
    doc["dataset"][0]["keyword"] = None
    path = tmp_path / "bare.json"
    path.write_text(json.dumps(doc))
    return str(path)


def _pipeline(spark, catalogs, tmp_path, **kw) -> P.CatalogPipeline:
    return P.CatalogPipeline(
        spark, catalogs, None, str(tmp_path / "out"), **kw
    )


def test_plan_frames_are_local_relations(spark, tmp_path):
    catalogs = {"acme": CATALOG, "bare": _bare_catalog(tmp_path)}
    frames = _pipeline(spark, catalogs, tmp_path).plan()
    assert sorted(frames) == [
        "catalogs", "datasets", "distributions", "fields", "themes",
    ]
    for name, df in frames.items():
        assert _is_bare_local_relation(df), (name, _leaves(df))
    # a projection or filter folds into the relation: no job needed
    dists = frames["distributions"].filter("method is not null")
    assert _is_bare_local_relation(dists.select("distribution_id"))


def test_plan_frames_equal_the_json_read(spark, tmp_path):
    """Row for row (order included) and column for column, the local
    frames hold what the JSON reader's frames hold, for a catalog with
    no ``themeTaxonomy`` (empty themes) and a null ``keyword``."""
    catalogs = {"acme": CATALOG, "bare": _bare_catalog(tmp_path)}
    parts = [read_catalog_json(spark, p, cid) for cid, p in catalogs.items()]
    read = {
        k: functools.reduce(DataFrame.unionByName, [p[k] for p in parts])
        for k in parts[0]
    }
    read["fields"] = clean_field_keyspace(read["fields"])
    read["distributions"] = with_method(read["distributions"])
    local = _pipeline(spark, catalogs, tmp_path).plan()
    assert sorted(local) == sorted(read)
    for name in read:
        assert local[name].schema == read[name].schema, name
        assert local[name].collect() == read[name].collect(), name
    assert local["themes"].filter("catalog_id = 'bare'").count() == 0
    assert local["themes"].count() == 2
    keywords = {
        (r.catalog_id, r.dataset_id): r.keyword
        for r in local["datasets"].collect()
    }
    assert keywords[("bare", "ds-energy")] is None
    assert keywords[("acme", "ds-energy")] == ["energia", "produccion"]
    assert local["distributions"].count() == 8


def test_plan_collect_is_capped(spark, tmp_path, monkeypatch):
    """The driver-memory cap guards the metadata collect, before any row
    reaches the driver-side relation."""
    monkeypatch.setattr(P, "_ROUTING_COLLECT_CAP", 1)
    with pytest.raises(RuntimeError, match="download_many"):
        _pipeline(spark, {"acme": CATALOG}, tmp_path).plan()


def _group() -> str:
    return f"job-count-{uuid.uuid4().hex}"


def _jobs(spark, fn, *groups: str):
    """``fn()`` and the number of Spark jobs it launched, counted under
    a job group of its own; with ``groups``, also the number of jobs
    ``fn`` launched under each of them (groups it sets itself). Every
    job launched between a start marker job and an end marker job must
    carry one of these groups: a job ``fn`` launched on a thread that
    lost the caller's group fails the count. Job ids grow in submission
    order, and the status tracker learns of jobs through the listener
    bus, in order, so once it lists the end marker it lists every job
    ``fn`` ran."""
    sc = spark.sparkContext
    start, group, marker = _group(), _group(), _group()
    try:
        sc.setJobGroup(start, "job count start")
        spark.range(1).collect()
        sc.setJobGroup(group, "job count")
        out = fn()
        sc.setJobGroup(marker, "job count marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never listed"
        time.sleep(0.05)
    store = sc._jsc.sc().statusStore()
    counted = {group, *groups}
    stray = []
    for jid in range(
        max(tracker.getJobIdsForGroup(start)) + 1,
        min(tracker.getJobIdsForGroup(marker)),
    ):
        job_group = store.job(jid).jobGroup()
        name = None if job_group.isEmpty() else job_group.get()
        if name not in counted:
            stray.append((jid, name))
    assert stray == [], "jobs launched outside the counted groups"
    counts = [len(tracker.getJobIdsForGroup(g)) for g in (group, *groups)]
    return (out, *counts)


def test_plan_and_k2_write_launch_no_job(spark, tmp_path):
    """Planning a JSON and an XLSX catalog parses both on the driver and
    builds local relations; the K2 write over those frames collects and
    re-nests them without a job either."""
    from series_tiempo_ar_scraping_spark.sinks.metadata import (
        write_json_catalog,
    )

    catalogs = {"acme": CATALOG, "xl": CATALOG_XLSX}
    frames, planned = _jobs(
        spark, lambda: _pipeline(spark, catalogs, tmp_path).plan()
    )
    assert planned == 0
    targets = {cid: str(tmp_path / f"{cid}.json") for cid in catalogs}
    written, wrote = _jobs(spark, lambda: write_json_catalog(frames, targets))
    assert wrote == 0
    assert written == list(targets.values())
    with open(targets["xl"], encoding="utf-8") as fh:
        assert len(json.load(fh)["dataset"]) == 3


def test_plan_and_v1_launch_no_job(spark, tmp_path):
    """V1 is Python over the rows of the plan's local relations:
    planning a JSON and an XLSX catalog, collecting its metadata rows
    and validating them runs no Spark job, and the broken fixture
    dataset's error shows in both catalogs."""
    from series_tiempo_ar_scraping_spark.operators.schema_rules import (
        validate_metadata,
    )

    pipe = _pipeline(spark, {"acme": CATALOG, "xl": CATALOG_XLSX}, tmp_path)

    def plan_and_validate():
        frames = pipe.plan()
        return validate_metadata({k: df.collect() for k, df in frames.items()})

    errors, jobs = _jobs(spark, plan_and_validate)
    assert jobs == 0
    assert {
        (e.catalog_id, e.dataset_id, e.rule)
        for e in errors
        if e.rule == "dataset_accrualPeriodicity_format"
    } == {(c, "ds-broken", "dataset_accrualPeriodicity_format")
          for c in ("acme", "xl")}


def test_k2_k3_writes_after_a_run_launch_no_job(spark, tmp_path):
    """After a pass, every frame K2/K3 publish is still a local
    relation (the F1-harvested datasets included), so rewriting the
    catalogs from ``res.frames`` runs no Spark job."""
    from series_tiempo_ar_scraping_spark.sinks.metadata import (
        write_json_catalog,
        write_xlsx_catalog,
    )

    def resolver(ref: str) -> str:
        return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])

    pipe = _pipeline(
        spark, {"acme": CATALOG, "xl": CATALOG_XLSX}, tmp_path,
        file_resolver=resolver,
    )
    try:
        frames = pipe.run().frames
        # ds-broken, invalid in both catalogs, is not published
        assert {
            (r.catalog_id, r.dataset_id) for r in frames["datasets"].collect()
        } == {(c, d) for c in ("acme", "xl") for d in ("ds-energy", "ds-prices")}
        for writer, ext in ((write_json_catalog, "json"), (write_xlsx_catalog, "xlsx")):
            targets = {c: str(tmp_path / f"{c}.{ext}") for c in ("acme", "xl")}
            written, jobs = _jobs(spark, lambda: writer(frames, targets))
            assert (ext, jobs) == (ext, 0)
            assert written == list(targets.values())
    finally:
        pipe.unpersist()


def test_reader_frames_are_local_relations(spark, tmp_path):
    """The workbook path list under ``extract_cells`` and the bulk
    reader's path dimension are local relations, not list-built RDDs."""
    wb = os.path.join(FIX, "files", "wb1.jsonl")
    cell_leaves = _leaves(extract_cells(spark, [wb], by_path=True))
    assert cell_leaves == [("LocalRelation", ["path"])]

    csv = os.path.join(FIX, "files", "precios_q.csv")
    obs, errors = read_distributions_bulk(
        spark, [("acme", "ds-prices", "2.1", csv)]
    )
    assert errors == []
    leaves = _leaves(obs)
    dims = [cols for name, cols in leaves if "catalog_id" in cols]
    assert dims == [["abspath", "catalog_id", "dataset_id", "distribution_id"]]
    assert ("LocalRelation", dims[0]) in leaves
    assert all(name in ("LocalRelation", "LogicalRelation") for name, _c in leaves)


@pytest.mark.parametrize(
    "dist_id, ref",
    [
        ("2.1", "http://example.test/files/precios_q.csv"),
        ("1.1", "http://example.test/files/wb1.jsonl"),
    ],
)
def test_unresolvable_file_records_a_reason(spark, tmp_path, dist_id, ref):
    """A file the resolver cannot produce costs its distribution an
    ERROR row and a ``processor_errors`` reason, on the CSV route (a
    missing path) and on the workbook route (``None``, as a failed
    download gives)."""

    def resolver(r: str) -> str | None:
        if r.endswith(".jsonl"):
            return None
        return str(tmp_path / "missing" / r.rsplit("/", 1)[-1])

    ds = "ds-prices" if dist_id == "2.1" else "ds-energy"
    res = P.CatalogPipeline(
        spark, CATALOG, "acme", str(tmp_path / "out"),
        file_resolver=resolver, distribution_id_filter=dist_id,
    ).run()
    assert res.processor_errors == [
        ("acme", ds, dist_id, f"file not found: {ref}")
    ]
    assert [tuple(r) for r in res.distribution_report] == [
        ("acme", ds, dist_id, "ERROR")
    ]


def test_routing_rows_launch_no_job(spark, tmp_path):
    """F2 over the plan's frames filters rows the driver holds: building
    it and collecting its routing rows runs no Spark job."""
    from series_tiempo_ar_scraping_spark.operators.filters import (
        time_series_distributions,
    )

    frames = _pipeline(spark, {"acme": CATALOG, "xl": CATALOG_XLSX}, tmp_path).plan()
    routed, jobs = _jobs(
        spark,
        lambda: time_series_distributions(
            frames["distributions"], frames["fields"]
        ).collect(),
    )
    assert jobs == 0
    # 1.4 has no time-index field in either catalog
    assert sorted((r.catalog_id, r.distribution_id) for r in routed) == [
        (c, d) for c in ("acme", "xl") for d in ("1.1", "1.2", "1.3", "2.1")
    ]


def test_run_etl_launches_no_job_outside_the_pass(spark, tmp_path, monkeypatch):
    """Every Spark job of ``run_etl`` runs inside ``CatalogPipeline.run``:
    the report workbooks, the EP1 contract report included, are built
    from the rows the pass returns, and V1 is Python over the plan's
    rows. The pass's background actions (cells fill, status-event
    collect) keep the caller's job group: ``_jobs`` fails on any job of
    the run outside the counted groups."""
    from series_tiempo_ar_scraping_spark.main import run_etl

    sc = spark.sparkContext
    inside, outside = _group(), _group()
    run = P.CatalogPipeline.run

    def grouped_run(self):
        sc.setJobGroup(inside, "pass")
        try:
            return run(self)
        finally:
            sc.setJobGroup(outside, "after the pass")

    monkeypatch.setattr(P.CatalogPipeline, "run", grouped_run)

    def resolver(ref: str) -> str:
        return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])

    index = {
        "acme": {"metadata_path": CATALOG},
        "xl": {"metadata_path": CATALOG_XLSX},
    }
    results, before, in_pass, after = _jobs(
        spark,
        lambda: run_etl(
            index, str(tmp_path / "out"), spark=spark, file_resolver=resolver
        ),
        inside,
        outside,
    )
    assert (before, after) == (0, 0)
    assert in_pass > 0
    assert {cid: r["contract_violations"] for cid, r in results.items()} == {
        "acme": 0, "xl": 0,
    }
