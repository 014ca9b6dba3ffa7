"""CLI (EP1), reports/mail sinks (K4/K6), and V8 replace semantics."""

from __future__ import annotations

import datetime as dt
import json
import os

from series_tiempo_ar_scraping_spark.main import read_config, run_etl
from series_tiempo_ar_scraping_spark.sinks.reports import (
    build_message,
    build_subject,
    send_email,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _resolver(ref: str) -> str:
    return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])


def test_custom_steps_hook(tmp_path):
    from series_tiempo_ar_scraping_spark.main import run_custom_steps

    out = tmp_path / "out"
    out.mkdir()
    script = tmp_path / "steps.sh"
    script.write_text('echo "ran" > "$OUTPUT_DIR/marker.txt"\n')
    assert run_custom_steps(str(out), str(script)) == 0
    assert (out / "marker.txt").read_text().strip() == "ran"
    bad = tmp_path / "bad.sh"
    bad.write_text("exit 3\n")
    assert run_custom_steps(str(out), str(bad)) == 3


def test_run_etl_releases_its_cached_frames(spark, tmp_path):
    """A pass unpersists the frames it cached, and only those: a
    long-lived session must not keep each pass's metadata, observations
    and reports, nor lose a cache the caller holds on the same plans."""
    from pyspark import StorageLevel

    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    path = os.path.join(FIX, "catalog.json")
    # a catalog id no other test caches frames under
    index = {"released": {"metadata_path": path}}
    out = str(tmp_path / "out")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    # compare ids, not counts: the context cleaner may drop RDDs that
    # earlier tests left behind while the pass runs
    before = set(persistent().keys())
    results = run_etl(index, out, spark=spark, file_resolver=_resolver)
    assert results["released"]["written"] == 5
    assert set(persistent().keys()) <= before

    held = CatalogPipeline(
        spark, path, "released", str(tmp_path / "held"), file_resolver=_resolver
    )
    res = held.run()
    mine = [*res.frames.values(), res.observations]
    cached = [df for df in mine if df.storageLevel != StorageLevel.NONE]
    try:
        run_etl(index, out, spark=spark, file_resolver=_resolver)
        # the metadata frames are local relations, never cached; every
        # frame the held pipeline does cache stays cached
        assert cached
        assert all(df.storageLevel != StorageLevel.NONE for df in cached)
    finally:
        held.unpersist()


def test_run_etl_from_index(spark, tmp_path):
    index = read_config(os.path.join(FIX, "index.yaml"))["catalogs"]
    index["acme"]["metadata_path"] = os.path.join(FIX, "catalog.json")
    out = str(tmp_path / "out")
    results = run_etl(index, out, spark=spark, file_resolver=_resolver)
    assert results["acme"]["indicators"]["distributions"] == 4
    # 3 distribution CSVs + data.json + catalog.xlsx (K1 + K2/K3)
    assert results["acme"]["written"] == 5
    # K4/K5 report workbooks exist and read back via the stdlib parser
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    # reports are keyed by workbook name (never positional — ADVICE r8)
    assert sorted(results["acme"]["reports"]) == [
        "reporte-datasets",
        "reporte-distributions",
        "reporte-errores-metadata",
        "reporte-expectations",
    ]
    for path in results["acme"]["reports"].values():
        assert os.path.exists(path)
    dist_rep = read_sheets(
        results["acme"]["reports"]["reporte-distributions"]
    )
    assert len(dist_rep["reporte-distributions"]) == 4
    # EP1 — the data-contract suite ran inside the pipeline and
    # exported through the K4 channel; a clean fixture passes every
    # contract on both produced frames
    exp_rep = read_sheets(results["acme"]["reports"]["reporte-expectations"])
    rows = exp_rep["reporte-expectations"]
    assert results["acme"]["contract_violations"] == 0
    checked = {(r["table_name"], r["check"]) for r in rows}
    assert ("observations", "not_null") in checked
    assert ("dataset_report", "accepted_values") in checked
    assert all(str(r["n_violations"]) == "0" for r in rows)
    assert os.path.exists(os.path.join(out, "catalog", "acme", "data.json"))
    assert os.path.exists(os.path.join(out, "catalog", "acme", "catalog.xlsx"))

    # V8: second run with replace=False rewrites no distribution CSVs;
    # metadata republishes every run (base.py:489-504 runs unconditionally)
    results2 = run_etl(
        index, out, spark=spark, file_resolver=_resolver, replace=False
    )
    assert results2["acme"]["written"] == 2

    # EP2 metadata-only path
    meta = run_etl(
        index, str(tmp_path / "meta"), spark=spark, metadata_only=True
    )
    assert meta["acme"] == {"datasets": 3, "distributions": 4}

    # F4 catalog filter skips everything else
    assert run_etl(index, out, spark=spark, catalog_id_filter="nope") == {}


def test_report_csv_and_mail(tmp_path):
    path = str(tmp_path / "reporte-datasets.xlsx")

    # X7/X9 subject semantics: env tag unless prod
    at = dt.datetime(2024, 6, 30, 14, 5)
    assert (
        build_subject("acme", "scraping", "staging", at)
        == "[staging] acme - scraping: 30/06/2024 14:05"
    )
    assert build_subject("acme", "scraping", "prod", at).startswith("acme - ")

    mail = send_email(
        build_subject("acme", "extraccion", "dev", at),
        build_message({"datasets": 2, "datasets_ok": 2}),
        ["ops@acme.test"],
        attachments=[path],
        dry_run=True,
    )
    assert mail["recipients"] == ["ops@acme.test"]
    assert "datasets_ok: 2" in mail["message"]


def test_etl_stage_group_emails(spark, tmp_path):
    """K6 orchestration: a configured catalog gets TWO dry-run stage
    emails (extraccion, then scraping) with the stage's attachment
    manifest and env-tagged subjects (reference base.py:745-817 senders,
    invoked at base.py:1058-1066 and 1121-1130); an unconfigured catalog
    is skipped with a warning, not an error."""
    index = {
        "acme": {"metadata_path": os.path.join(FIX, "catalog.json")},
        "acme2": {"metadata_path": os.path.join(FIX, "catalog.json")},
    }
    email_config = {
        "mailer": {"host": "smtp.test", "port": 465, "ssl": True,
                   "user": "etl@test", "password": "x"},
        "extraccion": {"acme": {"destinatarios": ["val@acme.test"]}},
        "scraping": {
            "acme": {"destinatarios": ["ops@acme.test", "dba@acme.test"]},
            # configured but empty recipient list → skip-with-warning
            "acme2": {"destinatarios": []},
        },
    }
    results = run_etl(
        index, str(tmp_path / "out"), spark=spark, file_resolver=_resolver,
        email_config=email_config, environment="staging",
    )
    mails = results["acme"]["emails"]
    assert [m["stage"] for m in mails] == ["extraccion", "scraping"]
    val, scr = mails
    assert val["recipients"] == ["val@acme.test"]
    assert val["subject"].startswith("[staging] acme - Validación: ")
    # fixture catalog carries 3 deliberate metadata errors (the K5
    # errors-report fixtures) → validation body reports them
    assert "tiene errores (3)" in val["message"]
    assert sorted(os.path.basename(p) for p in val["attachments"]) == [
        "reporte-datasets.xlsx", "reporte-errores-metadata.xlsx",
    ]
    assert scr["recipients"] == ["ops@acme.test", "dba@acme.test"]
    assert scr["subject"].startswith("[staging] acme - Scraping: ")
    assert "distributions: 4" in scr["message"]
    assert sorted(os.path.basename(p) for p in scr["attachments"]) == [
        "reporte-datasets.xlsx", "reporte-distributions.xlsx",
        "reporte-expectations.xlsx",
    ]
    # acme2: no extraccion entry + empty scraping recipients → no mail,
    # but the catalog itself processed fine
    assert "emails" not in results["acme2"]
    assert results["acme2"]["written"] > 0


def test_send_email_reference_config_keys(tmp_path, monkeypatch):
    """Live-send accepts the reference config_email.yaml mailer spelling
    (smtp_server + user, no host/from — tests/project/config/
    config_email.yaml; base.py:710,731,738-739): endpoint resolves from
    smtp_server and the From/envelope sender falls back to user."""
    import smtplib

    sent = {}

    class FakeSMTP:
        def __init__(self, host, port):
            sent["host"], sent["port"] = host, port

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def login(self, user, password):
            sent["login"] = (user, password)

        def sendmail(self, sender, recipients, payload):
            sent["sender"] = sender
            sent["recipients"] = recipients
            sent["payload"] = payload

    monkeypatch.setattr(smtplib, "SMTP_SSL", FakeSMTP)
    att = tmp_path / "reporte-datasets.xlsx"
    att.write_bytes(b"xlsxbytes")
    send_email(
        "subj", "body", ["jane@example.com"], attachments=[str(att)],
        smtp_config={"user": "foo", "password": "bar",
                     "smtp_server": "smtp.example.com", "port": 587,
                     "ssl": True},
        dry_run=False,
    )
    assert sent["host"] == "smtp.example.com" and sent["port"] == 587
    assert sent["login"] == ("foo", "bar")
    assert sent["sender"] == "foo"  # From falls back to mailer user
    assert sent["recipients"] == ["jane@example.com"]
    assert "From: foo" in sent["payload"]


def test_etl_email_send_failure_isolated(spark, tmp_path, monkeypatch, caplog):
    """One failing SMTP send must not crash run_etl or discard the run's
    results (reference logs-and-continues, base.py:738-743): the error is
    recorded per catalog under email_errors and processing results stay."""
    import logging

    from series_tiempo_ar_scraping_spark.sinks import reports as reports_mod

    def boom(*a, **k):
        raise OSError("connection refused")

    monkeypatch.setattr(reports_mod, "send_group_email", boom)
    index = {"acme": {"metadata_path": os.path.join(FIX, "catalog.json")}}
    email_config = {
        "mailer": {"smtp_server": "smtp.test", "port": 587, "ssl": True,
                   "user": "etl@test", "password": "x"},
        "extraccion": {"acme": {"destinatarios": ["val@acme.test"]}},
        "scraping": {"acme": {"destinatarios": ["ops@acme.test"]}},
    }
    with caplog.at_level(logging.WARNING):
        results = run_etl(
            index, str(tmp_path / "out"), spark=spark,
            file_resolver=_resolver, email_config=email_config,
        )
    r = results["acme"]
    assert r["written"] > 0  # pipeline results survived the SMTP failure
    assert "emails" not in r
    # both stage attempts recorded, neither escaped run_etl
    assert r["email_errors"] == [repr(OSError("connection refused"))] * 2
    assert any("email send failed" in rec.message for rec in caplog.records)


def test_send_group_email_skip_paths(tmp_path, caplog):
    """Skip-with-warning unit semantics (base.py:750-756,767-770), plus
    missing-attachment filtering (base.py:725-727)."""
    import logging

    from series_tiempo_ar_scraping_spark.sinks.reports import (
        send_group_email,
    )

    cfg = {"scraping": {"c1": {"destinatarios": ["a@b.test"]}}}
    with caplog.at_level(logging.WARNING):
        # unknown catalog → None + warning
        assert send_group_email("nope", "scraping", cfg, "m", []) is None
        # no config at all → None
        assert send_group_email("c1", "extraccion", cfg, "m", []) is None
        # known catalog, one existing + one vanished report: only the
        # existing file in the stage manifest is attached
        real = tmp_path / "reporte-datasets.xlsx"
        real.write_bytes(b"x")
        mail = send_group_email(
            "c1", "scraping", cfg, "m",
            [str(real), str(tmp_path / "reporte-distributions.xlsx"),
             str(tmp_path / "reporte-errores-metadata.xlsx")],
        )
    assert mail["attachments"] == [str(real)]
    assert any("skipping" in r.message for r in caplog.records)
    assert any("not attached" in r.message for r in caplog.records)


def test_download_interactive_and_proxies(tmp_path, monkeypatch):
    """--interactive reuses landed files (base.py:922-925); proxies flow
    from download_config to the HTTP client (download.py:24-27)."""
    from series_tiempo_ar_scraping_spark.sources import landing

    calls = []

    class FakeResp:
        content = b"remote-bytes"

        def raise_for_status(self):
            pass

    class FakeRequests:
        @staticmethod
        def get(url, timeout=None, verify=None, proxies=None):
            calls.append({"url": url, "proxies": proxies, "verify": verify})
            return FakeResp()

    monkeypatch.setitem(
        __import__("sys").modules, "requests", FakeRequests
    )

    target = str(tmp_path / "landed" / "f.csv")
    proxies = {"http": "http://proxy.test:3128", "https": "http://proxy.test:3128"}
    out = landing.download_to_file(
        "http://example.test/f.csv", target, replace=True, proxies=proxies
    )
    assert open(out, "rb").read() == b"remote-bytes"
    assert calls[-1]["proxies"] == proxies

    # interactive semantics = replace False: landed file short-circuits
    n = len(calls)
    landing.download_to_file(
        "http://example.test/f.csv", target, replace=False, proxies=proxies
    )
    assert len(calls) == n  # no new HTTP call


def test_parallel_catalogs(spark, tmp_path):
    """Two catalogs processed in one pipeline pass each get their own
    result and output subtree."""
    import os

    from series_tiempo_ar_scraping_spark.main import run_etl

    fix = os.path.join(os.path.dirname(__file__), "fixtures")

    def resolver(ref):
        return os.path.join(fix, "files", ref.rsplit("/", 1)[-1])

    index = {
        "acme": {"metadata_path": os.path.join(fix, "catalog.json")},
        "acme2": {"metadata_path": os.path.join(fix, "catalog.json")},
    }
    out = str(tmp_path / "par")
    results = run_etl(index, out, spark=spark, file_resolver=resolver)
    assert set(results) == {"acme", "acme2"}
    for cid in ("acme", "acme2"):
        assert "error" not in results[cid], results[cid]
        assert results[cid]["written"] > 0
        assert os.path.isdir(os.path.join(out, "catalog", cid))
        assert os.path.isdir(os.path.join(out, "reports", cid))


def test_catalog_failure_is_isolated(spark, tmp_path):
    """A broken catalog records an error summary; the good one still
    completes (V7 at the catalog level — the reference aborts the run)."""
    import os

    from series_tiempo_ar_scraping_spark.main import run_etl

    fix = os.path.join(os.path.dirname(__file__), "fixtures")

    def resolver(ref):
        return os.path.join(fix, "files", ref.rsplit("/", 1)[-1])

    # a data.json that is not JSON is a parse failure, not an empty catalog
    notjson = tmp_path / "notjson.json"
    notjson.write_text("{not json")
    index = {
        "good": {"metadata_path": os.path.join(fix, "catalog.json")},
        "broken": {"metadata_path": str(tmp_path / "nope.json")},
        "notjson": {"metadata_path": str(notjson)},
    }
    results = run_etl(
        index, str(tmp_path / "out"), spark=spark, file_resolver=resolver
    )
    assert "error" in results["broken"]
    assert "JSONDecodeError" in results["notjson"]["error"]
    assert results["good"]["written"] > 0


def _faulted_index(root) -> tuple[dict, object]:
    """One clean catalog and five that each carry one bad input file: a
    missing workbook, a corrupt workbook, non-dates in the CSV's time
    index, a CSV line one field wider than its header, and a workbook
    whose ``trimestral`` sheet lost its time column (column A from row
    3 on), which leaves 1.2 no observations but a V6 trim event."""
    with open(os.path.join(FIX, "catalog.json")) as fh:
        doc = fh.read()
    with open(os.path.join(FIX, "files", "precios_q.csv")) as fh:
        csv_text = fh.read()
    with open(os.path.join(FIX, "files", "wb1.jsonl")) as fh:
        cells = [json.loads(ln) for ln in fh]
    untimed = "".join(
        json.dumps(c) + "\n"
        for c in cells
        if (c["sheet"], c["col"]) != ("trimestral", "A") or c["row"] < 3
    )
    line = "2020-04-01,104.0,90.1\n"
    plant = {
        "clean": {},
        "nowb": {},
        "badwb": {"wb1.xlsx": b"PK\x03\x04 not a workbook"},
        # two non-dates: both lines land on one null ts
        "baddate": {
            "precios_q.csv": csv_text.replace("2020-04-01", "abril 2020")
            .replace("2020-07-01", "julio 2020")
        },
        "wide": {"precios_q.csv": csv_text.replace(line, line[:-1] + ",\n")},
        "notime": {"wb1.jsonl": untimed},
    }
    index = {}
    for cid, files in plant.items():
        d = root / cid
        d.mkdir()
        for name, data in files.items():
            mode = "wb" if isinstance(data, bytes) else "w"
            with open(d / name, mode) as fh:
                fh.write(data)
        text = doc.replace("http://example.test/", f"http://{cid}.test/")
        if cid == "badwb":
            text = text.replace("wb1.jsonl", "wb1.xlsx")
        (d / "catalog.json").write_text(text)
        index[cid] = {"metadata_path": str(d / "catalog.json")}

    def resolver(ref: str) -> str:
        cid, name = ref.split("/")[2][: -len(".test")], ref.rsplit("/", 1)[-1]
        missing = (cid, name) == ("nowb", "wb1.jsonl")
        if missing or (root / cid / name).exists():
            return str(root / cid / name)
        return os.path.join(FIX, "files", name)

    return index, resolver


def _statuses(result: dict) -> list[tuple[str, str]]:
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    rows = read_sheets(result["reports"]["reporte-distributions"])[
        "reporte-distributions"
    ]
    return sorted(
        (r["distribution_identifier"], r["distribution_status"]) for r in rows
    )


def _catalog_tree(out: str, cid: str) -> dict:
    """A catalog's output files: bytes, except the xlsx, read back (zip
    timestamps differ run to run)."""
    from series_tiempo_ar_scraping_spark.sources.xlsx import read_sheets

    root = os.path.join(out, "catalog", cid)
    tree = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            key = os.path.relpath(p, root)
            if f.endswith(".xlsx"):
                tree[key] = read_sheets(p)
            else:
                with open(p, "rb") as fh:
                    tree[key] = fh.read()
    return tree


def test_bad_input_files_cost_error_rows_in_one_pass(
    spark, tmp_path, monkeypatch
):
    """V7 at distribution level: five bad input files, spread over five
    catalogs of one pass, each cost their distributions one ERROR row.
    The pass runs once and raises nothing, every other distribution keeps
    the clean catalog's status, every CSV written stays rectangular, and
    the clean catalog's outputs equal its run alone."""
    import csv

    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    (tmp_path / "in").mkdir()
    index, resolver = _faulted_index(tmp_path / "in")
    solo_out = str(tmp_path / "solo")
    solo = run_etl(
        {"clean": index["clean"]}, solo_out, spark=spark, file_resolver=resolver
    )

    calls = []
    run = CatalogPipeline.run

    def counted(self):
        calls.append(sorted(self.catalogs))
        return run(self)

    monkeypatch.setattr(CatalogPipeline, "run", counted)
    out = str(tmp_path / "out")
    results = run_etl(index, out, spark=spark, file_resolver=resolver)

    assert calls == [sorted(index)]
    assert all("error" not in r for r in results.values()), results
    clean = dict(_statuses(results["clean"]))
    assert _statuses(results["clean"]) == _statuses(solo["clean"])
    faulted = {
        "nowb": {"1.1", "1.2", "1.3"},
        "badwb": {"1.1", "1.2", "1.3"},
        "baddate": {"2.1"},
        "wide": {"2.1"},
        "notime": {"1.2"},
    }
    for cid, bad in faulted.items():
        rows = _statuses(results[cid])
        assert [d for d, _s in rows] == sorted(clean), (cid, rows)
        for dist, status in rows:
            want = "ERROR" if dist in bad else clean[dist]
            assert status == want, (cid, dist, status)

    for dirpath, _dirs, files in os.walk(os.path.join(out, "catalog")):
        for f in files:
            if f.endswith(".csv"):
                with open(os.path.join(dirpath, f), newline="") as fh:
                    lines = list(csv.reader(fh))
                assert lines and all(
                    len(row) == len(lines[0]) for row in lines
                ), (dirpath, f, lines)

    assert _catalog_tree(out, "clean") == _catalog_tree(solo_out, "clean")


def test_pass_with_no_observation_frame(spark, tmp_path):
    """One filtered pass (distribution 2.1) in which no reader yields a
    frame: ``acme``'s CSV resolves to a missing file, and ``nots`` has no
    time-series distribution. ``acme`` still reports 2.1 as ERROR and
    counts it in its indicators; ``nots`` gets no distribution report,
    no indicators; neither writes a CSV."""
    with open(os.path.join(FIX, "catalog.json")) as fh:
        doc = json.load(fh)
    for ds in doc["dataset"]:
        for dist in ds["distribution"]:
            for f in dist["field"]:
                f.pop("specialType", None)
    (tmp_path / "nots.json").write_text(json.dumps(doc))
    index = {
        "acme": {"metadata_path": os.path.join(FIX, "catalog.json")},
        "nots": {"metadata_path": str(tmp_path / "nots.json")},
    }

    def resolver(ref: str) -> str:
        return str(tmp_path / "missing" / ref.rsplit("/", 1)[-1])

    out = str(tmp_path / "out")
    results = run_etl(
        index, out, spark=spark, file_resolver=resolver,
        distribution_id_filter="2.1",
    )
    assert _statuses(results["acme"]) == [("2.1", "ERROR")]
    ind = results["acme"]["indicators"]
    assert (ind["distributions"], ind["distributions_error"]) == (1, 1)
    assert "reporte-distributions" not in results["nots"]["reports"]
    assert results["nots"]["indicators"] == {}
    assert [
        f
        for _dir, _sub, files in os.walk(out)
        for f in files
        if f.endswith(".csv")
    ] == []


def test_raising_pass_costs_each_catalog_an_error_entry(
    spark, tmp_path, monkeypatch
):
    """Should the one pass raise, each of its catalogs gets an ``error``
    entry, the pass is not re-run per catalog, and run_etl returns."""
    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline

    calls = []

    def boom(self):
        calls.append(sorted(self.catalogs))
        raise RuntimeError("pass failed")

    monkeypatch.setattr(CatalogPipeline, "run", boom)
    path = os.path.join(FIX, "catalog.json")
    index = {
        "a": {"metadata_path": path},
        "b": {"metadata_path": path},
        "gone": {"metadata_path": str(tmp_path / "nope.json")},
    }
    results = run_etl(
        index, str(tmp_path / "out"), spark=spark, file_resolver=_resolver
    )
    assert calls == [["a", "b"]]
    assert list(results) == ["a", "b", "gone"]
    assert results["a"] == results["b"] == {
        "error": repr(RuntimeError("pass failed"))
    }
    assert "error" in results["gone"]


# --- CLI flag parity vs the reference contract ------------------------------


def test_cli_flag_parity_with_reference():
    """The Click surface must stay a SUPERSET of the reference's six
    options (reference ``main.py:41-67``) with matching semantics:
    --replace defaults True, the two id filters default None, and
    --interactive is an on/off flag defaulting off. Pinned so a CLI
    refactor can't silently drop or re-default a reference option."""
    import click

    from series_tiempo_ar_scraping_spark.main import cli

    opts = {
        p.name: p
        for p in cli.params
        if isinstance(p, click.Option)
    }
    # the reference's exact option set (by Click parameter name)
    reference_contract = {
        "config_path": None,  # --config (required here; reference defaults
        #                       to its packaged config dir, which we don't
        #                       ship — an explicit path is the strict form)
        "log_level": None,
        "replace": True,
        "catalog_id_filter": None,
        "distribution_id_filter": None,
        "interactive": False,
    }
    missing = set(reference_contract) - set(opts)
    assert not missing, f"reference CLI options dropped: {missing}"
    assert opts["replace"].default is True  # reference main.py:53-56
    assert opts["catalog_id_filter"].default is None
    assert opts["distribution_id_filter"].default is None
    assert opts["interactive"].default is False
    assert opts["interactive"].is_flag or opts["interactive"].secondary_opts
    # declared flag spellings stay the reference's kebab-case forms
    spellings = {o for p in cli.params for o in p.opts}
    for flag in (
        "--config",
        "--log-level",
        "--replace",
        "--catalog-id-filter",
        "--distribution-id-filter",
        "--interactive",
    ):
        assert flag in spellings, flag


def test_ok_percentage_rounds_like_spark(spark):
    """A4 — the indicator percentage equals Spark's
    ``round(100.0 * ok / n, 3)`` (HALF_UP on the double's shortest
    decimal) for every 0 <= ok <= n <= 300, n >= 1; Python's ``round``
    differs on some of these pairs."""
    from pyspark.sql import functions as F

    from series_tiempo_ar_scraping_spark.sinks.reports import ok_percentage

    pairs = (
        spark.range(1, 301).withColumnRenamed("id", "n")
        .crossJoin(spark.range(0, 301).withColumnRenamed("id", "ok"))
        .filter("ok <= n")
        .select("ok", "n", F.round(100.0 * F.col("ok") / F.col("n"), 3).alias("pct"))
        .collect()
    )
    assert len(pairs) == 300 * 303 // 2
    assert [r.pct for r in pairs] == [ok_percentage(r.ok, r.n) for r in pairs]
    assert any(round(100.0 * r.ok / r.n, 3) != r.pct for r in pairs)
