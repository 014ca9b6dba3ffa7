"""Fleet-scale downloader (SURVEY S1's 100 TB shape) + routing-collect cap.

``download_many`` runs the S1 retry/skip semantics executor-side over a
URL task frame and reports every outcome as a status row (V7). The
transport is injected so no network is touched.
"""

from __future__ import annotations

import os

import pytest

from series_tiempo_ar_scraping_spark.sources.landing import download_many


def _tasks(spark, tmp_path, n=12):
    rows = [
        (f"https://example.test/f{i}.csv", str(tmp_path / f"f{i}.csv"))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, file_path string"), rows


def _expected(url: str) -> bytes:
    # driver-side twin of the injected fetcher, for assertions
    return f"payload-for:{url}".encode()


def _make_fetch():
    # defined as a NESTED function so cloudpickle ships it by value —
    # a test-module-level function would pickle by reference and fail
    # to import on executors
    def fetch(url: str) -> bytes:
        return f"payload-for:{url}".encode()

    return fetch


def test_download_many_writes_files_and_reports(spark, tmp_path):
    tasks, rows = _tasks(spark, tmp_path)
    out = {
        r.url: r
        for r in download_many(tasks, fetch=_make_fetch()).collect()
    }
    assert len(out) == 12
    for url, path in rows:
        r = out[url]
        assert r.ok and r.attempts == 1 and r.error is None
        assert r.n_bytes == len(_expected(url))
        with open(path, "rb") as fh:
            assert fh.read() == _expected(url)
    # atomic rename: no temp artifacts of any suffix left behind
    import glob

    assert glob.glob(str(tmp_path / "*.part*")) == []


def test_download_many_failures_are_rows_not_exceptions(spark, tmp_path):
    def flaky(url: str) -> bytes:
        if "f3" in url or "f7" in url:
            raise OSError(f"connection refused: {url}")
        return f"payload-for:{url}".encode()

    tasks, _ = _tasks(spark, tmp_path)
    out = {
        r.url: r
        for r in download_many(
            tasks, fetch=flaky, tries=2, retry_delay=0.0
        ).collect()
    }
    bad = [r for r in out.values() if not r.ok]
    assert len(bad) == 2
    for r in bad:
        assert r.attempts == 2  # exhausted retries
        assert "connection refused" in r.error
        assert r.n_bytes is None
        assert not os.path.exists(r.file_path)
    assert sum(1 for r in out.values() if r.ok) == 10


def test_download_many_skip_if_exists(spark, tmp_path):
    tasks, rows = _tasks(spark, tmp_path, n=4)
    pre = tmp_path / "f1.csv"
    pre.write_bytes(b"old-bytes")
    out = {
        r.url: r
        for r in download_many(
            tasks, replace=False, fetch=_make_fetch()
        ).collect()
    }
    skipped = out["https://example.test/f1.csv"]
    assert skipped.ok and skipped.attempts == 0 and skipped.error is None
    assert skipped.n_bytes == len(b"old-bytes")
    assert pre.read_bytes() == b"old-bytes"  # untouched (V8)
    fresh = out["https://example.test/f0.csv"]
    assert fresh.ok and fresh.attempts == 1


def test_download_many_retries_then_succeeds(spark, tmp_path):
    marker = str(tmp_path / "marker")

    def flaky_once(url: str) -> bytes:
        if not os.path.exists(marker):
            with open(marker, "wb"):
                pass
            raise OSError("transient")
        return f"payload-for:{url}".encode()

    tasks = spark.createDataFrame(
        [("https://example.test/one.csv", str(tmp_path / "one.csv"))],
        "url string, file_path string",
    )
    (r,) = download_many(
        tasks, fetch=flaky_once, tries=3, retry_delay=0.0, n_partitions=1
    ).collect()
    assert r.ok and r.attempts == 2


def test_download_many_partition_by_host_plan(spark, tmp_path):
    """Host partitioning must be a hash repartition on parse_url(HOST)."""
    tasks, _ = _tasks(spark, tmp_path)
    df = download_many(tasks, partition_by_host=True, fetch=_make_fetch())
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    # Spark 4 compiles parse_url to ParseUrlEvaluator; accept either form
    assert "hashpartitioning(" in p
    assert "parse_url" in p or "ParseUrl" in p


def test_routing_collect_cap(spark, monkeypatch, tmp_path):
    """The cap bounds each metadata entity's parsed rows: the fixture's
    largest entity (10 fields) passes a cap of 10 and fails one of 9,
    with a message naming the entity and the fleet path."""
    from series_tiempo_ar_scraping_spark.plans import pipeline as P

    catalog = os.path.join(os.path.dirname(__file__), "fixtures", "catalog.json")

    def plan():
        return P.CatalogPipeline(spark, catalog, "acme", str(tmp_path)).plan()

    monkeypatch.setattr(P, "_ROUTING_COLLECT_CAP", 10)
    assert plan()["fields"].count() == 10
    monkeypatch.setattr(P, "_ROUTING_COLLECT_CAP", 9)
    with pytest.raises(
        RuntimeError, match="metadata frame 'fields' exceeds 9 rows.*download_many"
    ):
        plan()
