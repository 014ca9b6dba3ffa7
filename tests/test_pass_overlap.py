"""The pass's background Spark actions (``plans/pipeline.py``).

``CatalogPipeline.run`` runs two actions beside the rest of the pass:
the workbook cells cache fill and the status-event collect. An exception raised by one re-raises in ``run``,
``run_etl`` turns it into an ``error`` entry per catalog like any other
failed pass, and no thread the pass started is alive once ``run``
returns or raises, even when the main thread raised first. K1 reads a
cells cache that is already full: no two jobs race to fill it.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from series_tiempo_ar_scraping_spark.main import run_etl
from series_tiempo_ar_scraping_spark.plans import pipeline as P

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
CATALOGS = {
    "acme": os.path.join(FIX, "catalog.json"),
    "xl": os.path.join(FIX, "catalog.xlsx"),
}


def _resolver(ref: str) -> str:
    return os.path.join(FIX, "files", ref.rsplit("/", 1)[-1])


def _pipeline(spark, tmp_path) -> P.CatalogPipeline:
    return P.CatalogPipeline(
        spark, CATALOGS, None, str(tmp_path / "out"), file_resolver=_resolver
    )


def _run_and_release(pipe: P.CatalogPipeline):
    try:
        return pipe.run()
    finally:
        pipe.unpersist()


class Boom(Exception):
    pass


def _raise(exc: BaseException):
    raise exc


class _StatusRows:
    """Stands in for the V4 frame, so the status events (V4 rows plus
    the V5/V6 events unioned onto them) collect through ``collect``."""

    def __init__(self, collect):
        self.collect = collect

    def select(self, *_cols):
        return self

    def unionByName(self, _other, **_kw):
        return self


def test_background_error_raises_in_run_and_run_etl(spark, tmp_path, monkeypatch):
    """The status-event collect raising on its thread raises that same
    exception in ``run``; ``run_etl`` gives every catalog of the pass an
    ``error`` entry; no thread started by either pass is left alive."""
    boom = Boom("status collect failed")
    monkeypatch.setattr(
        P, "validate_observations",
        lambda obs: _StatusRows(lambda: _raise(boom)),
    )
    before = set(threading.enumerate())
    with pytest.raises(Boom) as raised:
        _run_and_release(_pipeline(spark, tmp_path))
    assert raised.value is boom
    assert set(threading.enumerate()) <= before

    index = {cid: {"metadata_path": p} for cid, p in CATALOGS.items()}
    results = run_etl(
        index, str(tmp_path / "etl"), spark=spark, file_resolver=_resolver
    )
    assert results == {cid: {"error": repr(boom)} for cid in CATALOGS}
    assert set(threading.enumerate()) <= before


def test_cells_fill_error_raises_in_run(spark, tmp_path, monkeypatch):
    """The cells cache fill raising on its thread raises in ``run``."""
    boom = Boom("cells fill failed")
    extract = P.extract_cells

    def failing_fill(*args, **kwargs):
        cells = extract(*args, **kwargs)
        cells.count = lambda: _raise(boom)
        return cells

    monkeypatch.setattr(P, "extract_cells", failing_fill)
    before = set(threading.enumerate())
    with pytest.raises(Boom) as raised:
        _run_and_release(_pipeline(spark, tmp_path))
    assert raised.value is boom
    assert set(threading.enumerate()) <= before


def test_main_thread_error_waits_for_running_actions(spark, tmp_path, monkeypatch):
    """K1 raising on the main thread while the status-event collect
    still runs: ``run`` raises K1's exception only after that collect has
    finished, and leaves no thread behind."""
    boom = Boom("K1 failed")
    release = threading.Event()
    finished: list[str] = []

    def slow_collect():
        release.wait(30)
        time.sleep(0.5)
        finished.append(threading.current_thread().name)
        return []

    def failing_k1(*args, **kwargs):
        assert not finished  # the collect is still running
        release.set()
        raise boom

    monkeypatch.setattr(
        P, "validate_observations", lambda obs: _StatusRows(slow_collect)
    )
    monkeypatch.setattr(P, "write_wide_csvs_bulk", failing_k1)
    before = set(threading.enumerate())
    with pytest.raises(Boom) as raised:
        _run_and_release(_pipeline(spark, tmp_path))
    assert raised.value is boom
    assert len(finished) == 1
    assert finished[0] != threading.current_thread().name
    assert set(threading.enumerate()) <= before


def test_cells_cache_is_full_before_k1(spark, tmp_path, monkeypatch):
    """When K1 is called, every partition of the cached cells relation is
    already in the block manager, so K1's concurrent AQE jobs read it
    instead of both running the extraction."""
    extract, write = P.extract_cells, P.write_wide_csvs_bulk
    cells: list = []
    loaded: list[tuple[int, bool]] = []

    def capture(*args, **kwargs):
        cells.append(extract(*args, **kwargs))
        return cells[-1]

    def checked_write(*args, **kwargs):
        (df,) = cells
        relation = df._jdf.queryExecution().withCachedData()
        assert relation.nodeName() == "InMemoryRelation"
        builder = relation.cacheBuilder()
        loaded.append((
            builder.cachedColumnBuffers().getNumPartitions(),
            builder.isCachedColumnBuffersLoaded(),
        ))
        return write(*args, **kwargs)

    monkeypatch.setattr(P, "extract_cells", capture)
    monkeypatch.setattr(P, "write_wide_csvs_bulk", checked_write)
    res = _run_and_release(_pipeline(spark, tmp_path))
    # both catalogs resolve to the one fixture workbook: one partition
    assert loaded == [(1, True)]
    assert res.written_files
