"""Spark 4 Python DataSource for workbook cells: ``spark.read.format(
"workbook_cells")``.

The mapInPandas extraction (``sources/cells.py``) is the pipeline's
internal path; this wraps the same stdlib OOXML parser in the *user-facing*
Spark 4 ``DataSource`` API so workbook grids mount like any other source:

    from series_tiempo_ar_scraping_spark.sources.datasource import (
        register_workbook_cells,
    )
    register_workbook_cells(spark)
    cells = spark.read.format("workbook_cells").load("/data/*.xlsx")

Design (SURVEY §2.1-S8): one ``InputPartition`` per workbook file — the
planner ships each file to one task, the executor parses it exactly once
(the reference's open-once cache, ``base.py:574-587``, as partition
planning), and a million workbooks spread over however many cores exist.
Glob expansion happens driver-side at planning; no data moves through the
driver. Cells come from the one parser both mounts share,
``cells.iter_file_cells`` (``.xlsx``, ``.xls`` and the ``.jsonl`` cells
fixture format; only non-empty cells). Unlike the pipeline's
extraction, which turns a bad file into zero cells, this mount raises on
a file that cannot be parsed: a user reading a path asked for exactly
that file.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from series_tiempo_ar_scraping_spark.sources.cells import (
    CELLS_SCHEMA,
    iter_file_cells,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WorkbookCellsReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path") or options.get("paths")
        if not path:
            raise ValueError("workbook_cells: .load(path) is required")
        self._paths = sorted(_glob.glob(path)) if any(
            ch in path for ch in "*?["
        ) else [path]
        if not self._paths:
            raise FileNotFoundError(f"workbook_cells: no files match {path}")

    def partitions(self):
        return [_FilePartition(p) for p in self._paths]

    def read(self, partition: _FilePartition):
        path = partition.path
        yield from iter_file_cells(path, os.path.basename(path))


class WorkbookCellsStreamReader(SimpleDataSourceStreamReader):
    """Streaming mount of an arriving-workbooks directory (SURVEY
    S1/S8 evolved to §2.11): each micro-batch reads the files whose
    names sort AFTER the last committed one — the reference scrapes
    catalogs on a schedule; this is the same ingestion as a
    continuous stream, with the scheduler replaced by Structured
    Streaming's offset log. Offsets are {"last": <filename>, "n":
    <files at-or-below last>}, so the contract is that arriving files
    sort after consumed ones (timestamped names — the standard
    landing-zone convention); readBetweenOffsets replays any committed
    range exactly, which is what makes recovery from the checkpoint
    exactly-once.

    Contract violations are DETECTED, not silently absorbed (ADVICE
    r9): the "n" count lets each read compare the live listing against
    the committed range in O(1) offset size — a late-arriving file
    whose name sorts at or below the committed "last" (which the
    watermark would skip forever) raises by default, or warns and
    skips under ``.option("onLateFile", "warn")``.

    Replay exactness (ADVICE r10): each end offset additionally
    records the batch's own file list ("files"), so
    ``readBetweenOffsets`` replays EXACTLY the files the committed
    batch read — a late arrival inside the range can never be
    injected into a replayed batch, in either onLateFile mode. A
    recorded file that has vanished always raises (the batch is
    unreproducible; no warn mode can patch that). Pre-r11 checkpoints
    without the list fall back to a range scan, where a detected
    contract violation raises even in warn mode, because exactness
    cannot be proven from the count alone."""

    def __init__(self, options: dict):
        self._dir = options.get("path") or options.get("paths")
        if not self._dir:
            raise ValueError(
                "workbook_cells stream: .load(directory) is required"
            )
        self._on_late = str(
            options.get("onLateFile")
            or options.get("onlatefile")
            or "error"
        ).lower()

    def _names(self):
        return sorted(
            f
            for f in os.listdir(self._dir)
            if f.endswith((".jsonl", ".xlsx", ".xls"))
        )

    def _check_consumed(
        self, names, offset: dict, where: str, force_error: bool = False
    ):
        """The live listing must still agree with a committed offset:
        exactly offset["n"] files at-or-below offset["last"]. More
        means a late arrival landed inside the committed range (the
        watermark would never read it); fewer means a consumed file
        vanished (a replay could not reproduce the batch)."""
        expected = offset.get("n")
        if expected is None:  # pre-r10 checkpoint: count not recorded
            return
        last = offset.get("last", "")
        below = [n for n in names if n <= last]
        if len(below) == expected:
            return
        kind = "late-arriving" if len(below) > expected else "missing"
        msg = (
            f"workbook_cells stream: {kind} file inside the committed "
            f"range during {where} — {len(below)} files sort <= "
            f"{last!r} but the offset committed {expected}; the "
            "lexicographic-arrival contract is violated and the "
            "watermark cannot deliver the difference exactly-once"
        )
        if self._on_late == "warn" and not force_error:
            import warnings

            warnings.warn(msg)
        else:
            raise RuntimeError(msg)

    def initialOffset(self):
        return {"last": "", "n": 0}

    def read(self, start: dict):
        names = self._names()
        self._check_consumed(names, start, "read")
        new = [n for n in names if n > start.get("last", "")]
        if not new:
            # an iterator, not a list: the simple-reader wrapper calls
            # next() on an idle read to check it is empty
            return iter(()), start
        end = {"last": new[-1], "n": len(names), "files": new}
        return self._rows(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        names = self._names()
        files = end.get("files")
        if files is not None:
            # exact replay: the committed batch's own file list —
            # late arrivals inside the range are excluded by
            # construction (they are not in the list)
            live = set(names)
            gone = [n for n in files if n not in live]
            if gone:
                raise RuntimeError(
                    "workbook_cells stream: committed files vanished "
                    f"before replay — {gone}; the batch ending at "
                    f"{end.get('last')!r} cannot be reproduced"
                )
            # still surface late arrivals (warn mode warns; replay
            # itself is unaffected because it uses the recorded list)
            self._check_consumed(names, end, "replay")
            return self._rows(files)
        # legacy checkpoint without the file list: replay is a range
        # scan; a contract violation makes exactness unprovable, so
        # raise even in warn mode
        self._check_consumed(names, end, "replay", force_error=True)
        lo, hi = start.get("last", ""), end.get("last", "")
        return self._rows([n for n in names if lo < n <= hi])

    def _rows(self, names):
        # the simple-reader wrapper prefetches and PICKLES the batch
        # (driver-side read, executor replay) — a generator would not
        # survive the trip; per-microbatch file granularity keeps the
        # materialized list bounded by one arrival batch
        out = []
        for n in names:
            out.extend(iter_file_cells(os.path.join(self._dir, n), n))
        return out


class WorkbookCellsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "workbook_cells"

    def schema(self) -> StructType:
        return CELLS_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return WorkbookCellsReader(self.options)

    def simpleStreamReader(
        self, schema: StructType
    ) -> SimpleDataSourceStreamReader:
        return WorkbookCellsStreamReader(self.options)


def register_workbook_cells(spark) -> None:
    """Register the DataSource on a session (idempotent per session).

    Executors must be able to import this package for .xlsx partitions
    (``ensure_package_on_executors``) — same requirement as every
    pandas-UDF island. The STREAMING plan runner is stricter: it is a
    python worker spawned by the driver JVM that does NOT see
    addPyFile includes, so the datasource modules (this one, the
    ``cells`` parser and the workbook readers) are additionally
    registered for BY-VALUE cloudpickle serialization — the class
    travels inside the pickle and needs no import on the other side
    (caught by the foreign-cwd driver drive; the batch reader masked
    this because its planning stays in the driver process).
    """
    from series_tiempo_ar_scraping_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    try:
        from pyspark import cloudpickle

        import series_tiempo_ar_scraping_spark.sources.cells as _cells
        import series_tiempo_ar_scraping_spark.sources.datasource as _ds
        import series_tiempo_ar_scraping_spark.sources.xls as _xls
        import series_tiempo_ar_scraping_spark.sources.xlsx as _xlsx

        for mod in (_ds, _cells, _xlsx, _xls):
            cloudpickle.register_pickle_by_value(mod)
    except (ImportError, AttributeError):
        # older cloudpickle: fall back to import-by-reference (works
        # whenever the driver cwd is the repo root)
        pass
    spark.dataSource.register(WorkbookCellsDataSource)
