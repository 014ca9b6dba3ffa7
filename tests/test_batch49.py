"""Batch-49 semantics: the streaming Python DataSource's offset
contract, driven directly (the registered query proves stream ==
batch; this proves INCREMENTALITY and replay)."""

from __future__ import annotations

import json
import os

from series_tiempo_ar_scraping_spark.sources.datasource import (
    WorkbookCellsStreamReader,
    register_workbook_cells,
)


def _write_cells(path: str, sheet: str, rows: list) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r, v in rows:
            fh.write(
                json.dumps(
                    {"sheet": sheet, "row": r, "col": "A", "value": v}
                )
                + "\n"
            )


def test_stream_reader_offsets_and_replay(tmp_path):
    """The raw reader contract: initial offset consumes everything,
    the returned offset excludes already-read files, and
    readBetweenOffsets replays exactly the committed window."""
    d = str(tmp_path / "landing")
    os.makedirs(d)
    _write_cells(os.path.join(d, "000.jsonl"), "s1", [(1, "a"), (2, "b")])
    rdr = WorkbookCellsStreamReader({"path": d})
    start = rdr.initialOffset()
    rows1, off1 = rdr.read(start)
    assert len(list(rows1)) == 2
    assert off1 == {"last": "000.jsonl", "n": 1, "files": ["000.jsonl"]}
    # nothing new: offset must NOT advance
    rows2, off2 = rdr.read(off1)
    # an iterator: the simple-reader wrapper calls next() on it
    assert next(rows2, None) is None and off2 == off1
    # a new arrival: only it is read
    _write_cells(os.path.join(d, "001.jsonl"), "s1", [(3, "c")])
    rows3, off3 = rdr.read(off1)
    got3 = list(rows3)
    assert [r[2] for r in got3] == [3]
    assert off3 == {"last": "001.jsonl", "n": 2, "files": ["001.jsonl"]}
    # replay of the committed first window is exact
    replay = list(rdr.readBetweenOffsets(start, off1))
    assert [r[2] for r in replay] == [1, 2]


def test_stream_default_trigger_survives_idle_reads(spark, tmp_path):
    """Under the default trigger the query keeps polling between
    arrivals: an idle read is an empty batch, not a failed query, and a
    file landing later is still read."""
    register_workbook_cells(spark)
    d = str(tmp_path / "landing")
    os.makedirs(d)
    _write_cells(os.path.join(d, "000.jsonl"), "s1", [(1, "a"), (2, "b")])
    q = (
        spark.readStream.format("workbook_cells")
        .load(d)
        .writeStream.format("memory")
        .queryName("workbook_cells_default_trigger")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_cells(os.path.join(d, "001.jsonl"), "s1", [(3, "c")])
        q.processAllAvailable()
        got = spark.table("workbook_cells_default_trigger").collect()
        assert sorted((r.row, r.value) for r in got) == [
            (1, "a"), (2, "b"), (3, "c")
        ]
        assert q.exception() is None
    finally:
        q.stop()


def test_stream_reader_detects_late_file(tmp_path):
    """A file arriving with a name that sorts at or below the committed
    offset violates the lexicographic-arrival contract; pre-r10 the
    watermark skipped it silently forever (ADVICE r9). Now: raise by
    default, warn-and-skip under onLateFile=warn, and a replay of a
    committed range that the late file would corrupt also raises."""
    import warnings

    import pytest

    d = str(tmp_path / "landing")
    os.makedirs(d)
    _write_cells(os.path.join(d, "005.jsonl"), "s1", [(1, "a")])
    rdr = WorkbookCellsStreamReader({"path": d})
    start = rdr.initialOffset()
    _, off1 = rdr.read(start)
    assert off1 == {"last": "005.jsonl", "n": 1, "files": ["005.jsonl"]}
    # late arrival: sorts BELOW the committed watermark
    _write_cells(os.path.join(d, "001.jsonl"), "s1", [(9, "late")])
    with pytest.raises(RuntimeError, match="late-arriving"):
        rdr.read(off1)
    with pytest.raises(RuntimeError, match="late-arriving"):
        list(rdr.readBetweenOffsets(start, off1))
    # warn mode: surfaced but the stream continues (late file skipped)
    lenient = WorkbookCellsStreamReader({"path": d, "onLateFile": "warn"})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows, off2 = lenient.read(off1)
    assert any("late-arriving" in str(w.message) for w in caught)
    assert list(rows) == []  # nothing sorts after the watermark
    # a consumed file VANISHING is the mirror violation
    os.remove(os.path.join(d, "001.jsonl"))
    os.remove(os.path.join(d, "005.jsonl"))
    with pytest.raises(RuntimeError, match="missing"):
        rdr.read(off1)
    # pre-r10 checkpoints (no "n") stay readable: no check possible
    rows, off3 = rdr.read({"last": ""})
    assert list(rows) == []


def test_stream_replay_is_exact_under_warn_mode(tmp_path):
    """ADVICE r10 (medium): in onLateFile=warn mode a replay used to
    warn and then INJECT late-in-range files into the replayed batch,
    breaking exactly-once recovery. Now the end offset records the
    batch's file list and replay uses exactly it — the late file is
    excluded by construction; a vanished committed file still raises
    (in both modes), and a legacy offset without the list raises on a
    detected violation even in warn mode."""
    import warnings

    import pytest

    d = str(tmp_path / "landing")
    os.makedirs(d)
    _write_cells(os.path.join(d, "005.jsonl"), "s1", [(1, "a")])
    lenient = WorkbookCellsStreamReader({"path": d, "onLateFile": "warn"})
    start = lenient.initialOffset()
    rows1, off1 = lenient.read(start)
    committed = [(r[2], r[4]) for r in rows1]
    # a late file lands INSIDE the committed range
    _write_cells(os.path.join(d, "001.jsonl"), "s1", [(9, "late")])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        replay = [(r[2], r[4]) for r in lenient.readBetweenOffsets(start, off1)]
    assert any("late-arriving" in str(w.message) for w in caught)
    assert replay == committed  # the late file was NOT injected
    # legacy checkpoint (no file list): exactness unprovable -> raise
    # even in warn mode
    legacy_end = {"last": off1["last"], "n": off1["n"]}
    with pytest.raises(RuntimeError, match="late-arriving"):
        list(lenient.readBetweenOffsets(start, legacy_end))
    # a committed file vanishing always fails the replay
    os.remove(os.path.join(d, "005.jsonl"))
    with pytest.raises(RuntimeError, match="vanished"):
        list(lenient.readBetweenOffsets(start, off1))


def test_stream_checkpoint_carries_offsets(spark, tmp_path):
    """End to end through Structured Streaming: a second availableNow
    run against the SAME checkpoint reads only files that arrived
    after the first run committed — the scheduled-scrape-to-stream
    story actually recovering from its offset log."""
    register_workbook_cells(spark)
    d = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(d)
    _write_cells(os.path.join(d, "000.jsonl"), "s1", [(1, "a"), (2, "b")])

    def run_once() -> list:
        # parquet sink: the one that supports restart-from-checkpoint
        # (the memory sink refuses recovery by design)
        q = (
            spark.readStream.format("workbook_cells")
            .load(d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.row, r.value)
            for r in spark.read.parquet(out).collect()
        )

    assert run_once() == [(1, "a"), (2, "b")]
    _write_cells(os.path.join(d, "001.jsonl"), "s1", [(3, "c")])
    # the restarted query resumes from the offset log: the output now
    # holds the union, having read ONLY the new arrival this run
    assert run_once() == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_late_file_fails_query_loudly(spark, tmp_path):
    """End to end: a file violating the lexicographic-arrival contract
    (sorts below the committed offset) must fail the RESTARTED
    Structured Streaming query with the late-arriving diagnostic —
    pre-r10 it was silently never read (ADVICE r9)."""
    import pytest
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException,
    )

    register_workbook_cells(spark)
    d = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(d)
    _write_cells(os.path.join(d, "005.jsonl"), "s1", [(1, "a")])

    def run_once() -> None:
        q = (
            spark.readStream.format("workbook_cells")
            .load(d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # violation: arrives with a name below the committed '005.jsonl'
    _write_cells(os.path.join(d, "001.jsonl"), "s1", [(9, "late")])
    with pytest.raises(StreamingQueryException) as err:
        run_once()
    assert "late-arriving" in str(err.value)
    # the committed output is intact (exactly the first run's rows)
    assert [
        (r.row, r.value) for r in spark.read.parquet(out).collect()
    ] == [(1, "a")]
