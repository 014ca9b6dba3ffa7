"""Crash-point enumeration for the file-shaped publishers (r12,
VERDICT r11 #3): the atomic-output contract shared by the download
sink (S2), data.json (K2) and catalog/report xlsx (K3/K4) via
``sinks/atomic.atomic_output_path``, and the wide-CSV rename pass (K1).

The r11 harness (tests/crashlib.py) found three real bugs on its first
two targets (WAP, observation-store compaction); applying it here
found three more BEFORE these tests were written: write_json_catalog,
write_xlsx and the report CSV writer all opened the PUBLISHED path
directly — a crash mid-dump/mid-zip/mid-csv left a truncated or corrupt
file at the path consumers read. All now stage to a unique temp and
publish with one atomic os.replace; these tests enumerate every
mutating call of each writer and assert, at every crash point:

- reader-visible completeness: the published path holds the OLD
  complete content (valid JSON / readable xlsx / intact CSV) or —
  before a first publish — does not exist; never a partial file;
- no residue: a soft failure removes the writer's own temp;
- recovery: a plain re-run converges to the new content;
- inertness: a stray ``.part.*`` orphan from a hard kill is neither
  read nor swept by later publishes.
"""

from __future__ import annotations

import json
import os

import pytest
from _pytest.monkeypatch import MonkeyPatch

import series_tiempo_ar_scraping_spark.sinks.atomic as A
from tests.crashlib import InjectedCrash, Injector, count_mutations


def _no_part_residue(directory: str) -> bool:
    return not [e for e in os.listdir(directory) if ".part." in e]


def _enumerate_crashes(tmp_path, write_v1, write_v2, read_back, v1, v2):
    """Shared schedule: publish v1, then enumerate every mutating call
    of the v2 publish; at each crash point the reader must see v1
    complete; then a clean re-run must converge to v2."""
    write_v1()
    assert read_back() == v1
    # the dry-count EXECUTES write_v2 (publishes v2) — reseed v1
    # before every injected run
    n_mut = count_mutations(MonkeyPatch, A, write_v2)
    assert n_mut >= 1
    for k in range(1, n_mut + 1):
        write_v1()
        mp = MonkeyPatch()
        Injector(mp, A, crash_at=k)
        try:
            with pytest.raises(InjectedCrash):
                write_v2()
        finally:
            mp.undo()
        assert read_back() == v1, f"torn read after crash at call #{k}"
        assert _no_part_residue(str(tmp_path)), (
            f"temp residue after soft failure at call #{k}"
        )
    write_v2()
    assert read_back() == v2
    assert _no_part_residue(str(tmp_path))


def test_atomic_output_path_every_crash_point(tmp_path):
    """The helper itself, with a plain text payload."""
    target = str(tmp_path / "out.txt")

    def write(content):
        with A.atomic_output_path(target) as tmp:
            with open(tmp, "w") as fh:
                fh.write(content)

    _enumerate_crashes(
        tmp_path,
        lambda: write("v1"),
        lambda: write("v2-longer-content"),
        lambda: open(target).read() if os.path.exists(target) else None,
        "v1",
        "v2-longer-content",
    )


def test_atomic_output_path_first_publish_crash(tmp_path):
    """Before any publication exists: a crash leaves the target ABSENT
    (not partial), including when the parent dir did not exist yet."""
    target = str(tmp_path / "new" / "tree" / "out.txt")

    def write():
        with A.atomic_output_path(target) as tmp:
            with open(tmp, "w") as fh:
                fh.write("first")

    mp = MonkeyPatch()
    Injector(mp, A, crash_at=1)
    try:
        with pytest.raises(InjectedCrash):
            write()
    finally:
        mp.undo()
    assert not os.path.exists(target)
    assert _no_part_residue(os.path.dirname(target))
    write()
    assert open(target).read() == "first"


def test_atomic_output_path_crash_inside_staging(tmp_path):
    """An exception raised while STAGING (before any mutating call —
    e.g. a serializer error mid-write) must leave the target untouched
    and remove the writer's own temp."""
    target = str(tmp_path / "out.txt")
    with A.atomic_output_path(target) as tmp:
        with open(tmp, "w") as fh:
            fh.write("v1")
    with pytest.raises(RuntimeError, match="serializer"):
        with A.atomic_output_path(target) as tmp:
            with open(tmp, "w") as fh:
                fh.write("v2-part")
            raise RuntimeError("serializer died mid-payload")
    assert open(target).read() == "v1"
    assert _no_part_residue(str(tmp_path))


def test_atomic_output_path_stray_orphan_is_inert(tmp_path):
    """A ``.part.*`` orphan from a HARD kill (no except path ran) is
    neither read, replaced-over, nor swept by later publishes — the
    documented not-swept policy (a sweep could unlink a concurrent
    speculative writer's live temp)."""
    target = str(tmp_path / "out.txt")
    stray = target + ".part.99999.7"
    with open(stray, "w") as fh:
        fh.write("dead run residue")
    with A.atomic_output_path(target) as tmp:
        with open(tmp, "w") as fh:
            fh.write("good")
    assert open(target).read() == "good"
    assert open(stray).read() == "dead run residue"


def test_atomic_output_path_concurrent_writers_never_interleave(
    tmp_path,
):
    """The docstring's concurrency claim, exercised: N threads
    publishing distinct complete payloads to ONE target path. At every
    instant the target holds some writer's COMPLETE payload (the
    unique temp names mean no interleave is possible; os.replace is
    atomic), the final content is one of the payloads, and no temp
    residue survives."""
    import threading

    target = str(tmp_path / "contended.txt")
    payloads = [f"writer-{i}:" + ("x" * (100 + 37 * i)) for i in range(8)]
    valid = set(payloads)
    errors: list[BaseException] = []
    torn: list[str] = []
    stop = threading.Event()

    def writer(payload):
        try:
            for _ in range(50):
                with A.atomic_output_path(target) as tmp:
                    with open(tmp, "w") as fh:
                        fh.write(payload)
        except BaseException as exc:  # pragma: no cover - fail loudly
            errors.append(exc)
            stop.set()

    def reader():
        while not stop.is_set():
            try:
                with open(target) as fh:
                    content = fh.read()
            except FileNotFoundError:
                continue  # before the first publish
            if content and content not in valid:
                torn.append(content[:80])
                return

    threads = [threading.Thread(target=writer, args=(p,)) for p in payloads]
    observer = threading.Thread(target=reader)
    observer.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    observer.join()
    assert not errors, errors
    assert not torn, f"reader saw a torn/interleaved payload: {torn[:1]}"
    assert open(target).read() in valid
    assert _no_part_residue(str(tmp_path))


def test_write_xlsx_every_crash_point(tmp_path):
    """K3/K4 — a crash mid-zip must never leave a corrupt xlsx at the
    published path: the old workbook stays readable at every window."""
    from series_tiempo_ar_scraping_spark.sources.xlsx import (
        read_sheets,
        write_xlsx,
    )

    target = str(tmp_path / "report.xlsx")

    def read_back():
        if not os.path.exists(target):
            return None
        sheets = read_sheets(target)
        return {
            name: [tuple(sorted(r.items())) for r in rows]
            for name, rows in sheets.items()
        }

    def snapshot(version):
        # read_sheets yields cell values as strings
        return {
            "r": [tuple(sorted({"a": "x", "n": str(version)}.items()))]
        }

    _enumerate_crashes(
        tmp_path,
        lambda: write_xlsx(target, {"r": (["a", "n"], [("x", 1)])}),
        lambda: write_xlsx(target, {"r": (["a", "n"], [("x", 2)])}),
        read_back,
        snapshot(1),
        snapshot(2),
    )


def test_write_json_catalog_every_crash_point(spark, tmp_path):
    """K2 — data.json is THE consumer-facing artifact: at every crash
    window it must parse as the complete old document."""
    from series_tiempo_ar_scraping_spark.sinks.metadata import (
        write_json_catalog,
    )
    from series_tiempo_ar_scraping_spark.sources.catalog_json import (
        catalog_frames,
    )
    from series_tiempo_ar_scraping_spark.sources.xlsx import (
        read_xlsx_catalog,
    )

    frames = catalog_frames(spark, read_xlsx_catalog(
        os.path.join(os.path.dirname(__file__), "fixtures", "catalog.xlsx"),
    ))
    target = str(tmp_path / "data.json")

    def read_back():
        if not os.path.exists(target):
            return None
        with open(target, encoding="utf-8") as fh:
            return json.load(fh)  # a torn file raises here

    # v1 = a seeded stand-in document; v2 = the real catalog write.
    # (One catalog fixture: versioning the CONTENT via a second frame
    # build would double Spark work for no extra window coverage.)
    def write_v1():
        with A.atomic_output_path(target) as tmp:
            with open(tmp, "w") as fh:
                json.dump({"identifier": "old-complete"}, fh)

    n_mut_probe = str(tmp_path / "probe.json")

    def probe_write():
        write_json_catalog(frames, {"acme": n_mut_probe})

    n_mut = count_mutations(MonkeyPatch, A, probe_write)
    assert n_mut >= 1
    write_v1()
    for k in range(1, n_mut + 1):
        mp = MonkeyPatch()
        Injector(mp, A, crash_at=k)
        try:
            with pytest.raises(InjectedCrash):
                write_json_catalog(frames, {"acme": target})
        finally:
            mp.undo()
        assert read_back() == {"identifier": "old-complete"}, (
            f"torn data.json after crash at call #{k}"
        )
        assert _no_part_residue(str(tmp_path))
    out = write_json_catalog(frames, {"acme": target})
    doc = read_back()
    assert out == [target]
    assert doc["identifier"] == "acme"
    assert len(doc["dataset"]) == 3
    assert _no_part_residue(str(tmp_path))


def test_write_wide_csv_every_crash_point(spark, tmp_path):
    """K1 — the bulk wide-CSV writer (one partitionBy text write into a
    staging dir, a rename pass onto the product paths, the staging dir
    removed): each published CSV must be old-complete or new-complete at
    every mutating ``os`` call, a plain re-run must converge, and no
    staging dir may be left behind."""
    import glob

    from pyspark.sql import functions as F

    import series_tiempo_ar_scraping_spark.sinks.csv_wide as CW

    out = str(tmp_path / "out")
    names = {("c", "d", "r1"): "uno.csv", ("c", "d", "r2"): "dos.csv"}
    fields = spark.createDataFrame(
        [("r1", 0, "s1", None), ("r2", 0, "s2", None)],
        "distribution_id string, field_order int, title string,"
        " specialType string",
    )

    def obs(v):
        return spark.createDataFrame(
            [
                ("c", "d", "r1", "s1", "2024-01-01", float(v)),
                ("c", "d", "r2", "s2", "2024-01-01", float(v) + 10),
            ],
            "catalog_id string, dataset_id string, distribution_id string,"
            " series_title string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("date"))

    def expected(v):
        return {
            "uno.csv": ["indice_tiempo,s1", f"2024-01-01,{float(v)}"],
            "dos.csv": ["indice_tiempo,s2", f"2024-01-01,{float(v) + 10}"],
        }

    def write(v):
        CW.write_wide_csvs_bulk(obs(v), fields, out, names, replace=True)

    def read_back():
        return {
            os.path.basename(p): open(p).read().splitlines()
            for p in glob.glob(
                os.path.join(out, "catalog", "**", "*.csv"), recursive=True
            )
        }

    write(1)
    assert read_back() == expected(1)
    n_mut = count_mutations(MonkeyPatch, CW, lambda: write(2))
    assert n_mut >= 2  # one rename per published CSV
    for k in range(1, n_mut + 1):
        write(1)
        mp = MonkeyPatch()
        Injector(mp, CW, crash_at=k)
        try:
            with pytest.raises(InjectedCrash):
                write(2)
        finally:
            mp.undo()
        got = read_back()
        assert set(got) == {"uno.csv", "dos.csv"}
        for name, lines in got.items():
            assert lines in (expected(1)[name], expected(2)[name]), (
                f"torn {name} after crash at call #{k}: {lines}"
            )
        # recovery: a plain re-run converges
        write(2)
        assert read_back() == expected(2)
        assert os.listdir(out) == ["catalog"], f"staging left at call #{k}"


def test_landing_atomic_write_every_crash_point(tmp_path):
    """S2 — the landing-zone byte writer shares the same contract."""
    from series_tiempo_ar_scraping_spark.sources.landing import (
        _atomic_write,
    )

    target = str(tmp_path / "landed.csv")
    _enumerate_crashes(
        tmp_path,
        lambda: _atomic_write(target, b"v1"),
        lambda: _atomic_write(target, b"v2-full-payload"),
        lambda: (
            open(target, "rb").read() if os.path.exists(target) else None
        ),
        b"v1",
        b"v2-full-payload",
    )
