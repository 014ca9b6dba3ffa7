"""EP1 — the full catalog ETL as a declarative pipeline.

The reference interleaves planning and effects (constructing a ``Catalog``
already downloads, validates and writes — ``base.py:65-73,376-504``); here
phase 1 is **pure planning** (build normalized frames + a routed task
frame, zero side effects) and phase 2 executes DataFrame actions. Statuses
are data (V7); V1 runs in plain Python over the plan's metadata rows
(``operators/schema_rules.py``), the pass collects its status events
(V4 series rows, V5 header failures, V6 trims) once, and every report is
built from those rows in plain Python (``sinks/reports.py``). Each
data-plane result is computed once: the workbook cells, the scraped
table (observations and V6 trims in one frame) and the observations are
cached, and the event collect and K1 share those caches.

Two actions depend on nothing the pass still builds, so each runs on a
background thread from the moment its inputs exist and is joined where
its rows are first needed: the cells cache fill (after the routing loop,
joined before K1) and the status-event collect (started just before K1,
joined after it). Each action alone is a short, latency-bound query that
leaves most cores idle; overlapped, their fixed planning and scheduling
costs run beside the bulk reads and K1. The set is fixed, not a pool:
these are the only actions whose inputs are complete before the main
thread needs their results, and every other Spark call of the pass
stays on the main thread, in order. Filling the cells cache before K1
also keeps K1's concurrent AQE jobs from both running the extraction
and one waiting on the other's block lock. The fill is still one task
per workbook, so on a cluster it spreads over the executors like any
other stage. The threads are ``InheritableThread``s, so their jobs
carry the caller's job group; ``run`` joins every one it started, raised
or not, and a background exception re-raises there.

One pass runs any number of catalogs: their frames are unioned, every
join keys on ``catalog_id`` (dataset and distribution ids are
catalog-scoped), and report rows carry ``catalog_id`` so a caller can
split them. The Spark job count of a pass does not grow with the number
of catalogs; a single catalog is the one-entry case of the same pass.

Metadata is tiny and joined everywhere, so it is read and normalized
on the driver (``sources/catalog_json.py``, ``sources/xlsx.py``) and
handed to Spark once: planning concatenates each entity's rows over the
pass (under the driver-memory cap) and builds its frame as one Arrow
local relation (``session.local_frame``). Downstream plans start at a
``LocalRelation``, no metadata frame is cached, and neither planning,
V1, nor the routing collect (F2 over the plan's rows) runs a Spark job.
Every other frame the driver builds on the pass (the bulk reader's path
dimension, the workbook path list and map, the empty observation frame)
is a local relation too, so none runs a Python-worker job.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark import InheritableThread, StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import (
    FREQ_ISO_TO_CODE,
    METHOD_CSV,
    METHOD_EXCEL,
    METHOD_TXT,
)
from series_tiempo_ar_scraping_spark.operators.filters import (
    clean_field_keyspace,
    filter_distribution_id,
    time_series_distributions,
    with_method,
)
from series_tiempo_ar_scraping_spark.operators.schema_rules import (
    validate_metadata,
)
from series_tiempo_ar_scraping_spark.operators.validation import (
    trim_warnings,
    validate_observations,
)
from series_tiempo_ar_scraping_spark.session import local_frame
from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
    rewrite_download_urls,
    scrub_scraping_metadata,
    write_wide_csvs_bulk,
)
from series_tiempo_ar_scraping_spark.sinks import reports
from series_tiempo_ar_scraping_spark.sources.catalog_json import (
    catalog_frames,
    normalize_catalog,
)
from series_tiempo_ar_scraping_spark.sources.cells import extract_cells
from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
    read_distributions_bulk,
    sniff_txt_sep,
)
from series_tiempo_ar_scraping_spark.sources.scrape import (
    check_headers,
    scrape_table,
    scraping_params,
    split_scraped,
)

# The metadata rows (and the routing list, one row per routed
# distribution, drawn from them) are metadata-plane driver state —
# thousands of rows at reference scale. This cap turns "someone pointed
# the ETL at a 10M-distribution catalog" into a clear error naming the
# fleet path (SCALE.md §Routing collects) instead of a silent driver
# OOM. Override via env when a bigger metadata plane is genuinely
# intended.
_ROUTING_COLLECT_CAP = int(
    os.environ.get("SPARK_GRAFT_ROUTING_COLLECT_CAP", "1000000")
)
# the long frame every reader yields
_OBSERVATIONS_SCHEMA = (
    "catalog_id string, dataset_id string, distribution_id string, "
    "series_id string, series_title string, ts date, value double"
)


def read_catalog(path: str, catalog_id: str) -> dict[str, list[tuple]]:
    """S4/S5 — one catalog's metadata file → each entity's normalized
    rows: the formato=xlsx branch for workbooks
    (``base.py:393-421,932-938``), ``data.json`` otherwise."""
    if path.endswith((".xlsx", ".xls")):
        from series_tiempo_ar_scraping_spark.sources.xlsx import (
            read_xlsx_catalog,
        )

        return read_xlsx_catalog(path, catalog_id)
    with open(path, encoding="utf-8") as fh:
        return normalize_catalog(json.load(fh), catalog_id)


class _Overlap:
    """The pass's background Spark actions. ``start`` runs one on an
    ``InheritableThread``, which copies the caller's local properties
    (job group, description) at start, so its jobs are charged where the
    caller's are; ``result()`` joins it and re-raises what it raised.
    Leaving the ``with`` block joins every started action; with no
    exception on the way out, a background one re-raises there."""

    def __init__(self) -> None:
        self._started: list[_Action] = []

    def start(self, action: Callable[[], Any]) -> _Action:
        self._started.append(_Action(action))
        return self._started[-1]

    def __enter__(self) -> _Overlap:
        return self

    def __exit__(self, exc_type, *_exc) -> None:
        for action in self._started:
            action.join()
        if exc_type is None:
            for action in self._started:
                action.result()


class _Action:
    def __init__(self, action: Callable[[], Any]) -> None:
        self._out = self._exc = None

        def target() -> None:
            try:
                self._out = action()
            except BaseException as exc:  # noqa: BLE001 — re-raised by result()
                self._exc = exc

        self._thread = InheritableThread(target)
        self._thread.start()

    def join(self) -> None:
        self._thread.join()

    def result(self) -> Any:
        self._thread.join()
        if self._exc is not None:
            raise self._exc
        return self._out


@dataclass
class PipelineResult:
    frames: dict[str, DataFrame]
    observations: DataFrame
    # the report rows of every catalog of the pass
    series_report: list[reports.SeriesStatus]
    metadata_errors: list[reports.MetadataError]
    dataset_report: list[reports.DatasetStatus]
    distribution_report: list[reports.DistributionStatus]
    indicators: list[reports.Indicators]
    written_files: list[str] = field(default_factory=list)
    processor_errors: list[tuple[str, str, str, str]] = field(
        default_factory=list
    )


class CatalogPipeline:
    """Catalogs end-to-end in one pass: metadata → validation → routing →
    per-method extraction → data validation → sinks → reports (SURVEY EP1
    steps 3-5).

    ``catalog_path`` is one catalog's metadata file (named by
    ``catalog_id``), or a ``{catalog_id: source}`` mapping of several
    catalogs (``catalog_id`` None), where a source is a metadata file or
    the rows ``read_catalog`` already returned for it.

    ``file_resolver`` maps a source URL/file reference to a local landing
    path (tests point it at fixtures; production points it at the landing
    zone fed by ``sources.landing``).
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog_path: str | Mapping[str, str | dict[str, list[tuple]]],
        catalog_id: str | None,
        output_dir: str,
        file_resolver=None,
        host: str = "http://localhost",
        distribution_id_filter: str | None = None,
        replace: bool = True,
    ):
        self.spark = spark
        self.catalogs = (
            dict(catalog_path)
            if isinstance(catalog_path, Mapping)
            else {catalog_id: catalog_path}
        )
        self.output_dir = output_dir
        self.file_resolver = file_resolver or (lambda ref: ref)
        self.host = host
        self.distribution_id_filter = distribution_id_filter
        # V8 — skip-if-exists unless replace (base.py:155-163, main.py:52-56)
        self.replace = replace
        self._cached: list[DataFrame] = []

    def _cache(self, df: DataFrame) -> DataFrame:
        # the cache is keyed by plan: one the session already holds (the
        # caller's, or an earlier pass's) stays its owner's to release
        if df.storageLevel == StorageLevel.NONE:
            self._cached.append(df)
        return df.cache()

    def unpersist(self) -> None:
        """Release every frame ``run`` cached. Never ``clearCache``: the
        session may hold the caller's own caches."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- phase 1: pure planning -------------------------------------------

    def plan(self) -> dict[str, DataFrame]:
        """The pass's normalized metadata frames, each built once, as a
        local relation, from its entity's rows over every catalog
        (capped); no Spark job."""
        parts = [
            src if isinstance(src, dict) else read_catalog(src, cid)
            for cid, src in self.catalogs.items()
        ]
        rows = {k: [r for p in parts for r in p[k]] for k in parts[0]}
        for k, rs in rows.items():
            if len(rs) > _ROUTING_COLLECT_CAP:
                raise RuntimeError(
                    f"catalog metadata frame '{k}' exceeds "
                    f"{_ROUTING_COLLECT_CAP} rows; this driver-side collect "
                    "is metadata-plane only — use the executor-side fleet "
                    "path (sources.landing.download_many) or raise "
                    "SPARK_GRAFT_ROUTING_COLLECT_CAP (SCALE.md: Routing "
                    "collects)"
                )
        frames = catalog_frames(self.spark, rows)
        # F8/F5/F3 fold into each relation: still a bare LocalRelation
        frames["fields"] = clean_field_keyspace(frames["fields"])
        frames["distributions"] = filter_distribution_id(
            with_method(frames["distributions"]), self.distribution_id_filter
        )
        return frames

    # -- phase 2: execution ------------------------------------------------

    def run(self) -> PipelineResult:
        with _Overlap() as overlap:
            return self._execute(overlap)

    def _execute(self, overlap: _Overlap) -> PipelineResult:
        # local relations: no metadata frame needs a cache
        frames = self.plan()
        # V1 over the planned rows: a local relation's collect runs no job
        planned_rows = {k: df.collect() for k, df in frames.items()}
        meta_errors = validate_metadata(planned_rows)
        ts_dists = time_series_distributions(
            frames["distributions"], frames["fields"]
        )

        # ONE routing collect (one row per routed distribution, bounded
        # by the distributions plan() capped; a local relation, so no
        # job) serves every reader and the K1 fileName map.
        keys = ["catalog_id", "dataset_id", "distribution_id"]
        routed = ts_dists.select(
            *keys, "method", "downloadURL", "scrapingFileURL", "fileName"
        ).collect()

        obs_parts: list[DataFrame] = []
        # csv/txt routes (S6/S7): per-distribution file reads. V7: any
        # per-distribution failure (unreadable/garbage file, no series
        # columns) costs an ERROR report row, never the pipeline
        # (base.py:198-207 try/except-continue semantics).
        # ONE bulk read per delimiter group (read-side twin of the bulk
        # CSV sink): job count independent of distribution count. TXT
        # files group by their sniffed delimiter (driver-side header
        # peek, metadata-scale); corrupt/headerless files surface as
        # error tuples from the bulk reader, never exceptions, and a file
        # the resolver cannot produce as one from here.
        processor_errors: list[tuple[str, str, str, str]] = []
        csv_items: list[tuple[str, str, str, str]] = []
        txt_groups: dict[str, list[tuple[str, str, str, str]]] = {}
        workbooks: dict[str, str | None] = {}
        for row in routed:
            if row.method == METHOD_EXCEL:
                ref = row.scrapingFileURL
                # one resolve (a download, in production) per workbook
                if ref not in workbooks:
                    workbooks[ref] = self.file_resolver(ref)
                local = workbooks[ref]
            elif row.method in (METHOD_CSV, METHOD_TXT):
                ref = row.downloadURL or row.scrapingFileURL
                local = self.file_resolver(ref)
            else:
                continue
            if local is None or not os.path.exists(local):
                processor_errors.append((
                    row.catalog_id, row.dataset_id, row.distribution_id,
                    f"file not found: {ref}",
                ))
                continue
            if row.method == METHOD_EXCEL:
                continue
            tup = (row.catalog_id, row.dataset_id, row.distribution_id, local)
            if row.method == METHOD_TXT:
                try:
                    txt_groups.setdefault(sniff_txt_sep(local), []).append(tup)
                except Exception as exc:  # noqa: BLE001 — V7 error channel
                    processor_errors.append((*tup[:3], repr(exc)))
            else:
                csv_items.append(tup)

        # excel route (S8): extract cells once per distinct workbook (A1),
        # then scrape every series relationally. Cells key on the resolved
        # path, not the file name: two catalogs' different workbooks may
        # share one. The cache fills now, beside the bulk reads and the
        # scrape planning, so every later reader finds it full.
        if workbooks:
            paths = sorted({p for p in workbooks.values() if p})
            cells = self._cache(extract_cells(self.spark, paths, by_path=True))
            cells_filled = overlap.start(cells.count)

        bulk_groups = [(",", False, csv_items)] + [
            (sep, True, its) for sep, its in sorted(txt_groups.items())
        ]
        for sep, decimal_comma, items in bulk_groups:
            if not items:
                continue
            try:
                obs_b, errs = read_distributions_bulk(
                    self.spark, items, sep=sep, decimal_comma=decimal_comma
                )
                obs_parts.append(obs_b)
                processor_errors.extend(errs)
            except Exception as exc:  # noqa: BLE001 — V7 error channel
                processor_errors.extend(
                    (c, d, r, repr(exc)) for c, d, r, _p in items
                )

        # The workbook route's V5/V6 status events (catalog, dataset,
        # distribution, status), collected with the V4 rows below.
        events: list[DataFrame] = []
        if workbooks:
            located = ts_dists.filter(F.col("method") == METHOD_EXCEL).join(
                F.broadcast(
                    local_frame(
                        self.spark,
                        list(workbooks.items()),
                        "scrapingFileURL string, workbook string",
                    )
                ),
                "scrapingFileURL",
            )
            sp, tp = scraping_params(
                frames["fields"], located, workbook=F.col("workbook")
            )
            headered = self._cache(check_headers(cells, sp))
            # one scrape: K1 fills the cache, the event collect reads
            # the V6 trims from it
            scraped = self._cache(
                scrape_table(cells, headered.filter(F.col("header_ok")), tp)
            )
            obs_sc, table_ends = split_scraped(scraped)
            obs_parts.append(obs_sc)
            # V5 header failures are ERROR; V6 trims are WARNING
            events.append(
                headered.filter(~F.col("header_ok")).select(
                    *keys, F.lit("ERROR").alias("status")
                )
            )
            events.append(trim_warnings(table_ends).select(*keys, "status"))

        # every reader failing leaves no frame: V4, the roll-up and K1
        # still run, over an empty long frame built only then
        observations = self._cache(
            functools.reduce(DataFrame.unionByName, obs_parts)
            if obs_parts
            else local_frame(self.spark, [], _OBSERVATIONS_SCHEMA)
        )

        # V4: attach frequency from the time-index field, validate.
        freq = (
            frames["fields"]
            .filter(F.col("specialType") == "time_index")
            .select(
                "catalog_id",
                "distribution_id",
                # built from FREQ_ISO_TO_CODE — the single source of
                # truth field validation also checks against, so a
                # newly supported frequency can't silently disable
                # gap checks here
                F.create_map(
                    *[F.lit(x) for kv in FREQ_ISO_TO_CODE.items() for x in kv]
                )[F.col("specialTypeDetail")].alias("freq_code"),
            )
        )
        v4 = validate_observations(
            observations.join(
                F.broadcast(freq), ["catalog_id", "distribution_id"], "left"
            )
        ).select(
            *keys,
            F.col("series_status").alias("status"),
            "series_id",
            "n_obs",
            "n_null_ts",
        )

        # Every reader from here on finds the cells cache full: no two
        # jobs race to fill it.
        if workbooks:
            cells_filled.result()
        # The report plane: one collect of the status events with the V4
        # series rows, run beside K1 (both read the scrape and
        # observation caches); the rest is Python over them, the V1
        # errors and the planned dataset rows. Every routed distribution
        # appears in the report: one without V4 rows is an ERROR.
        status_rows = overlap.start(
            functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                events,
                v4,
            ).collect
        )

        # K1: every catalog's wide CSVs in one partitionBy text write
        # plus a filesystem rename pass — the job count grows with
        # neither the distribution nor the catalog count; the fileName
        # mapping comes from the routing collect (``base.py:266-279``
        # contract).
        written = write_wide_csvs_bulk(
            observations,
            frames["fields"],
            self.output_dir,
            {(r.catalog_id, r.dataset_id, r.distribution_id): r.fileName
             for r in routed},
            replace=self.replace,
        )

        collected = status_rows.result()
        # V5/V6 events have no series count; a V4 row counts at least 1
        series_rep = [
            reports.SeriesStatus(*r) for r in collected if r.n_obs is not None
        ]
        dist_report = reports.distribution_report(
            [r[:4] for r in collected if r.n_obs is None]
            + reports.series_events([tuple(r[:3]) for r in routed], series_rep)
        )
        # V3 reports every dataset; F1 publishes only the valid ones
        ds_report, harvested = reports.dataset_report(
            planned_rows["datasets"], meta_errors
        )
        frames["datasets"] = local_frame(
            self.spark, harvested, frames["datasets"].schema
        )

        # K7/K8: publishable metadata.
        frames["distributions_published"], frames["fields_published"] = (
            scrub_scraping_metadata(
                rewrite_download_urls(
                    frames["distributions"], self.output_dir, self.host
                ),
                frames["fields"],
            )
        )

        # K2/K3: rewrite data.json + catalog.xlsx next to each catalog's
        # outputs (base.py:489-504 writes both after filtering); each
        # writer collects once for every catalog of the pass.
        from series_tiempo_ar_scraping_spark.sinks.metadata import (
            write_json_catalog,
            write_xlsx_catalog,
        )

        for writer, name in (
            (write_json_catalog, "data.json"),
            (write_xlsx_catalog, "catalog.xlsx"),
        ):
            targets = {
                cid: os.path.join(self.output_dir, "catalog", cid, name)
                for cid in self.catalogs
            }
            written.extend(writer(frames, targets))

        return PipelineResult(
            frames=frames,
            observations=observations,
            series_report=series_rep,
            metadata_errors=meta_errors,
            dataset_report=ds_report,
            distribution_report=dist_report,
            indicators=reports.indicator_records(ds_report, dist_report),
            written_files=written,
            processor_errors=processor_errors,
        )
