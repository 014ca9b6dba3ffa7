#!/usr/bin/env python3
"""Catalog-ETL benchmark.

One fresh process, like the nightly ``etl`` CLI: boot the session with
``session.get_spark`` on ``local[nproc]``, generate the workload's
inputs from the seed, run ``main.run_etl`` once over the whole index
(closed loop: one catalog at a time, ``max_parallel_catalogs=1``), check
every output, and print one JSON result as the last stdout line.

    python3 perfbench/run.py --workload etl_many_catalogs --seed 1 \
        --seconds 45 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers in spans (``spans.py``) and reports the per-layer metrics.
A run measures one whole ETL pass: a pass cannot stop part-way, so the
workloads are sized for a pass to take about ``--seconds``.
Everything the run writes goes under ``.perfbench_work/`` and is removed
before it exits.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the package and bench.py live at the repo root

END_TO_END = {"setup_s": "s", "etl_s": "s", "peak_pss_mb": "MB"}

# Wrapped layers: (module under the package, attribute where the caller
# looks the function up, span name, stats reported for it). spans.STATS
# has them all; the full table goes to the PERFBENCH_SPANS line.
SPANS = (
    ("main", "run_etl", "main.run_etl",
     ("wall_s", "self_s", "jobs", "driver_gap_s")),
    ("plans.pipeline", "CatalogPipeline.run", "plans.CatalogPipeline.run",
     ("self_s", "jobs", "stages", "tasks", "exec_run_s", "driver_gap_s")),
    ("plans.pipeline", "read_distributions_bulk",
     "sources.read_distributions_bulk", ("self_s", "jobs", "exec_run_s")),
    ("plans.pipeline", "sniff_txt_sep", "sources.sniff_txt_sep",
     ("calls", "wall_s")),
    ("plans.pipeline", "write_wide_csvs_bulk", "sinks.write_wide_csvs_bulk",
     ("wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
      "shuffle_bytes", "driver_gap_s")),
    ("sinks.metadata", "write_json_catalog", "sinks.write_json_catalog",
     ("wall_s", "jobs", "driver_gap_s")),
    ("sinks.metadata", "write_xlsx_catalog", "sinks.write_xlsx_catalog",
     ("self_s", "jobs")),
    ("sinks.reports", "write_report_xlsx", "sinks.write_report_xlsx",
     ("self_s", "jobs")),
    ("sources.xlsx", "write_xlsx", "sources.write_xlsx", ("calls", "wall_s")),
)
# get_spark runs before a tracer can exist; the run times it directly
REPORTED = {name: stats for _m, _a, name, stats in SPANS}
REPORTED["session.get_spark"] = ("wall_s",)
ISOLATED = (
    "sources.extract_cells",
    "sources.scrape_observations",
    "operators.validate_observations",
)


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    return "bytes" if stat.endswith("_bytes") else "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {
        f"{span}.{stat}": _unit(stat)
        for span, stats in REPORTED.items()
        for stat in stats
    }
    out.update({f"{fn}.isolated_s": "s" for fn in ISOLATED})
    out["trace.etl_s"] = "s"
    return out


def _process_age_s() -> float:
    """Seconds since this process started (/proc clock ticks)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class MemorySampler(threading.Thread):
    """Peak memory of the process tree: the sum of each process's
    proportional set size (PSS), so pages the forked Python workers share
    with their daemon count once, not once per worker."""

    def __init__(self, interval_s: float = 0.25):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def sample(self) -> None:
        kb = 0
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    kb += next(
                        int(line.split()[1]) for line in fh
                        if line.startswith("Pss:")
                    )
            except (OSError, ValueError, StopIteration):
                continue  # exited while we looked
        self.peak_mb = max(self.peak_mb, kb / 1024)

    def run(self) -> None:
        while not self._halt.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_mb


def _install_spans(tracer) -> None:
    for module, attr, name, _stats in SPANS:
        owner = importlib.import_module(f"series_tiempo_ar_scraping_spark.{module}")
        *path, attr = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        tracer.wrap(owner, attr, name)


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t


def _isolated(spark, m, out_dir: str) -> dict[str, float]:
    """Workbook cells extraction, scraping and V4 validation, each driven
    alone to a noop sink over the workload's own workbooks (inputs
    cached first, so each time is that operator's own work)."""
    from pyspark.sql import functions as F

    from series_tiempo_ar_scraping_spark.config import METHOD_EXCEL
    from series_tiempo_ar_scraping_spark.operators.filters import (
        time_series_distributions,
    )
    from series_tiempo_ar_scraping_spark.operators.validation import (
        validate_observations,
    )
    from series_tiempo_ar_scraping_spark.plans.pipeline import CatalogPipeline
    from series_tiempo_ar_scraping_spark.sources.cells import extract_cells
    from series_tiempo_ar_scraping_spark.sources.scrape import (
        check_headers,
        scrape_observations,
        scraping_params,
    )

    keys = ["catalog_id", "dataset_id", "distribution_id"]
    times = dict.fromkeys(ISOLATED, 0.0)
    for cid, cfg in m.index.items():
        frames = CatalogPipeline(
            spark, cfg["metadata_path"], cid, out_dir, m.resolve
        ).plan()
        excel = time_series_distributions(
            frames["distributions"], frames["fields"]
        ).filter(F.col("method") == METHOD_EXCEL)
        paths = sorted({
            m.resolve(r.scrapingFileURL)
            for r in excel.select("scrapingFileURL").distinct().collect()
        })
        cells = extract_cells(spark, paths).cache()
        times["sources.extract_cells"] += _noop_s(cells)
        sp, tp = scraping_params(frames["fields"], excel)
        headered = check_headers(cells, sp)
        obs, _ends = scrape_observations(
            cells, headered.filter(F.col("header_ok")), tp
        )
        obs = obs.join(tp.select(*keys, "freq_code"), keys).cache()
        times["sources.scrape_observations"] += _noop_s(obs)
        times["operators.validate_observations"] += _noop_s(
            validate_observations(obs)
        )
        obs.unpersist()
        cells.unpersist()
    return times


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process we started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            for pid in _tree(os.getpid())[1:]:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def run(workload: str, seed: int, trace: bool, work: str) -> dict:
    import gen
    from checks import check_catalog

    import bench

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a 2g heap fits a 15 GiB box shared with other jobs (bench.py's 16g
    # is sized for a 250-query JVM)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    context = {
        "workload": workload,
        "seed": seed,
        "nproc": cpus,
        "loadavg_before": os.getloadavg()[0],
    }
    stat_before = bench._cpu_stat()
    sampler = MemorySampler()
    sampler.start()

    from series_tiempo_ar_scraping_spark import main as etl_main
    from series_tiempo_ar_scraping_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        boot_s = time.perf_counter() - t
        # set-up is timed once per process (boot) plus the median of three
        # input generations; the last set of inputs feeds the pass
        age_s = _process_age_s()
        gens = []
        for i in range(3):
            t = time.perf_counter()
            m = gen.generate(workload, seed, os.path.join(work, f"inputs{i}"))
            gens.append(time.perf_counter() - t)
        setup_s = age_s + statistics.median(gens)

        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            _install_spans(tracer)
        out_dir = os.path.join(work, "out")
        t = time.perf_counter()
        try:
            results = etl_main.run_etl(
                m.index, out_dir, spark=spark, file_resolver=m.resolve
            )
        except Exception as exc:  # noqa: BLE001 — scored as failed catalogs
            results = {cid: {"error": repr(exc)} for cid in m.index}
        etl_s = time.perf_counter() - t

        problems = [
            check_catalog(cid, results.get(cid), m, out_dir) for cid in m.index
        ]
        for p in problems:
            for line in p:
                print(f"PERFBENCH_CHECK {line}", file=sys.stderr)
        outcome = {
            "attempted": len(m.index),
            "failed": sum(1 for p in problems if p),
        }
        if tracer is not None:
            tracer.collect()
            tracer.unwrap()
            tracer.add("session.get_spark", "calls", 1)
            tracer.add("session.get_spark", "wall_s", boot_s)
            spans = tracer.stats
            metrics = {
                f"{span}.{stat}": spans.get(span, {}).get(stat, 0)
                for span, stats in REPORTED.items()
                for stat in stats
            }
            metrics.update({
                f"{fn}.isolated_s": v for fn, v in _isolated(spark, m, out_dir).items()
            })
            metrics["trace.etl_s"] = etl_s
            print("PERFBENCH_SPANS " + json.dumps(spans, sort_keys=True))
            units = per_layer_units()
        else:
            metrics = {"setup_s": setup_s, "etl_s": etl_s}
            units = END_TO_END
    finally:
        _shutdown(spark)
    peak_mb = sampler.stop()
    if not trace:
        metrics["peak_pss_mb"] = peak_mb
    stat_after = bench._cpu_stat()
    if stat_before and stat_after and stat_after[1] > stat_before[1]:
        context["steal_pct"] = round(
            100.0 * (stat_after[0] - stat_before[0])
            / (stat_after[1] - stat_before[1]),
            3,
        )
    context["observations"] = m.observations
    context["planted_faults"] = len(m.ledger)
    print("PERFBENCH_CONTEXT " + json.dumps(context, sort_keys=True))
    outcome["metrics"] = {
        k: {"value": metrics[k], "unit": u} for k, u in units.items()
    }
    return outcome


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import gen

    if args.workload not in gen.SHAPES:
        ap.error(f"unknown workload {args.workload}; one of {sorted(gen.SHAPES)}")
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's scratch space, Python temp files and the executors'
    # shuffle files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        outcome = run(args.workload, args.seed, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is in it
        except OSError:
            pass
        # ensure_package_on_executors zips the package to /tmp per pid
        zip_path = f"/tmp/series_tiempo_ar_scraping_spark_{os.getpid()}.zip"
        if os.path.exists(zip_path):
            os.remove(zip_path)
    correct = outcome["failed"] == 0
    print(json.dumps({"correct": correct, **outcome}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
