"""S1-S3 — driver-side ingestion to a landing zone.

Downloads are control-plane work in this engine (the reference does them
inline in the object tree: ``download.py:13-76``, ``base.py:917-976``); the
data plane starts at the landing path. Retry/backoff and skip-if-exists
(V8) semantics match the reference; TLS verification defaults ON (the
reference hard-codes it off at ``download.py:33`` — that is a bug we do
not reproduce).

At fleet scale (millions of URLs) ``download_many`` runs executor-side
over a URL task frame — same retry/skip semantics, driver orchestrates
only, and every outcome (success, skip, failure) is a status ROW in the
returned frame (V7: the error channel is data, never an exception).
"""

from __future__ import annotations

import os
import time

DEFAULT_TRIES = 3
RETRY_DELAY = 1.0


def _attempt_fetch(
    get, url: str, tries: int, retry_delay: float
) -> tuple[bytes | None, int, str | None]:
    """The shared S1 retry loop: (data, attempts_used, last_error_repr).
    ``data is None`` means every attempt failed — callers decide whether
    that raises (``download``) or becomes a status row (``download_many``)."""
    err: str | None = None
    attempts = 0
    for attempt in range(tries):
        attempts = attempt + 1
        try:
            return get(url), attempts, None
        except Exception as exc:  # noqa: BLE001 — error-channel, not crash
            err = repr(exc)
            if attempt + 1 < tries:
                time.sleep(retry_delay)
    return None, attempts, err


def _atomic_write(file_path: str, data: bytes) -> None:
    """mkdir -p + write-to-unique-temp + atomic replace, via the
    shared ``sinks/atomic.py`` contract (one implementation for every
    file-shaped publish): concurrent writers of the same target (task
    retry, Spark speculative execution) never interleave into one
    ``.part`` file — last replace wins with a complete payload either
    way. A hard kill between write and replace orphans one ``.part.*``
    file; it is INERT (readers address the exact target path, never
    globs) and is deliberately not swept — a sweep could unlink the
    live tmp of a concurrent speculative writer and fail its replace."""
    from series_tiempo_ar_scraping_spark.sinks.atomic import (
        atomic_output_path,
    )

    with atomic_output_path(file_path) as tmp:
        with open(tmp, "wb") as fh:
            fh.write(data)


def download(url: str, tries: int = DEFAULT_TRIES, retry_delay: float = RETRY_DELAY,
             timeout: float = 30.0, verify: bool = True,
             proxies: dict | None = None) -> bytes:
    """S1 — GET with retries (``download.py:13-50``).

    ``proxies`` follows the reference's contract (``download.py:24-27``):
    a dict with ``http``/``https`` keys mapping to proxy URLs, forwarded
    verbatim to the HTTP client — government data networks commonly
    require an egress proxy."""

    def get(u: str) -> bytes:
        import requests

        resp = requests.get(u, timeout=timeout, verify=verify, proxies=proxies)
        resp.raise_for_status()
        return resp.content

    data, attempts, err = _attempt_fetch(get, url, tries, retry_delay)
    if data is None:
        raise RuntimeError(
            f"download failed after {attempts} tries: {url} ({err})"
        )
    return data


def download_to_file(url: str, file_path: str, replace: bool = True, **kw) -> str:
    """S2/S3 + V8 — download to landing path; skip when present and
    ``replace`` is False (``base.py:155-163,922-925``)."""
    if os.path.exists(file_path) and not replace:
        return file_path
    _atomic_write(file_path, download(url, **kw))
    return file_path


DOWNLOAD_RESULT_SCHEMA = (
    "url string, file_path string, ok boolean, n_bytes bigint, "
    "attempts int, error string"
)


def download_many(
    tasks,
    replace: bool = True,
    tries: int = DEFAULT_TRIES,
    retry_delay: float = RETRY_DELAY,
    timeout: float = 30.0,
    verify: bool = True,
    proxies: dict | None = None,
    partition_by_host: bool = False,
    n_partitions: int | None = None,
    fetch=None,
):
    """S1 at fleet scale (SURVEY S1; reference ``download.py:13-50`` is
    the per-URL driver loop): an executor-side downloader over a URL
    task frame.

    ``tasks`` is a DataFrame with columns ``url`` and ``file_path``.
    Returns a status frame (one row per task: ok / n_bytes / attempts /
    error) — V7 semantics: a failed download is a row, never an
    exception, so one dead mirror can't kill a million-URL sweep.

    Scale shape: the task frame is repartitioned (round-robin by
    default, so no single partition hammers one host sequentially;
    ``partition_by_host=True`` groups each host into one partition for
    connection reuse / politeness) and the fetch loop runs inside
    ``mapInPandas`` — per-executor parallelism, no driver involvement,
    status rows come back as a DataFrame to join against the catalog.
    ``file_path`` must be on storage every executor can reach (shared
    FS / object store); in local mode that is trivially true. Retry /
    skip-if-exists (V8) semantics match ``download_to_file``; the
    atomic ``.part`` + rename means a crashed executor never leaves a
    half-written landing file that a later ``replace=False`` run would
    trust.

    ``fetch`` (url -> bytes) injects the transport for tests; the
    default uses ``requests`` with the same timeout/verify/proxies
    contract as ``download``.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from series_tiempo_ar_scraping_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(tasks.sparkSession)
    t = tasks.select("url", "file_path")
    nparts = n_partitions or tasks.sparkSession.sparkContext.defaultParallelism
    if partition_by_host:
        t = t.repartition(nparts, F.expr("parse_url(url, 'HOST')"))
    else:
        t = t.repartition(nparts)

    def _default_fetch(url: str) -> bytes:
        import requests

        resp = requests.get(url, timeout=timeout, verify=verify, proxies=proxies)
        resp.raise_for_status()
        return resp.content

    get = fetch or _default_fetch

    def run(batches):
        for pdf in batches:
            rows = []
            for url, path in zip(pdf["url"], pdf["file_path"]):
                if os.path.exists(path) and not replace:
                    rows.append(
                        (url, path, True, os.path.getsize(path), 0, None)
                    )
                    continue
                data, attempts, err = _attempt_fetch(
                    get, url, tries, retry_delay
                )
                if data is None:
                    rows.append((url, path, False, None, attempts, err))
                    continue
                try:
                    _atomic_write(path, data)
                    rows.append(
                        (url, path, True, len(data), attempts, None)
                    )
                except OSError as exc:
                    rows.append((url, path, False, None, attempts, repr(exc)))
            from series_tiempo_ar_scraping_spark.operators.multimodal import (
                typed_pdf,
            )

            yield typed_pdf(rows, DOWNLOAD_RESULT_SCHEMA)

    return t.mapInPandas(run, DOWNLOAD_RESULT_SCHEMA)
