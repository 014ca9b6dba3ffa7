"""K1/K7/K8 — standardized wide-CSV sink + metadata rewrite/scrub.

The reference writes one CSV per distribution at
``.../catalog/{cid}/dataset/{did}/distribution/{rid}/download/{fileName}``
with ``index_label='indice_tiempo'`` (``base.py:266-279``, path scheme
``base.py:242-249,336-341,650-655``), then rewrites ``downloadURL`` (K7,
``base.py:221-236``) and scrubs scraping-only keys before publishing (K8,
``base.py:657-677``).

Single-file-per-distribution is a *contract*, not a scale problem: each
distribution is small (one time series table); millions of them
parallelize as independent writes. The long observations frame is also
written as partitioned parquet — that's the analytical sink that scales.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import (
    SCRAPING_ONLY_DISTRIBUTION_KEYS,
    SCRAPING_ONLY_FIELD_KEYS,
)
from series_tiempo_ar_scraping_spark.functions.scalars import host_rewrite
from series_tiempo_ar_scraping_spark.operators.filters import value_fields

TIME_INDEX = "indice_tiempo"


def distribution_dir(output_dir: str, catalog_id: str, dataset_id: str, distribution_id: str) -> str:
    """Path contract parity: ``base.py:242-249``."""
    return os.path.join(
        output_dir,
        "catalog",
        catalog_id,
        "dataset",
        dataset_id,
        "distribution",
        distribution_id,
        "download",
    )


def _csv_field(text):
    """Quote one header field as pandas ``to_csv`` does (QUOTE_MINIMAL)."""
    return F.when(
        text.rlike('[,"\\r\\n]'),
        F.concat(F.lit('"'), F.regexp_replace(text, '"', '""'), F.lit('"')),
    ).otherwise(text)


def write_wide_csvs_bulk(
    observations: DataFrame,
    fields: DataFrame,
    output_dir: str,
    file_names: dict[tuple[str, str, str], str | None],
    replace: bool = True,
) -> list[str]:
    """K1 at scale: every distribution's wide CSV from one write.

    The per-distribution loop (filter + coalesce(1) + write, O(n) jobs)
    dies at metadata scale — thousands of distributions means thousands
    of driver-scheduled jobs. This renders each CSV's *lines* inside a
    single distributed plan instead:

    1. declared column order per distribution from the fields frame
       (K1 contract: field declaration order, ``base.py:266-279``);
    2. one row per (distribution, ts) holding its title/value pairs;
    3. header + data lines as strings (double→string via the same JVM
       ``Double.toString`` the CSV writer uses, so bytes match);
    4. one ``partitionBy(catalog, dataset, distribution)`` text write —
       rows hash-repartitioned by distribution so each partition dir
       gets exactly one part file, headers sorted first;
    5. a driver-side rename pass moving each part file to the
       ``.../download/{fileName}`` contract path (pure filesystem
       metadata — no Spark jobs).

    The Spark job count does not grow with the number of distributions,
    nor with the number of catalogs they come from. It is not 1: AQE
    query stages, and the lazy frames ``observations`` is built from,
    run as jobs inside this write. V8 skip-if-exists
    honored by pre-filtering distributions whose target already exists.
    Values are numeric; a header title holding ``,``, ``"``, CR or LF is
    quoted the way pandas ``to_csv`` quotes it (wrapped in ``"``, inner
    ``"`` doubled), so every line parses to as many fields as the header.
    """
    import shutil

    # Distribution ids ('1.1', …) are catalog-scoped in the reference, so
    # targets and the V8 skip set key on the FULL (catalog, dataset,
    # distribution) triple — keying on distribution_id alone would let two
    # catalogs' same-id distributions clobber each other's CSV.
    skip: set[tuple[str, str, str]] = set()
    targets: dict[tuple[str, str, str], str] = {}
    for (cid, did, rid), fname in file_names.items():
        out = os.path.join(
            distribution_dir(output_dir, cid, did, rid), fname or f"{rid}.csv"
        )
        targets[(cid, did, rid)] = out
        if os.path.exists(out) and not replace:
            skip.add((cid, did, rid))
    obs = observations
    if skip:
        keep = ~functools.reduce(
            lambda a, b: a | b,
            [
                (F.col("catalog_id") == c)
                & (F.col("dataset_id") == d)
                & (F.col("distribution_id") == r)
                for c, d, r in sorted(skip)
            ],
        )
        obs = obs.filter(keep)

    # Titles key on as much of the (catalog, dataset, distribution)
    # triple as the fields frame carries — distribution_id alone would
    # merge two catalogs' same-id field declarations into one header.
    title_keys = [
        k
        for k in ("catalog_id", "dataset_id", "distribution_id")
        if k in fields.columns
    ]
    titles = (
        value_fields(fields)
        .groupBy(*title_keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("field_order", "title"))
            ).alias("ft")
        )
        .select(
            *title_keys,
            F.transform("ft", lambda s: s["title"]).alias("titles"),
        )
    )
    # title/value pairs, not a map: a title repeated at one ts (a
    # duplicate date, or several null-ts lines, both V4 ERRORs) would be
    # a duplicate map key, which raises
    cells = obs.groupBy(
        "catalog_id", "dataset_id", "distribution_id", "ts"
    ).agg(F.collect_list(F.struct("series_title", "value")).alias("m"))
    with_titles = cells.join(F.broadcast(titles), title_keys)
    data_lines = with_titles.select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        F.lit(1).alias("ord"),
        F.col("ts"),
        F.concat_ws(
            ",",
            F.concat(
                # a null ts (a V4 ERROR) keeps its empty field
                F.array(F.coalesce(F.col("ts").cast("string"), F.lit(""))),
                F.transform(
                    "titles",
                    lambda t: F.coalesce(
                        F.get(
                            F.filter("m", lambda e: e["series_title"] == t), 0
                        )["value"].cast("string"),
                        F.lit(""),
                    ),
                ),
            ),
        ).alias("line"),
    )
    header_lines = (
        obs.select("catalog_id", "dataset_id", "distribution_id")
        .distinct()
        .join(F.broadcast(titles), title_keys)
        .select(
            "catalog_id",
            "dataset_id",
            "distribution_id",
            F.lit(0).alias("ord"),
            F.lit(None).cast(data_lines.schema["ts"].dataType).alias("ts"),
            F.concat_ws(
                ",",
                F.concat(
                    F.array(F.lit(TIME_INDEX)),
                    F.transform("titles", _csv_field),
                ),
            ).alias("line"),
        )
    )
    # under output_dir: the rename pass stays on one filesystem, and the
    # leftover of a run killed mid-pass is overwritten by the next write
    staging = os.path.join(output_dir, "_wide_csv_staging")
    try:
        (
            header_lines.unionByName(data_lines)
            .repartition(F.col("distribution_id"))
            # Sort MUST lead with the partition columns: FileFormatWriter
            # re-sorts on them when the incoming ordering doesn't already
            # satisfy it, and that sort is not stable — leading with them
            # makes the writer reuse this sort, preserving (ord, ts).
            .sortWithinPartitions(
                "catalog_id", "dataset_id", "distribution_id", "ord", "ts"
            )
            .select("catalog_id", "dataset_id", "distribution_id", "line")
            .write.mode("overwrite")
            .partitionBy("catalog_id", "dataset_id", "distribution_id")
            .text(staging)
        )
        written: list[str] = []
        for root, _dirs, files in os.walk(staging):
            parts = [f for f in files if f.startswith("part-")]
            if not parts:
                continue
            # partition dir names are Hive-escaped (space → %20, ':' →
            # %3A, …) — unescape so ids with special characters resolve
            # to their declared fileName targets instead of literal
            # percent-encoded paths; a null id partition dir
            # (__HIVE_DEFAULT_PARTITION__) maps back to None.
            from urllib.parse import unquote

            def _unescape(v: str) -> str | None:
                return None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)

            kv = {
                k: _unescape(v)
                for k, v in (
                    seg.split("=", 1)
                    for seg in root[len(staging):].strip("/").split("/")
                    if "=" in seg
                )
            }
            cid = kv.get("catalog_id") or "_"
            did = kv.get("dataset_id") or "_"
            rid = kv.get("distribution_id")
            out = targets.get((cid, did, rid)) or os.path.join(
                distribution_dir(output_dir, cid, did, rid or "_"),
                f"{rid}.csv",
            )
            os.makedirs(os.path.dirname(out), exist_ok=True)
            os.replace(os.path.join(root, parts[0]), out)
            written.append(out)
        return sorted(written)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_observations_parquet(obs: DataFrame, path: str) -> None:
    """The scale sink: long form partitioned by ``catalog_id`` (and
    ``freq_code`` when present) — partition pruning covers the dominant
    access patterns (per-catalog republish, per-frequency validation).
    ``series_id`` stays *unpartitioned* (cardinality too high for
    directories) but rows sort by (series_id, ts) within partitions, so
    parquet row-group min/max stats skip non-matching groups on
    per-series reads — poor-man's clustering, no shuffle beyond the sort.
    """
    parts = ["catalog_id"] + (["freq_code"] if "freq_code" in obs.columns else [])
    (
        obs.sortWithinPartitions("series_id", "ts")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(path)
    )


def rewrite_download_urls(distributions: DataFrame, output_dir: str, host: str) -> DataFrame:
    """K7 — point each distribution's downloadURL at the published file
    (``base.py:221-236``)."""
    path = F.concat_ws(
        "/",
        F.lit(output_dir),
        F.lit("catalog"),
        F.col("catalog_id"),
        F.lit("dataset"),
        F.col("dataset_id"),
        F.lit("distribution"),
        F.col("distribution_id"),
        F.lit("download"),
        F.col("fileName"),
    )
    return distributions.withColumn(
        "downloadURL", host_rewrite(path, output_dir, host)
    )


def scrub_scraping_metadata(distributions: DataFrame, fields: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K8 — drop scraping-only keys before publication (``base.py:657-677``)."""
    d = distributions.drop(
        *[c for c in SCRAPING_ONLY_DISTRIBUTION_KEYS if c in distributions.columns]
    )
    f = fields.drop(*[c for c in SCRAPING_ONLY_FIELD_KEYS if c in fields.columns])
    return d, f


def compact_observations_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
) -> dict:
    """Small-file compaction for the partitioned observations store.

    Continuous ingestion (the foreachBatch streaming sink, incremental
    catalog runs) accretes many small files per partition; scans then pay
    per-file open/footer costs and lose row-group locality. This rewrites
    each partition's data into ~``target_file_mb`` files: read →
    repartition to ceil(bytes/target) → overwrite with dynamic partition
    overwrite (only partitions present in the input are replaced, so a
    compaction pass over one catalog never touches the others).

    Returns {"files_before": n, "files_after": m}. At 100 TB this runs
    per-partition-subtree as a maintenance job; the partitionOverwriteMode
    setting is what makes it safe to run incrementally.
    """
    import os

    def count_parquet_files(root: str) -> int:
        total = 0
        for _dir, _sub, files in os.walk(root):
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    # Crash recovery for the batch_id-folding swap below (r11, found by
    # the WAP crash-enumeration pattern): a death between its two
    # renames leaves the store stranded at __precompact and every later
    # read of `path` failing. Same contract as the WAP rename mode —
    # restore when the live path is missing, clear the leftover when
    # both exist (the swap completed, only cleanup died).
    old = path.rstrip("/") + "__precompact"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    elif os.path.exists(old):
        import shutil as _shutil

        _shutil.rmtree(old, ignore_errors=True)

    before = count_parquet_files(path)
    size_bytes = 0
    for _dir, _sub, files in os.walk(path):
        size_bytes += sum(
            os.path.getsize(os.path.join(_dir, f))
            for f in files
            if f.endswith(".parquet")
        )
    df = spark.read.parquet(path)
    parts = [
        f.name
        for f in df.schema.fields
        if f.name in ("catalog_id", "freq_code")
    ]
    n_files = max(1, -(-size_bytes // (target_file_mb * 1024 * 1024)))
    if "batch_id" in df.columns:
        # A store written by stream_append_parquet partitions by
        # batch_id first; compaction FOLDS that level away. An in-place
        # dynamic overwrite would leave the old batch_id=N trees beside
        # the new catalog_id=X trees (duplicated rows + a conflicting
        # partition layout on the next read), so the rewrite goes to a
        # staging dir and swaps in atomically-enough via renames.
        import shutil as _shutil

        staging = path.rstrip("/") + "__compacting"
        (
            df.drop("batch_id")
            .repartition(n_files, *(parts or ["series_id"]))
            .sortWithinPartitions("series_id", "ts")
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(staging)
        )
        os.rename(path, old)
        os.rename(staging, path)
        _shutil.rmtree(old, ignore_errors=True)
        return {
            "files_before": before,
            "files_after": count_parquet_files(path),
        }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.repartition(n_files, *(parts or ["series_id"]))
            .sortWithinPartitions("series_id", "ts")
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {"files_before": before, "files_after": count_parquet_files(path)}
