"""S6/S7 — direct-download CSV / TXT distribution readers → long form.

The reference's CSVReader fetches ``downloadURL``, parses the CSV, and sets
``indice_tiempo`` as a datetime index (``processors.py:30-48``); the TXT
path parses a delimited text file (``processors.py:51-80``, series-tiempo-ar
``load_ts_distribution``). Both converge on the same wide frame contract
(SURVEY EP3 narrow waist). Here both are one bulk reader,
``read_distributions_bulk``: one text scan per delimiter (TXT files group
by ``sniff_txt_sep``, with comma-decimal normalization), melted to the
canonical long form. ``read_distribution_csv`` is the per-file Spark CSV
reader the tests hold the bulk reader against.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.scalars import missing_to_null
from series_tiempo_ar_scraping_spark.session import local_frame

TIME_INDEX = "indice_tiempo"


def read_wide_csv(spark: SparkSession, path: str, sep: str = ",") -> DataFrame:
    """Read a standardized wide distribution file (first column
    ``indice_tiempo``, one column per series title)."""
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def normalize_decimal_comma(col):
    """Argentine numeric text → dot-decimal: ``1.234,56`` → ``1234.56``,
    ``812,5`` → ``812.5``. Dots are stripped ONLY when the value also
    contains a decimal comma — that's the unambiguous AR form. A
    dot-only value like ``812.500`` is left untouched: it matches the
    AR thousands shape too, and rewriting it to ``812500`` would be a
    1000× corruption of a genuine dot-decimal in a mixed-convention
    file. (AR files that write thousands without decimals lose the
    grouping dots' meaning here — the safe direction.)"""
    ar_full = col.rlike(r"^-?\d{1,3}(\.\d{3})*,\d+$")
    comma_only = col.rlike(r"^-?\d+,\d+$")
    return (
        F.when(ar_full, F.translate(F.translate(col, ".", ""), ",", "."))
        .when(comma_only, F.translate(col, ",", "."))
        .otherwise(col)
    )


def melt_wide(
    wide: DataFrame,
    catalog_id: str,
    dataset_id: str,
    distribution_id: str,
    decimal_comma: bool = False,
) -> DataFrame:
    """Wide → canonical long observations via ``stack`` (JVM-side unpivot;
    the inverse of the sink-side pivot — SURVEY §1.3 long-form mapping).

    Values pass through the missing-token cleanse (X8) so direct-download
    files get the same null semantics as scraped ones; ``decimal_comma``
    additionally normalizes comma-decimal numerics (the TXT convention).
    """
    series_cols = [c for c in wide.columns if c != TIME_INDEX]
    if not series_cols:
        raise ValueError(f"no series columns in wide frame: {wide.columns}")
    pairs = ", ".join(f"'{c}', `{c}`" for c in series_cols)
    long = wide.select(
        F.to_date(F.col(TIME_INDEX)).alias("ts"),
        F.expr(
            f"stack({len(series_cols)}, {pairs}) as (series_title, raw_value)"
        ),
    )
    raw = F.col("raw_value")
    if decimal_comma:
        # normalize BEFORE the cleanse: missing_to_null casts to double,
        # and comma-decimals must be rewritten while still strings.
        raw = normalize_decimal_comma(raw)
    value = missing_to_null(raw)
    return long.select(
        F.lit(catalog_id).alias("catalog_id"),
        F.lit(dataset_id).alias("dataset_id"),
        F.lit(distribution_id).alias("distribution_id"),
        F.col("series_title").alias("series_id"),
        "series_title",
        "ts",
        value.alias("value"),
    )


def read_distribution_csv(
    spark: SparkSession,
    path: str,
    catalog_id: str,
    dataset_id: str,
    distribution_id: str,
    sep: str = ",",
) -> DataFrame:
    """S6 — one direct-download CSV → long (``processors.py:30-48``)
    through the Spark CSV reader. The pipeline reads with
    ``read_distributions_bulk``; this per-file form is the reference
    implementation its tests compare against."""
    return melt_wide(
        read_wide_csv(spark, path, sep), catalog_id, dataset_id, distribution_id
    )


_TXT_SEPS = ["\t", ";", "|", ","]


def sniff_txt_sep(path: str) -> str:
    """Pick the delimiter with the most occurrences in the header line.

    One driver-side metadata read per file — the same cost class as the
    reference resolving the file path (``processors.py:62-67``); the data
    scan itself stays distributed."""
    with open(path, "rb") as fh:
        header = fh.readline().decode("utf-8", "replace")
    counts = {s: header.count(s) for s in _TXT_SEPS}
    best = max(_TXT_SEPS, key=lambda s: counts[s])
    return best if counts[best] > 0 else ","


def read_distributions_bulk(
    spark: SparkSession,
    items: list[tuple[str, str, str, str]],
    sep: str = ",",
    decimal_comma: bool = False,
) -> tuple[DataFrame, list[tuple[str, str, str, str]]]:
    """S6/S7 at metadata scale: ALL same-delimiter distribution files in
    one scan, whose job count does not grow with the file count.

    ``items`` is ``[(catalog_id, dataset_id, distribution_id, path)]``.
    The per-file loop (one ``spark.read.csv`` per distribution) is O(n)
    driver-scheduled jobs — the read-side twin of the sink-loop problem.
    Here every file lands in one ``spark.read.text`` scan; each file's
    header line (first field == ``indice_tiempo``, the K1 contract) is
    aggregated per file and broadcast back, and data lines melt to the
    canonical long form with ``posexplode`` against the file's own
    header — so files with entirely different column sets coexist in one
    plan.

    V7 error channel: files that yield no parseable header (corrupt
    payloads, wrong format) produce NO observation rows; they are
    returned as error tuples ``(catalog_id, dataset_id, distribution_id,
    reason)`` for the report, never an exception. Returns
    ``(observations, errors)``.

    Lines split on the bare separator, with no CSV quoting: a header line
    holding a ``"`` is not a parseable header, so a quoted file gets the
    V7 error tuple instead of series misaligned under split titles. A
    data line whose index is not a date, or which has more fields than
    its header, keeps its values under a null ``ts``: V4 marks the
    distribution ERROR.
    """
    import re as _re

    if not items:
        raise ValueError("read_distributions_bulk: empty item list")
    dim = local_frame(
        spark,
        [(os.path.abspath(p), cid, did, rid) for cid, did, rid, p in items],
        "abspath string, catalog_id string, dataset_id string,"
        " distribution_id string",
    )
    paths = sorted({os.path.abspath(p) for *_ids, p in items})
    # input_file_name() returns the file URI with percent-encoded path
    # characters (space → %20, accents → %C3%…) — url_decode restores the
    # raw path so it joins os.path.abspath on the dim side; literal '+'
    # is pre-escaped because url_decode form-decodes it to a space.
    decoded_path = F.expr(
        "url_decode(replace(regexp_replace(input_file_name(),"
        " '^file:/*', '/'), '+', '%2B'))"
    )
    raw = (
        spark.read.text(paths)
        .select(decoded_path.alias("abspath"), "value")
        .filter(F.length("value") > 0)
    )
    parts = F.split(F.col("value"), _re.escape(sep))
    headers = (
        raw.filter(
            (parts.getItem(0) == TIME_INDEX) & ~F.col("value").contains('"')
        )
        .groupBy("abspath")
        .agg(F.first(parts).alias("titles"))
    )
    data = raw.filter(parts.getItem(0) != TIME_INDEX)
    joined = data.join(F.broadcast(headers), "abspath").join(
        F.broadcast(dim), "abspath"
    )
    # A non-date index or a line wider than its header gets a null ts,
    # which V4 reports as ERROR (the reference's pandas parse fails on
    # both); fields past the header are dropped.
    width = F.size("titles")
    exploded = joined.select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        F.when(F.size(parts) <= width, parts.getItem(0).try_cast("date"))
        .alias("ts"),
        F.posexplode(F.slice(parts, 2, width - 1)).alias("pos", "raw_value"),
        F.col("titles"),
    )
    raw_val = F.col("raw_value")
    if decimal_comma:
        raw_val = normalize_decimal_comma(raw_val)
    obs = exploded.select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        F.element_at("titles", F.col("pos") + 2).alias("series_id"),
        F.element_at("titles", F.col("pos") + 2).alias("series_title"),
        "ts",
        missing_to_null(raw_val).alias("value"),
    )
    # V7: distributions whose file produced no header row → error tuples
    # (the header inner-join already excluded their lines from obs).
    ok_paths = {r.abspath for r in headers.select("abspath").collect()}
    errors = [
        (cid, did, rid, f"no parseable header in {p}")
        for cid, did, rid, p in items
        if os.path.abspath(p) not in ok_paths
    ]
    return obs, errors
