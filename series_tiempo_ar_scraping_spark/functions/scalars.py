"""Scalar expression library (SURVEY §2.9, X1-X11).

Each helper reproduces a scalar computation of the reference as a Catalyst
expression (JVM-side, codegen-able). Citations are ``file:line`` into
``/root/reference``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.config import (
    CELL_COORD_REGEX,
    FREQ_ISO_TO_CODE,
    MISSING_TOKENS,
)


# ASCII case maps for ``F.translate``. Spark 4 routes lower()/upper()
# through ICU, whose first use in a JVM builds its break-iterator tables:
# about 2.9 GB of short-lived allocation in a second (JFR allocation
# samples of one ETL pass), which set the driver heap's growth for the
# rest of the pass. The pass only folds ASCII: A1 column letters and the
# file extensions it routes on.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = _UPPER.lower()


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def cell_coord_row(coord: Column | str) -> Column:
    """X1 — A1-style coordinate → 1-based row number (``processors.py:223-228``).

    Reference raises ``ValueError`` on mismatch; here a non-matching coord
    yields NULL (error-channel semantics, V7) for the caller to route.
    """
    c = _col(coord)
    extracted = F.regexp_extract(c, CELL_COORD_REGEX, 1)
    return F.when(extracted != "", extracted.cast("int")).otherwise(F.lit(None))


def cell_coord_col(coord: Column | str) -> Column:
    """A1-style coordinate → column letters (e.g. ``'AB12'`` → ``'AB'``)."""
    c = _col(coord)
    letters = F.regexp_extract(c, r"^([A-Za-z]+)\d+$", 1)
    return F.when(letters != "", F.translate(letters, _LOWER, _UPPER)).otherwise(
        F.lit(None)
    )


def freq_iso_to_code(freq: Column | str) -> Column:
    """X2 — ISO-8601 repeat duration → frequency code (``processors.py:230-238``).

    Unknown frequency → NULL (reference raises KeyError; see V7).
    """
    c = _col(freq)
    mapping = F.create_map(
        *[F.lit(x) for kv in FREQ_ISO_TO_CODE.items() for x in kv]
    )
    return mapping[c]


def file_extension(url: Column | str) -> Column:
    """X3 — lowercased extension: ``url.split('.')[-1].lower()``
    (``base.py:134,144``), folding ASCII letters only: the extensions
    routing compares against are ASCII."""
    c = _col(url)
    return F.translate(F.element_at(F.split(c, r"\."), -1), _UPPER, _LOWER)


def url_basename(url: Column | str) -> Column:
    """X4 — ``url.split('/')[-1]`` (``base.py:560,580,584-585``)."""
    return F.element_at(F.split(_col(url), "/"), -1)


def host_rewrite(path: Column | str, output_dir: str, host: str) -> Column:
    """X5 — replace the output-dir prefix with the public host, guarded by a
    containment check; empty string when absent (``base.py:230-236``)."""
    c = _col(path)
    return F.when(
        c.contains(F.lit(output_dir)),
        F.replace(c, F.lit(output_dir), F.lit(host)),
    ).otherwise(F.lit(""))


def strip_spaces(s: Column | str) -> Column:
    """X6 — remove all spaces from ids/titles (``base.py:946-948``)."""
    return F.regexp_replace(_col(s), " ", "")


def missing_to_null(value: Column | str) -> Column:
    """X8 — missing-token coercion (``processors.py:90-95``): any of the
    declared tokens (or NULL) → NULL, else cast to DOUBLE.

    ``try_cast`` (not ``cast``) so malformed numerics become NULL instead of
    failing the task — per-record error isolation (V7) at 100 TB means a bad
    cell must never kill a partition.
    """
    c = _col(value)
    cleaned = F.trim(c)
    return F.when(
        c.isNull() | cleaned.isin(*[t for t in MISSING_TOKENS if t.strip() != ""]) | (cleaned == ""),
        F.lit(None).cast("double"),
    ).otherwise(c.cast("string").try_cast("double"))


def stable_hash64(s: Column | str) -> Column:
    """Deterministic 60-bit integer hash from md5 — stable across engines
    (same expression is reproducible in DuckDB as
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``), unlike Spark's
    ``xxhash64``/``hash`` which are Spark-specific.

    Used by dedup/minhash so the DuckDB oracle can verify bit-exactly.
    """
    c = _col(s)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")

