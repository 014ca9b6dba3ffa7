"""Unit tests for the scalar expression library (SURVEY §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.scalars import (
    cell_coord_col,
    cell_coord_row,
    file_extension,
    freq_iso_to_code,
    host_rewrite,
    missing_to_null,
    stable_hash64,
    strip_spaces,
    url_basename,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _vals(spark, rows, expr_fn):
    df = spark.createDataFrame([(r,) for r in rows], ["x"])
    return [r["v"] for r in df.select(expr_fn(F.col("x")).alias("v")).collect()]


def test_cell_coord_row(spark):
    # parity: processors.py:223-228 (ValueError -> NULL per V7)
    assert _vals(spark, ["A8", "AB12", "a1", "8A", "", "A"], cell_coord_row) == [
        8, 12, 1, None, None, None,
    ]


def test_cell_coord_col(spark):
    assert _vals(spark, ["A8", "ab12", "8A"], cell_coord_col) == ["A", "AB", None]


def test_freq_map(spark):
    # parity: processors.py:230-238 (KeyError -> NULL per V7)
    assert _vals(
        spark, ["R/P1Y", "R/P6M", "R/P3M", "R/P1M", "R/P1D", "R/P2Y"], freq_iso_to_code
    ) == ["Y", "S", "Q", "M", "D", None]


def test_file_extension_and_basename(spark):
    # parity: base.py:134,144 and base.py:560
    assert _vals(spark, ["http://x/a/b.XLSX", "f.txt"], file_extension) == [
        "xlsx", "txt",
    ]
    assert _vals(spark, ["http://x/a/b.csv", "plain"], url_basename) == [
        "b.csv", "plain",
    ]


def test_ascii_case_folds_skip_icu(spark):
    # Spark 4's lower()/upper() go through ICU, whose first use in a JVM
    # allocates ~2.9 GB building its tables; the pass's folds are ASCII
    for expr in (file_extension(F.col("x")), cell_coord_col(F.col("x"))):
        text = str(expr).lower()
        assert "translate(" in text
        assert "lower(" not in text and "upper(" not in text


def test_missing_tokens(spark):
    # parity: processors.py:90-95 token list; malformed numerics -> NULL
    vals = _vals(
        spark,
        ["s.d.", "", " ", "-", "x", "n/d", "3.14", "  7 ", "abc", "..."],
        missing_to_null,
    )
    assert vals == [None, None, None, None, None, None, 3.14, 7.0, None, None]


def test_strip_spaces(spark):
    # parity: base.py:946-948
    assert _vals(spark, [" a b  c "], strip_spaces) == ["abc"]


def test_host_rewrite(spark):
    # parity: base.py:230-236 (containment check else empty string)
    out = _vals(
        spark,
        ["/out/catalog/x.csv", "/elsewhere/x.csv"],
        lambda c: host_rewrite(c, "/out", "http://h"),
    )
    assert out == ["http://h/catalog/x.csv", ""]


def test_stable_hash64_matches_duckdb(spark):
    import duckdb

    rows = ["abc", "", "hello world"]
    got = _vals(spark, rows, stable_hash64)
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [r]
        ).fetchone()[0]
        for r in rows
    ]
    assert got == want
