"""S8 (extraction half) — workbook → long ``cells`` frame.

The reference hands each Excel workbook to xlseries
(``processors.py:107-221``) — an opaque pandas-based scraper. The
Spark-native design splits S8 in two:

1. **extraction** (this module): parse each workbook *once* into a long
   ``cells(file, sheet, row, col, value)`` frame — the relational
   equivalent of the reference's open-once workbook cache
   (``context['xl']``, ``base.py:574-587``);
2. **scraping** (``scrape.py``): pure DataFrame algebra over ``cells``.

Extraction is the engine's one genuinely imperative source. It runs as
``mapInPandas`` over a frame of file paths — one task per workbook, Arrow
batches out — so a million workbooks on a cluster parallelize trivially
and each file is opened exactly once.

``.xlsx`` parsing is stdlib-only (``sources/xlsx.py``: zipfile + OOXML
XML); the JSONL cells fixture format exercises identical Spark-side
plumbing for grids produced elsewhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("sheet", T.StringType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def _extract_one(path: str, by_path: bool = False) -> pd.DataFrame:
    """Parse one workbook file into a cells pandas frame whose ``file``
    is the file name, or the full path when ``by_path``."""
    fname = path if by_path else path.rsplit("/", 1)[-1]
    if path.endswith(".jsonl"):
        # Fixture format: one JSON object per line with file/sheet/row/col/value.
        df = pd.read_json(path, lines=True)
        df["file"] = fname
        return df[["file", "sheet", "row", "col", "value"]].astype(
            {"row": "int32", "value": "string"}
        )
    if path.endswith(".xlsx"):
        # Stdlib OOXML parse (sources/xlsx.py) — no openpyxl needed.
        from series_tiempo_ar_scraping_spark.sources.xlsx import iter_cells

        rows = [
            (fname, sheet, row, col, value)
            for sheet, row, col, value in iter_cells(path)
        ]
        from series_tiempo_ar_scraping_spark.operators.multimodal import (
            typed_pdf,
        )

        return typed_pdf(rows, CELLS_SCHEMA)
    if path.endswith(".xls"):
        # Stdlib BIFF8/CFB parse (sources/xls.py) — no xlrd needed; the
        # reference routes .xls and .xlsx alike (base.py:134,144).
        from series_tiempo_ar_scraping_spark.sources.xls import iter_cells_xls

        rows = [
            (fname, sheet, row, col, value)
            for sheet, row, col, value in iter_cells_xls(path)
        ]
        from series_tiempo_ar_scraping_spark.operators.multimodal import (
            typed_pdf,
        )

        return typed_pdf(rows, CELLS_SCHEMA)
    raise NotImplementedError(f"unsupported workbook format: {path}")


def extract_cells(spark: SparkSession, paths: list[str], by_path: bool = False) -> DataFrame:
    """Distributed extraction: one task per workbook via ``mapInPandas``.

    The path list is tiny (it's the A1-deduped source set); each file is
    parsed exactly once (the reference's open-once cache, relationally).
    Cells are keyed by file name, or by full path when ``by_path`` (two
    catalogs' different workbooks may share a file name).
    """
    from series_tiempo_ar_scraping_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    paths_df = spark.createDataFrame(
        [(p,) for p in paths], T.StructType([T.StructField("path", T.StringType())])
    ).repartition(max(1, len(paths)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                yield _extract_one(p, by_path)

    return paths_df.mapInPandas(run, CELLS_SCHEMA)
