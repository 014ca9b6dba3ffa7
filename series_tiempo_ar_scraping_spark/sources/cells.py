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

One parser, ``iter_file_cells``, serves this extraction and the
``workbook_cells`` DataSource (``sources/datasource.py``), so both mounts
see the same cells: ``.xlsx`` (stdlib OOXML, ``sources/xlsx.py``),
``.xls`` (stdlib BIFF8, ``sources/xls.py``) and the JSONL cells fixture
format, with only non-empty cells yielded. A file that fails to parse
(missing, corrupt, unsupported) yields NO cells here: every series
declared on it then fails the V5 header check, so its distribution costs
one ERROR report row (V7) instead of the pass. The DataSource raises
instead.
"""

from __future__ import annotations

import json
import logging
import os
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


def _jsonl_cells(path: str) -> Iterator[tuple[str, int, str, str]]:
    """The JSONL cells fixture format: one JSON object per line with
    sheet/row/col/value. Like the workbook readers, null or empty values
    are absent cells (never the string 'None'); a malformed line is
    skipped."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                rec = json.loads(line)
                value = rec["value"]
                if value is not None and value != "":
                    yield rec["sheet"], int(rec["row"]), rec["col"], str(value)
            except (KeyError, ValueError, TypeError):
                continue


def iter_file_cells(path: str, name: str) -> Iterator[tuple]:
    """One workbook or JSONL cells file -> ``(name, sheet, row, col,
    value)`` for every non-empty cell. Raises when the file cannot be
    opened or its format is unsupported."""
    if path.endswith(".xlsx"):
        from series_tiempo_ar_scraping_spark.sources.xlsx import (
            iter_cells as cells,
        )
    elif path.endswith(".xls"):
        # the reference routes .xls and .xlsx alike (base.py:134,144)
        from series_tiempo_ar_scraping_spark.sources.xls import (
            iter_cells_xls as cells,
        )
    elif path.endswith(".jsonl"):
        cells = _jsonl_cells
    else:
        raise NotImplementedError(f"unsupported workbook format: {path}")
    for cell in cells(path):
        yield (name, *cell)


def extract_cells(spark: SparkSession, paths: list[str], by_path: bool = False) -> DataFrame:
    """Distributed extraction: one task per workbook via ``mapInPandas``.

    The path list is tiny (it's the A1-deduped source set); each file is
    parsed exactly once (the reference's open-once cache, relationally).
    Cells are keyed by file name, or by full path when ``by_path`` (two
    catalogs' different workbooks may share a file name). A file that
    fails to parse contributes no cells (V7).
    """
    from series_tiempo_ar_scraping_spark.session import (
        ensure_package_on_executors,
        local_frame,
    )

    ensure_package_on_executors(spark)
    paths_df = local_frame(spark, [(p,) for p in paths], "path string").repartition(
        max(1, len(paths))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from series_tiempo_ar_scraping_spark.operators.multimodal import (
            typed_pdf,
        )

        for pdf in batches:
            for p in pdf["path"]:
                name = p if by_path else os.path.basename(p)
                try:
                    rows = list(iter_file_cells(p, name))
                except Exception:  # noqa: BLE001 — V7: no cells, ERROR row
                    logging.getLogger(__name__).warning(
                        "no cells from unparseable workbook %s", p, exc_info=True
                    )
                    rows = []
                yield typed_pdf(rows, CELLS_SCHEMA)

    return paths_df.mapInPandas(run, CELLS_SCHEMA)
