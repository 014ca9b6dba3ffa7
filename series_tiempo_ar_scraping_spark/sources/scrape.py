"""S8 (scraping half) — declared-coordinate series extraction as DataFrame
algebra over the ``cells`` frame.

Reproduces the observable semantics of the xlseries call in the reference
(``processors.py:107-221``): per value-field header cell + data-start cell,
a time-index column with its own start cell and declared frequency, the
missing-token list, the header-id check (V5), and the ``table_end`` /
``end`` trim signal (V6). No pandas in the hot path — everything is joins
and window expressions, so a catalog with 10⁶ scraped series runs as a
handful of shuffles. As in the reference, where one xlseries call per
workbook yields both, the observations and the trim signal come from one
frame: the value cells full-outer-joined to the time cells once
(``scrape_table``), which a pass caches and splits (``split_scraped``).

Time-index semantics: the time column's cells are parsed as dates; rows
whose cell fails to parse get a **synthesized** timestamp from the series
anchor (first parsed date) advanced ``offset`` periods — the relational
analog of xlseries' composed-time handling and the reference's
``time_composed`` retry (``processors.py:211-219``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.calendar import FREQ_CODE_MONTHS
from series_tiempo_ar_scraping_spark.functions.scalars import (
    cell_coord_col,
    cell_coord_row,
    freq_iso_to_code,
    missing_to_null,
)
from series_tiempo_ar_scraping_spark.operators.filters import value_fields

DATE_FORMATS = ["yyyy-MM-dd", "dd/MM/yyyy", "yyyy-MM", "yyyy"]


def _parse_date(c):
    parsed = F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in DATE_FORMATS])
    return parsed.cast("date")


def scraping_params(fields: DataFrame, distributions: DataFrame, workbook: Column | None = None) -> tuple[DataFrame, DataFrame]:
    """Build per-series and per-distribution scraping parameter frames from
    field metadata (the reference's param-dict construction,
    ``processors.py:159-200``, as projections).

    ``workbook`` is each distribution's key into the cells frame's
    ``file`` column; it defaults to the last segment of
    ``scrapingFileURL`` (cells keyed by file name).

    Returns ``(series_params, time_params)``:
    - series_params: one row per value field — header coord, data start
      col/row, series identity;
    - time_params: one row per distribution — time-index start col/row +
      frequency code (from the time-index field, F6 ``processors.py:167-198``).
    """
    dist_src = distributions.select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        (
            F.element_at(F.split(F.col("scrapingFileURL"), "/"), -1)
            if workbook is None
            else workbook
        ).alias("file"),
        F.col("scrapingFileSheet").alias("sheet"),
    )
    series_fields = value_fields(fields).select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        "field_id",
        F.col("title").alias("series_title"),
        F.col("scrapingIdentifierCell").alias("header_coord"),
        cell_coord_col("scrapingDataStartCell").alias("data_col"),
        cell_coord_row("scrapingDataStartCell").alias("data_start_row"),
    )
    time_fields = fields.filter(F.col("specialType") == "time_index").select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        cell_coord_col("scrapingDataStartCell").alias("time_col"),
        cell_coord_row("scrapingDataStartCell").alias("time_start_row"),
        freq_iso_to_code(F.col("specialTypeDetail")).alias("freq_code"),
    )
    series_params = series_fields.join(
        F.broadcast(dist_src), ["catalog_id", "dataset_id", "distribution_id"]
    )
    time_params = time_fields.join(
        F.broadcast(dist_src), ["catalog_id", "dataset_id", "distribution_id"]
    )
    return series_params, time_params


def check_headers(cells: DataFrame, series_params: DataFrame) -> DataFrame:
    """V5/J4 — the cell at each declared ``scrapingIdentifierCell`` must
    equal the field id (``processors.py:147-148``). Returns the params
    frame annotated with ``header_ok``."""
    headered = series_params.withColumn(
        "header_col", cell_coord_col(F.col("header_coord"))
    ).withColumn("header_row", cell_coord_row(F.col("header_coord")))
    joined = headered.join(
        cells.select(
            "file",
            "sheet",
            F.col("col").alias("header_col"),
            F.col("row").alias("header_row"),
            F.col("value").alias("header_value"),
        ),
        ["file", "sheet", "header_col", "header_row"],
        "left",
    )
    return joined.withColumn(
        "header_ok",
        F.coalesce(F.trim("header_value") == F.col("field_id"), F.lit(False)),
    )


_DIST = ["catalog_id", "dataset_id", "distribution_id"]


def scrape_table(cells: DataFrame, series_params: DataFrame, time_params: DataFrame) -> DataFrame:
    """Every scraped distribution's bounded value cells and time cells,
    full-outer-joined once on (distribution, row offset).

    A row with both sides is one observation; a value cell with no time
    row (the V6 continuation past the last time row) has null time
    columns, and a time row with no value cell (a date whose values are
    all blank) has null value columns. ``cell_row`` / ``time_row`` mark
    the sides (a null ``field_id`` is still a value cell). One frame
    yields the observations and the V6 trim signal, so a caller that
    caches it scrapes each workbook once (``split_scraped``).

    Plan shape: cells is the big frame; params are broadcast. Two joins
    (values→params, time→params), one join values⋈time on (distribution,
    row offset), one window for anchor synthesis — no Python UDFs.

    Table bounding: a sheet can hold SEVERAL tables stacked vertically
    (the reference mock's ``actividad_ied.xlsx`` declares the annual
    table at rows 8-13 and the quarterly one at rows 46+ of the SAME
    sheet). The TIME column defines the table's extent: it is bounded at
    its leading contiguous run (a blank time cell ends the table —
    ``offset == row_number() - 1`` under (partition, order by offset)).
    Value cells are NOT run-bounded on their own column — a genuinely
    blank observation mid-series is a missing value, not the end of the
    table (per-column run-bounding would silently truncate every later
    observation). Instead a value row belongs to the table iff its
    offset is within the time extent OR in the contiguous continuation
    just past it — the latter is exactly the V6 trim signal (data rows
    extending beyond the last date row, reference ``base.py:170-175``),
    while a stacked second table further down the same column stays
    excluded (its offsets are not contiguous with the time end).
    """
    vals_raw = cells.join(
        F.broadcast(series_params),
        (cells.file == series_params.file)
        & (cells.sheet == series_params.sheet)
        & (cells.col == series_params.data_col)
        & (cells.row >= series_params.data_start_row),
    ).select(
        "catalog_id",
        "dataset_id",
        "distribution_id",
        "field_id",
        "series_title",
        (cells.row - series_params.data_start_row).alias("offset"),
        cells.row.alias("cell_row"),
        missing_to_null(cells.value).alias("value"),
        cells.value.alias("raw_value"),
    )

    # Time cells: the time column per distribution, bounded the same way;
    # unparseable cells still count as present (composed-time synthesis
    # fills them), only a MISSING cell ends the table.
    wt = Window.partitionBy(
        "catalog_id", "dataset_id", "distribution_id"
    ).orderBy("offset")
    times = (
        cells.join(
            F.broadcast(time_params),
            (cells.file == time_params.file)
            & (cells.sheet == time_params.sheet)
            & (cells.col == time_params.time_col)
            & (cells.row >= time_params.time_start_row),
        )
        .select(
            "catalog_id",
            "dataset_id",
            "distribution_id",
            "freq_code",
            (cells.row - time_params.time_start_row).alias("offset"),
            cells.row.alias("time_row"),
            _parse_date(cells.value).alias("parsed_ts"),
        )
        .withColumn("_rn", F.row_number().over(wt))
        .filter(F.col("offset") == F.col("_rn") - 1)
        .drop("_rn")
    )

    # Bound value rows by the time extent + contiguous continuation (see
    # docstring). A distribution with no time rows falls back to the old
    # per-column leading-run rule (time_end = -1 ⇒ continuation from 0).
    time_ends = times.groupBy(
        "catalog_id", "dataset_id", "distribution_id"
    ).agg(F.max("offset").alias("_time_end"))
    wb = Window.partitionBy(
        "catalog_id", "dataset_id", "distribution_id", "field_id", "_beyond"
    ).orderBy("offset")
    vals = (
        vals_raw.join(
            F.broadcast(time_ends),
            ["catalog_id", "dataset_id", "distribution_id"],
            "left",
        )
        .withColumn("_time_end", F.coalesce("_time_end", F.lit(-1)))
        .withColumn(
            "_beyond", (F.col("offset") > F.col("_time_end")).cast("int")
        )
        .withColumn("_rnb", F.row_number().over(wb))
        .filter(
            (F.col("_beyond") == 0)
            | (F.col("offset") == F.col("_time_end") + F.col("_rnb"))
        )
        .drop("_time_end", "_beyond", "_rnb")
    )

    # Composed-time synthesis: anchor = first parsed date; unparsed rows get
    # anchor advanced `offset` periods (xlseries time_composed analog).
    w = Window.partitionBy("catalog_id", "dataset_id", "distribution_id").orderBy(
        "offset"
    )
    anchor = F.first("parsed_ts", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    anchor_off = F.first(
        F.when(F.col("parsed_ts").isNotNull(), F.col("offset")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    months_map = F.create_map(
        *[F.lit(x) for kv in FREQ_CODE_MONTHS.items() for x in kv]
    )
    # int cast: date_add rejects BIGINT deltas (offsets are int when cells
    # come from the workbook datasource, but callers may supply long rows)
    delta = (F.col("offset") - anchor_off).cast("int")
    synthesized = F.when(
        F.col("freq_code") == "D", F.date_add(anchor, delta)
    ).otherwise(F.add_months(anchor, delta * months_map[F.col("freq_code")]))
    times_filled = times.withColumn(
        "ts", F.coalesce("parsed_ts", synthesized)
    )

    return vals.join(
        times_filled.select(*_DIST, "offset", "time_row", "parsed_ts", "ts"),
        [*_DIST, "offset"],
        "full",
    )


def split_scraped(table: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``scrape_table``'s frame → ``(observations, table_ends)``.

    The observations are the rows with both sides. ``table_ends`` carries
    the V6 trim signal per distribution with a data value: ``table_end``
    = last row with a data value, ``end`` = last row with a parseable
    date (0 when none). A time row repeats once per value cell at its
    offset, which a max does not see.
    """
    obs = table.filter(
        F.col("cell_row").isNotNull() & F.col("time_row").isNotNull()
    ).select(
        *_DIST,
        F.col("field_id").alias("series_id"),
        "series_title",
        "ts",
        "value",
    )
    table_ends = (
        table.groupBy(*_DIST)
        .agg(
            F.max(
                F.when(F.col("raw_value").isNotNull(), F.col("cell_row"))
            ).alias("table_end"),
            F.coalesce(
                F.max(
                    F.when(F.col("parsed_ts").isNotNull(), F.col("time_row"))
                ),
                F.lit(0),
            ).alias("end"),
        )
        .filter(F.col("table_end").isNotNull())
    )
    return obs, table_ends


def scrape_observations(cells: DataFrame, series_params: DataFrame, time_params: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Extract long observations for every scraped series in one pass.

    Returns ``(observations, table_ends)``: ``split_scraped`` over
    ``scrape_table``.
    """
    return split_scraped(scrape_table(cells, series_params, time_params))
