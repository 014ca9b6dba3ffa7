"""Batch-49 query: the STREAMING Python DataSource — workbook cells
mounted as a Structured Streaming source and hash-matched to the
batch derivation.

The reference scrapes catalogs on a schedule (generators/base.py's
download loop); the Spark-native evolution is a streaming mount of
the landing directory: `spark.readStream.format("workbook_cells")`
over arriving cell files, with offsets in the checkpoint instead of a
cron. This batch registers the end-to-end proof: stage the documents
table as TWO name-ordered jsonl cell files, stream them through the
new `SimpleDataSourceStreamReader` (sources/datasource.py), and
aggregate the cells — hash-matched against the same aggregation
derived straight from the documents table in SQL. A custom SOURCE now
exists in both the batch (§2.1) and streaming (§2.11) API surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table


@register(
    "workbook_cells_stream",
    oracle="""
    SELECT source AS sheet, 'A' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_rows,
           md5(string_agg(lang, ',' ORDER BY doc_id)) AS vals_hash
    FROM documents GROUP BY 1
    UNION ALL
    SELECT source, 'B',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) AS BIGINT),
           md5(string_agg(CAST(n_chars AS VARCHAR), ','
                          ORDER BY doc_id))
    FROM documents GROUP BY 1
    """,
)
def workbook_cells_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming Python DataSource, proven end to end: the
    documents table is staged as TWO name-ordered jsonl cell files
    (each doc yields a lang cell in column A and an n_chars cell in
    column B, sheet = source; files split by doc parity), the
    directory is mounted with `readStream.format("workbook_cells")`
    — the `SimpleDataSourceStreamReader` added alongside the batch
    reader, offsets = last consumed filename — and the streamed cells
    aggregate per (sheet, column) with an order-canonical value hash
    that must match the straight-from-the-table SQL derivation. This
    is SURVEY S8's workbook mount lifted into §2.11: the reference's
    scheduled scrape becomes a checkpointed stream over the landing
    zone (crash recovery = the offset log; replay =
    readBetweenOffsets, unit-proven in tests/test_batch49.py).

    Scale shape: staging writes through Spark (no driver collect);
    the stream is file-granular exactly like the batch source (one
    arriving workbook = one unit of work); the aggregate keeps each
    sheet's value ordering inside its own group. Determinism: exact
    counts, (row) total order inside each group, md5."""
    import os
    import tempfile
    import time

    from series_tiempo_ar_scraping_spark.sources.datasource import (
        register_workbook_cells,
    )

    register_workbook_cells(spark)
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.select(
        F.to_json(
            F.struct(
                F.col("source").alias("sheet"),
                F.col("doc_id").alias("row"),
                F.lit("A").alias("col"),
                F.col("lang").alias("value"),
            )
        ).alias("j"),
        (F.col("doc_id") % 2).alias("half"),
    ).unionAll(
        docs.select(
            F.to_json(
                F.struct(
                    F.col("source").alias("sheet"),
                    F.col("doc_id").alias("row"),
                    F.lit("B").alias("col"),
                    F.col("n_chars").cast("string").alias("value"),
                )
            ).alias("j"),
            (F.col("doc_id") % 2).alias("half"),
        )
    )
    import shutil

    stage = tempfile.mkdtemp(prefix="cells_stream_")
    try:
        return _run_cells_stream(spark, cells, stage)
    finally:
        # the result is eagerly localCheckpoint()ed before the finally
        # runs, so the staged landing files are no longer referenced —
        # without this, repeated correctness runs leak the copies in
        # the system temp dir (ADVICE r9)
        shutil.rmtree(stage, ignore_errors=True)


def _run_cells_stream(spark, cells, stage):
    import os
    import time

    land = os.path.join(stage, "landing")
    os.makedirs(land)
    for half in (0, 1):
        part_dir = os.path.join(stage, f"part{half}")
        cells.filter(F.col("half") == half).select("j").coalesce(
            1
        ).write.mode("overwrite").text(part_dir)
        src = [
            f for f in os.listdir(part_dir) if f.startswith("part-")
        ][0]
        os.rename(
            os.path.join(part_dir, src),
            os.path.join(land, f"{half:03d}.jsonl"),
        )
    stream = spark.readStream.format("workbook_cells").load(land)
    name = f"wb_cells_stream_{int(time.monotonic() * 1000) % 10**9}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    return got.groupBy(
        F.col("sheet"), F.col("col")
    ).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.countDistinct("row").cast("long").alias("n_rows"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("row", "value"))
                    ),
                    lambda x: x["value"],
                ),
                ",",
            )
        ).alias("vals_hash"),
    ).localCheckpoint()
