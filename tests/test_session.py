"""Session factory settings that shape driver memory, read from the JVM."""

from __future__ import annotations

from series_tiempo_ar_scraping_spark import session


def test_tungsten_page_size_is_pinned(spark):
    """A broadcast hash relation holds at least one whole Tungsten page,
    so the page size, not the few rows of a metadata dim, sets its heap.
    Spark would size the page from heap and cores (16 MB on a 2g
    ``local[4]`` driver); the session pins it for the memory manager."""
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    assert memory.pageSizeBytes() == session._PAGE_BYTES
