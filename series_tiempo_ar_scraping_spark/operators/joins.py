"""Joins & series alignment (SURVEY §2.4: J1-J5) and the long↔wide pivot.

The reference's only data-plane join is implicit: ``pd.concat(dfs, axis=1)``
aligns scraped series on the time index (``processors.py:139-140``) — a full
outer equi-join on ``indice_tiempo``. In long form no join is needed at all
(union); the wide *presentation* is a pivot at the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def align_series_wide(obs: DataFrame, series_titles: list[str] | None = None) -> DataFrame:
    """J1 — long observations → wide frame, one column per series title,
    rows aligned on ``ts`` (union of timestamps, NULL where a series has no
    value) — the semantics of ``pd.concat(axis=1)`` at
    ``processors.py:139-140``.

    ``pivot`` with an explicit value list avoids the extra distinct-scan
    Spark otherwise runs to discover pivot values — at scale, always pass
    the declared titles (they come from the fields frame, F6).
    """
    pivoted = obs.groupBy("ts").pivot(
        "series_title", values=series_titles
    )
    return pivoted.agg(F.first("value", ignorenulls=True)).withColumnRenamed(
        "ts", "indice_tiempo"
    )


# J4/V5 (header↔field-id check) lives in sources/scrape.py:check_headers —
# it derives (file, sheet, col, row) from the distribution params and the
# A1 coordinates; a cells-frame join keyed on a nonexistent 'coord' column
# used to live here and could never run.
