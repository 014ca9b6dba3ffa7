"""Distributed scan patterns that avoid single-partition global sorts.

The running-total (prefix sum) over a GLOBAL order is the textbook
scale trap: a plain ``Window.orderBy`` funnels every row through one
partition. The two-phase formulation here is the repo's sanctioned
shape — range-partition on the order, per-partition local running sums,
then broadcast the exclusive prefix of per-partition totals back; the
only global window runs over #partitions rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def two_phase_prefix_sum(
    df: DataFrame,
    order_cols: list,
    value_col,
    out_col="running_sum",
    n_parts: int | None = None,
    reset_cols: list | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive running sum of ``value_col`` over the
    global ``order_cols`` order, without ever sorting the data globally.

    ``value_col`` / ``out_col`` may be lists of equal length (r13): all
    running sums then share ONE range partitioning, one local window
    pass and one carry aggregate — callers that used to nest two calls
    (two range exchanges + two checkpoints) pay a single pass for the
    same exact values.

    ``reset_cols`` (r14): independent prefix sums per group in ONE
    pass — the running sum restarts at every ``reset_cols`` boundary.
    The range partitioning tiles (reset, order) lexicographically, the
    local window additionally partitions by the reset key, and the
    carry prefix accumulates only within the same reset group (rows of
    an earlier partition with a different reset key contribute
    nothing). Callers that ran N independent prefix sums as N range
    exchanges (rfm_customer_segments' three quantile scales) pay one.

    Mechanics: ``repartitionByRange`` on the order (so partition ranges
    tile the order), a per-partition cumulative window, and an exclusive
    carry — the prefix of per-partition totals — broadcast back. The
    lazy ``localCheckpoint`` pins the partitioning so
    ``spark_partition_id`` is consistent between the local window and
    the totals aggregate. Output keeps a ``part_id`` column (callers may
    drop it). Shared by ``sequence_packing_bins`` and
    ``concurrent_sessions_by_day``.
    """
    pairs = (
        [(value_col, out_col)]
        if isinstance(value_col, str)
        else list(zip(value_col, out_col))
    )
    reset_cols = list(reset_cols or [])
    spark = df.sparkSession
    n_parts = n_parts or max(spark.sparkContext.defaultParallelism, 8)
    ranged = df.repartitionByRange(
        n_parts, *reset_cols, *order_cols
    ).withColumn("part_id", F.spark_partition_id())
    # the reset columns travel as one struct, never NULL, that groups
    # and joins with NULL fields equal: a NULL reset key is a group too,
    # and the offsets join stays an equi-join on the offsets' unique key
    # (a plain join on a NULL key drops the group's rows)
    reset = ["_reset"] if reset_cols else []
    if reset_cols:
        ranged = ranged.withColumn("_reset", F.struct(*reset_cols))
    ranged = ranged.localCheckpoint(eager=False)
    local_w = (
        Window.partitionBy("part_id", *reset)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged
    for v, _o in pairs:
        local = local.withColumn(f"_local_{v}", F.sum(v).over(local_w))
    # exclusive prefix over per-partition totals: one row per
    # (partition, reset group), so this window is O(#parts · #groups
    # touching a boundary), never O(rows)
    carry_w = (
        Window.partitionBy(*reset)
        .orderBy("part_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("part_id", *reset)
        .agg(
            *[
                F.sum(v).alias(f"_part_total_{v}")
                for v, _o in pairs
            ]
        )
        .select(
            "part_id",
            *reset,
            *[
                F.coalesce(
                    F.sum(f"_part_total_{v}").over(carry_w), F.lit(0)
                ).alias(f"_carry_{v}")
                for v, _o in pairs
            ],
        )
    )
    out = local.join(F.broadcast(offsets), ["part_id", *reset]).drop(*reset)
    for v, o in pairs:
        out = out.withColumn(
            o, F.col(f"_local_{v}") + F.col(f"_carry_{v}")
        ).drop(f"_local_{v}", f"_carry_{v}")
    return out
