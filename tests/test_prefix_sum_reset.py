"""Focused kernel test for two_phase_prefix_sum's r14 ``reset_cols``:
per-group prefix sums in one range exchange must equal the obvious
per-group window form, including at group/partition boundaries.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.distributed import (
    two_phase_prefix_sum,
)


def test_reset_cols_matches_per_group_window(spark):
    # 3 groups x 200 values with duplicates and gaps; n_parts chosen so
    # that every group straddles several range partitions
    rows = [
        (g, (i * 7) % 53, 1 + (i % 3))
        for g in range(3)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "cnt"])
    got = (
        two_phase_prefix_sum(
            df, ["v"], "cnt", out_col="cum", n_parts=8, reset_cols=["g"]
        )
        .groupBy("g", "v")
        .agg(F.max("cum").alias("cum"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        df.withColumn("cum", F.sum("cnt").over(w))
        .groupBy("g", "v")
        .agg(F.max("cum").alias("cum"))
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_no_reset_cols_unchanged(spark):
    # the default path (no reset) must keep its exact semantics
    rows = [(i % 17, 1) for i in range(300)]
    df = spark.createDataFrame(rows, ["v", "cnt"])
    got = (
        two_phase_prefix_sum(df, ["v"], "cnt", out_col="cum", n_parts=6)
        .groupBy("v")
        .agg(F.max("cum").alias("cum"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = (
        df.withColumn("cum", F.sum("cnt").over(w))
        .groupBy("v")
        .agg(F.max("cum").alias("cum"))
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_reset_cols_null_group_kept(spark):
    # a NULL reset key is one more group: its rows keep their running
    # sum instead of vanishing from the offsets join
    rows = [
        (g, (i * 5) % 31, 1 + (i % 2))
        for g in (None, 0, 1)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "g int, v int, cnt int")
    got = (
        two_phase_prefix_sum(
            df, ["v"], "cnt", out_col="cum", n_parts=6, reset_cols=["g"]
        )
        .groupBy("g", "v")
        .agg(F.max("cum").alias("cum"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        df.withColumn("cum", F.sum("cnt").over(w))
        .groupBy("g", "v")
        .agg(F.max("cum").alias("cum"))
    )

    def key(r):
        return (r.g is not None, r.g or 0, r.v)

    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert any(r.g is None for r in got.collect())
