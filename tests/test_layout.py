"""Physical layout & scan pruning: Z-order locality measured from real
parquet footers, dynamic partition pruning and runtime bloom-filter
plans asserted on real writes."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import layout as L
from series_tiempo_ar_scraping_spark.session import load_table


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_interleave_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(rows, "zx long, zy long").withColumn(
        "zv", L.interleave_bits(F.col("zx"), F.col("zy"))
    )

    def ref(x, y):
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i + 1)
            out |= ((y >> i) & 1) << (2 * i)
        return out

    for r in df.collect():
        assert r.zv == ref(r.zx, r.zy), (r.zx, r.zy)


def _norm_spans(spans, col, lo, hi):
    width = hi - lo
    vals = []
    for s in spans:
        mn, mx = s[col]
        assert mn is not None and mx is not None
        vals.append((mx - mn) / width)
    return sum(vals) / len(vals)


def test_zordered_write_tightens_file_spans(spark, sf_dir, tmp_path):
    """The point of the layout: after a Z-ordered write, EVERY file's
    footer min/max spans a small fraction of the global range in BOTH
    interleaved dimensions — that fraction is exactly the expected skip
    rate for a point-ish predicate. An unclustered write of the same
    data has ~full-range spans in every file."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("dday"),
    )
    zed = L.with_zvalue(o, F.col("price"), F.col("dday").cast("double"))
    zpath = str(tmp_path / "zord")
    upath = str(tmp_path / "unord")
    L.write_zordered(zed, zpath, n_files=16)
    o.repartition(16).write.mode("overwrite").parquet(upath)

    bounds = o.agg(
        F.min("price"), F.max("price"), F.min("dday"), F.max("dday")
    ).collect()[0]
    minp, maxp, mind, maxd = bounds

    zspans = L.parquet_file_spans(zpath, ["price", "dday"])
    uspans = L.parquet_file_spans(upath, ["price", "dday"])
    assert len(zspans) == 16

    z_price = _norm_spans(zspans, "price", minp, maxp)
    z_day = _norm_spans(zspans, "dday", mind, maxd)
    u_price = _norm_spans(uspans, "price", minp, maxp)
    u_day = _norm_spans(uspans, "dday", mind, maxd)
    # unclustered files cover nearly the whole range in both dims
    assert u_price > 0.9 and u_day > 0.9
    # z-ordered files are tight in BOTH dims simultaneously (16 files fix
    # ~2 top bits per dim -> ~1/4 range each; allow slack for range-
    # partitioner sampling and per-cell rounding)
    assert z_price < 0.6, z_price
    assert z_day < 0.6, z_day


def test_dynamic_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    """A hive-partitioned fact store + a filtered dim join must plan a
    dynamicpruning subquery on the fact scan: at scale the join touches
    only the partitions the dim filter selects, never the whole store."""
    o = load_table(spark, sf_dir, "orders")
    store = str(tmp_path / "orders_by_status")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(store)
    fact = spark.read.parquet(store)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    )
    j = fact.join(
        F.broadcast(dim.filter(F.col("label") == "closed")),
        fact["o_orderstatus"] == F.col("status"),
    )
    assert "dynamicpruning" in _plan(j, "extended")
    want = o.filter(F.col("o_orderstatus") == "F").count()
    assert j.count() == want


def test_runtime_bloom_filter_in_plan(spark, sf_dir):
    """With a selective filter on the build side of a shuffle join, the
    optimizer injects a runtime bloom filter (might_contain) on the probe
    side — rows that can't match are dropped before the exchange. The
    default size thresholds target cluster scans, so they are lowered
    here just to make the plan observable at test scale."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1B",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        j = li.join(
            o.filter(F.col("o_totalprice") > 100000),
            li["l_orderkey"] == o["o_orderkey"],
        )
        assert "might_contain" in _plan(j, "extended")
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_parquet_aggregate_pushdown_stats_only(spark, sf_dir):
    """MIN/MAX/COUNT with no filter can be answered from parquet footer
    statistics alone — with the v2 source + aggregatePushdown the scan
    shows PushedAggregation and reads zero data pages. At 100 TB this is
    the difference between a metadata operation and a full-corpus scan
    for profiling-style queries."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in ("spark.sql.parquet.aggregatePushdown",
                  "spark.sql.sources.useV1SourceList")
    }
    try:
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        agg = df.selectExpr("MIN(o_totalprice) AS lo",
                            "MAX(o_totalprice) AS hi", "COUNT(*) AS n")
        p = _plan(agg, "simple")
        assert "PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]" in p
        row = agg.collect()[0]
        # values must agree with the computed (non-pushed) aggregate
        want = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .selectExpr("MIN(o_totalprice)", "MAX(o_totalprice)", "COUNT(*)")
        )
        conf.set("spark.sql.parquet.aggregatePushdown", "false")
        w = want.collect()[0]
        assert (row.lo, row.hi, row.n) == (w[0], w[1], w[2])
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_bucketed_join_elides_both_exchanges(spark, sf_dir, tmp_path):
    """Co-bucketed layout contract: orders and customer written with
    write_bucketed on the join key sort-merge-join with ZERO Exchange
    operators in the plan — the co-location that turns a repeated
    fact join's shuffle into a map-side merge. Contrast lane: the same
    join over the plain parquet inputs DOES shuffle."""
    from series_tiempo_ar_scraping_spark.operators.layout import (
        write_bucketed,
    )
    from series_tiempo_ar_scraping_spark.session import load_table
    from tests.test_plans import plan_of

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    try:
        write_bucketed(
            orders, "t_orders_b", str(tmp_path / "ob"), "o_custkey"
        )
        write_bucketed(
            cust, "t_cust_b", str(tmp_path / "cb"), "c_custkey"
        )
        # merge hint on both lanes: at test scale the dim side would
        # otherwise broadcast (which disables bucketed scans); the
        # layout's point is the SHUFFLE-FREE sort-merge path that a
        # fact-to-fact join takes at 100 TB, so pin that strategy and
        # compare the two layouts under it.
        j = (
            spark.table("t_orders_b")
            .join(
                spark.table("t_cust_b").hint("merge"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "c_name")
        )
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # contrast: the un-bucketed join shuffles
        plain = (
            orders.join(
                cust.hint("merge"),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select("o_orderkey", "c_name")
        )
        assert "Exchange" in plan_of(plain)
        # and the bucketed join still returns the right row count
        assert j.count() == orders.join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")
