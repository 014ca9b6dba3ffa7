"""Batch-5 queries: stream-stream interval join, vectorized pandas-UDAF
aggregation, single-window 2D skyline, and JSON property extraction.

SURVEY context: §2.11 motivates the streaming layer (the reference is
batch-only) — ``streaming_click_purchase_join`` adds the one streaming
operator class the engine didn't yet exercise, a watermarked
stream-stream join. §2.12 notes the UDF surface is pandas-UDF based;
``weighted_avg_discount_udaf`` pins the *grouped-aggregate* variant
(Arrow-batched UDAF) with a hash-matching SQL oracle. §1.2: the
reference's metadata model is nested JSON (data.json) — the JSON
extraction entry exercises the same semi-structured path on the data
plane (`events.props`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table


@register(
    "streaming_click_purchase_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    """,
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every (purchase, click)
    pair for the same user where the click landed in the 30 minutes before
    the purchase — run through two readStream sources and hash-matching
    the batch SQL oracle. The watermark + time-range condition is what
    bounds join state on a real cluster: each side buffers only rows
    within watermark + interval of the stream clock, so state is
    O(rate × window), not O(history). The equi-key (user_id) shuffles both
    streams to the same tasks; the range predicate prunes within the
    buffer. The reference has no streaming at all (SURVEY §2.11)."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream_native,
    )

    p = (
        read_events_stream_native(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        read_events_stream_native(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        # NTZ-safe µs gap (unix_micros rejects TIMESTAMP_NTZ); at the
        # data's µs precision timestampdiff MICROSECOND is exact, so it
        # matches the oracle's epoch_us subtraction bit-for-bit.
        F.timestamp_diff("MICROSECOND", F.col("c_ts"), F.col("p_ts")).alias("gap_us"),
    )
    name = "stream_click_purchase_join"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name).localCheckpoint()
    q.stop()
    return result


@register(
    "weighted_avg_discount_udaf",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / (100.0 * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE))
             AS wavg_discount,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_suppkey
    """,
)
def weighted_avg_discount_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average discount per supplier via a *grouped
    aggregate* pandas UDF — the Arrow-batched UDAF surface (SURVEY §2.12).
    The kernel works in scaled int64 (discount × 100 is exact: the fixture
    carries 2-decimal discounts), so partial sums are order-independent and
    the single final IEEE division reproduces the oracle bit-exactly —
    the determinism discipline (queries.py docstring) applied to a Python
    aggregation. Plan shape: shuffle on l_suppkey, one Arrow batch per
    group — fine for the ~10k-supplier key space; a 100 TB run with
    billions of groups would pre-combine with a built-in sum pair instead
    (this entry exists to pin the UDAF machinery, not to replace one)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints select the GROUPED_AGG pandas UDF
    # variant; set them as live objects because this module uses postponed
    # annotations (PEP 563), which the UDF-type inference can't resolve.
    def _wavg(discount, quantity):
        di = np.rint(discount.to_numpy() * 100.0).astype(np.int64)
        qi = np.rint(quantity.to_numpy()).astype(np.int64)
        num = int((di * qi).sum())
        den = int(qi.sum())
        return float(num) / (100.0 * float(den))

    _wavg.__annotations__ = {
        "discount": pd.Series,
        "quantity": pd.Series,
        "return": float,
    }
    wavg = pandas_udf(_wavg, "double")

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg(), so the row count is a pandas UDAF too.
    def _nrows(quantity):
        return len(quantity)

    _nrows.__annotations__ = {"quantity": pd.Series, "return": int}
    nrows = pandas_udf(_nrows, "long")

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        wavg("l_discount", "l_quantity").alias("wavg_discount"),
        nrows("l_quantity").alias("n_lines"),
    )


@register(
    "skyline_orders_pareto",
    oracle="""
    WITH d AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS dday
      FROM orders
    ),
    m AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             MAX(o_totalprice) OVER (
               ORDER BY dday DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_newer
      FROM d
    )
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM m
    WHERE best_newer IS NULL OR o_totalprice > best_newer
    """,
)
def skyline_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline (Pareto frontier): orders not dominated on
    (newer o_orderdate, higher o_totalprice) — an order survives iff no
    strictly-newer order has ≥ its price. The naive formulation is an
    O(n²) NOT EXISTS self-join; in 2D a running max over date-descending
    order answers it exactly. The scale shape: ``best_newer`` only
    depends on the *day*, so aggregate max(price) per day first (map-side
    combinable groupBy), run the running-max window over the tiny per-day
    frame (#distinct days rows — ~2.4k for 7 years, regardless of table
    size), and broadcast-join the day→best_newer lookup back onto the
    fact rows. No global sort of fact rows, no single-partition Exchange
    over anything bigger than the day dimension."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).alias("dday"),
    )
    per_day = d.groupBy("dday").agg(F.max("o_totalprice").alias("day_max"))
    # One row per dday → ROWS .. 1 PRECEDING == strictly newer days.
    w = (
        Window.orderBy(F.col("dday").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    day_best = per_day.select(
        "dday", F.max("day_max").over(w).alias("best_newer")
    )
    m = d.join(F.broadcast(day_best), "dday")
    return m.filter(
        F.col("best_newer").isNull() | (F.col("o_totalprice") > F.col("best_newer"))
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "json_props_bucket_stats",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1, 2
    """,
)
def json_props_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction on the data plane: parse the JSON
    ``props`` payload with a declared schema (``from_json`` — typed,
    vectorized, no Python), bucket the extracted key, aggregate. The
    reference's whole metadata layer is nested JSON navigated in Python
    (SURVEY §1.2); this is the same capability as a declarative columnar
    expression. Schema-on-read with an explicit StructType means malformed
    rows go NULL instead of failing the job — the V7 error-channel stance
    applied to JSON."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.filter(F.col("props").isNotNull()).select(
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
        "event_type",
        "value",
    )
    return parsed.groupBy(
        (F.floor(F.col("k") / 10)).alias("k_bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("sum_value"),
    )


@register(
    "streaming_dedup_event_totals",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def streaming_dedup_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication as a catalog entry (it was
    previously only unit-tested): the events stream is unioned with a
    second read of itself — every event arrives twice — and
    ``dropDuplicates`` on event_id within the watermark horizon must
    collapse the copies so the per-type totals hash-match the batch oracle
    over the ORIGINAL table. Dedup state is keyed by event_id and bounded
    by the watermark; unbounded-key dedup would OOM a real cluster
    (streaming/events.py:dedup_events)."""
    from series_tiempo_ar_scraping_spark.streaming.events import (
        dedup_events,
        read_events_stream_native,
    )

    s1 = read_events_stream_native(spark, sf_dir)
    s2 = read_events_stream_native(spark, sf_dir)
    deduped = dedup_events(s1.unionByName(s2), watermark="1 hour")
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("sum_value"),
    )
    name = "stream_dedup_totals"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name).localCheckpoint()
    q.stop()
    return result


@register(
    "fuzzy_part_name_pairs",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (edit distance ≤ 4, excluding exact dupes)
    with *blocking*: candidate pairs only form inside (brand, size) blocks,
    so the join is an equi-join on the block key with the quadratic
    Levenshtein confined to same-block pairs — the standard record-linkage
    shape. An unblocked pairwise comparison is O(n²) and impossible at
    corpus scale; with blocking, cost is Σ(block²) and the block key
    shuffles both sides to the same task. `levenshtein` is a JVM built-in
    on both engines with identical classic edit-distance semantics."""
    p = load_table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_size").alias("size_b"),
    )
    joined = a.join(
        b,
        (F.col("p_brand") == F.col("brand_b"))
        & (F.col("p_size") == F.col("size_b"))
        & (F.col("part_a") < F.col("part_b")),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        joined.select("part_a", "part_b", dist.alias("edit_dist"))
        .filter((F.col("edit_dist") >= 1) & (F.col("edit_dist") <= 4))
    )


@register(
    "null_safe_segment_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 97 = 0 THEN NULL
                  ELSE o_custkey % 50 END AS seg
      FROM orders
    ),
    b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 89 = 0 THEN NULL
                  ELSE c_custkey % 50 END AS seg
      FROM customer
    )
    SELECT a.seg AS seg, COUNT(*) AS n_pairs
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    GROUP BY 1
    """,
)
def null_safe_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    segments match each other instead of vanishing, and NULL is a real
    group key in the aggregate — the SQL-semantics corner that silently
    drops rows when someone writes `=`. Catalyst treats EqualNullSafe as a
    hash-join key (NULL hashes like any value), so the plan is still a
    shuffled hash/sort-merge join, not a nested loop — but note the
    all-NULLs bucket lands on ONE task: at scale, either pre-filter the
    null×null cross product if it isn't wanted, or it IS the skew key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 97 == 0, None)
        .otherwise(F.col("o_custkey") % 50)
        .alias("seg"),
    )
    b = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 89 == 0, None)
        .otherwise(F.col("c_custkey") % 50)
        .alias("seg_b"),
    )
    return (
        a.join(b, F.col("seg").eqNullSafe(F.col("seg_b")))
        .groupBy("seg")
        .agg(F.count("*").alias("n_pairs"))
    )


_PAGERANK_EDGES_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
    deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1)
"""


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    return f"""
    c{cur} AS (
      SELECT e.dst AS id, SUM({prev}.r // d.outdeg) AS s
      FROM edges e
      JOIN {prev} ON {prev}.id = e.src
      JOIN deg d ON d.id = e.src
      GROUP BY 1
    ),
    {cur} AS (
      SELECT n.id,
             CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{cur} c ON c.id = n.id
    )"""


@register(
    "pagerank_part_graph",
    oracle=f"""
    WITH {_PAGERANK_EDGES_SQL},
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    {_pagerank_iter_sql("r0", "r1")},
    {_pagerank_iter_sql("r1", "r2")},
    {_pagerank_iter_sql("r2", "r3")}
    SELECT id AS part_id, r AS rank_micro FROM r3
    """,
)
def pagerank_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the part
    co-occurrence graph — the second iterative-graph operator class next
    to connected components. All arithmetic is INTEGER in micro-units
    (rank 1.0 = 1_000_000; contribution = rank DIV outdeg; next rank =
    150000 + 850·Σ DIV 1000), so partial sums commute and the result is
    bit-identical across engines and partitionings — the determinism
    discipline extended to iterative float-free math. Per iteration: one
    join of the checkpointed edge list against the current ranks and one
    sum shuffle keyed by dst; lineage is truncated per round
    (localCheckpoint) so plan size stays O(1) in iterations. At 100 TB
    the edge list is the big side — it stays partitioned by src across
    rounds while ranks (one row per node) shuffle to meet it."""
    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups per basket — no pre-distinct shuffle (r13)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        upper_triangle_pairs,
    )

    pairs = (
        baskets.select(
            F.explode(
                upper_triangle_pairs(
                    F.col("parts"),
                    lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    # One checkpointed (src, dst, outdeg) frame (r13): outdeg via a
    # window over the unioned pair list — the former edges-checkpoint +
    # deg groupBy + join double-materialized the same rows. The two
    # union branches share the pairs aggregate (ReusedExchange).
    src_deg = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .withColumn(
            "outdeg", F.count("*").over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=False)
    )
    # nodes checkpoints ONCE (r13): each round's left join used to
    # re-plan the lineitem scan + distinct inside its checkpoint job —
    # 3 extra corpus passes per call.
    nodes = (
        li.select(F.col("l_partkey").alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("id", F.lit(1000000).cast("bigint").alias("r"))
    for _ in range(3):
        contribs = (
            src_deg.join(ranks, src_deg["src"] == ranks["id"])
            .select(F.col("dst"), F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # no per-round checkpoint (r13): each round's ranks has ONE
        # consumer (the next round's join), so the 3-round lineage plans
        # as one job over the two checkpointed frames — the LPA/TextRank
        # shape; plan size is 3 unrolled rounds, bounded.
        ranks = nodes.join(
            contribs, nodes["id"] == contribs["dst"], "left"
        ).select(
            "id",
            (
                F.lit(150000).cast("bigint")
                + F.expr("850 * coalesce(s, 0) div 1000")
            ).alias("r"),
        )
    return ranks.select(F.col("id").alias("part_id"), F.col("r").alias("rank_micro"))


@register(
    "variant_props_stats",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE props IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON via the VARIANT type (Spark 4): ``parse_json`` once
    into Spark's binary semi-structured encoding, ``variant_get`` typed
    paths out. Unlike ``from_json`` (json_props_bucket_stats) this needs
    NO declared schema — the 100 TB fit for heterogeneous payloads where
    the schema drifts by producer: parse once at ingest, store the
    variant column in parquet, and every later path extraction is a
    binary-encoded field lookup instead of a string re-parse. All
    JVM-side; DuckDB's json_extract is the oracle."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.filter(F.col("props").isNotNull()).select(
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
        "value",
    )
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(22,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "streaming_stateful_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState sessionizer (streaming/stateful.py) run
    to completion and hash-matched against the batch lag-window SQL — a
    CUSTOM stateful streaming operator proven equivalent to its batch
    twin. Mechanics: the events table is staged as one parquet file (all
    real events in a single microbatch, so incremental state sees each
    user's history in arrival order) plus a far-future sentinel file whose
    event pushes the watermark past every open session's event-time
    timeout, flushing final sessions; the sentinel user is filtered out of
    the result. State per key is one open session and is watermark-bounded
    — the property that keeps a 1000-executor job from accumulating
    unbounded session state."""
    import os
    import shutil
    import tempfile

    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream,
    )
    from series_tiempo_ar_scraping_spark.streaming.stateful import (
        sessionize_stream,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    stage = tempfile.mkdtemp(prefix="stateful_sessions_")
    try:
        main_dir = os.path.join(stage, "stream")
        e.coalesce(1).write.mode("overwrite").parquet(main_dir)
        # Sentinel derived as a 1-row aggregate DataFrame — no driver
        # collect(); the write executes it like any other plan, and the
        # ts type (NTZ vs LTZ) automatically matches the staged file.
        sentinel = e.agg(F.max("ts").alias("max_ts")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("max_ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        # identify the sentinel's part file DETERMINISTICALLY via a
        # before/after listing diff — picking "newest by mtime" could
        # select the MAIN file on a coarse-mtime filesystem tie, making
        # the sentinel batch run first and every real event drop as late
        before = {
            f for f in os.listdir(main_dir) if f.endswith(".parquet")
        }
        sentinel.coalesce(1).write.mode("append").parquet(main_dir)
        appended = [
            f
            for f in os.listdir(main_dir)
            if f.endswith(".parquet") and f not in before
        ]
        # FileStreamSource orders by modification time; make the sentinel
        # strictly newest so it forms the final watermark-advancing batch.
        latest = max(
            os.path.getmtime(os.path.join(main_dir, f))
            for f in os.listdir(main_dir)
            if f.endswith(".parquet")
        )
        for f in appended:
            os.utime(
                os.path.join(main_dir, f), (latest + 1000, latest + 1000)
            )

        stream = read_events_stream(spark, main_dir, max_files_per_trigger=1)
        out = sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
        name = "stream_stateful_sessions"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = (
            spark.table(name).filter(F.col("user_id") >= 0).localCheckpoint()
        )
        q.stop()
        return result
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "udtf_expand_series_calendar",
    oracle="""
    WITH b AS (
      SELECT event_type AS series_id,
             MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0,
             MAX(CAST(date_trunc('day', ts) AS DATE)) AS d1
      FROM events GROUP BY 1
    )
    SELECT series_id,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS ts
    FROM b
    """,
)
def udtf_expand_series_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4) driven by a correlated LATERAL join: per
    series, the table function expands the [first, last] observation dates
    into the full daily calendar — the calendar-synthesis primitive behind
    gap-filling (resample_gapfill_daily does it JVM-side with
    ``sequence()``; this entry pins the UDTF machinery itself). The UDTF
    runs Arrow-batched per input row on executors; correlation comes from
    the SQL `LATERAL` clause, so the expansion is map-side over however
    many partitions the bounds frame has — no shuffle, no driver loop."""
    from datetime import timedelta

    from pyspark.sql.functions import udtf

    @udtf(returnType="ts date")
    class _ExpandDays:
        def eval(self, d0, d1):
            if d0 is None or d1 is None:
                return
            d = d0
            while d <= d1:
                yield (d,)
                d += timedelta(days=1)

    spark.udtf.register("expand_days_b5", _ExpandDays)
    e = load_table(spark, sf_dir, "events")
    bounds = e.groupBy(F.col("event_type").alias("series_id")).agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    bounds.createOrReplaceTempView("series_bounds_b5")
    return spark.sql(
        """
        SELECT b.series_id, t.ts
        FROM series_bounds_b5 b, LATERAL expand_days_b5(b.d0, b.d1) t
        """
    )


_LATERAL_TOPK_SQL = """
    SELECT n.n_name AS nation, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    ) t
"""


@register("lateral_top_customers_per_nation", oracle=_LATERAL_TOPK_SQL)
def lateral_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the exact same
    ANSI text runs on both engines (the whole oracle IS the query). Spark
    decorrelates the lateral into a ranked window / top-k per key rather
    than executing it as a per-row nested loop, so the plan scales like
    ``topk_orders_per_priority`` (one shuffle on the correlation key), and
    the SQL-facing surface (spark.sql + temp views over the normalized
    frames) is exercised end-to-end."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPK_SQL)


@register(
    "json_error_channel_report",
    oracle="""
    WITH corrupted AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END
               AS props
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT) AS n_error
    FROM corrupted GROUP BY 1
    """,
)
def json_error_channel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The V7 error-channel stance applied to semi-structured parsing: a
    seventh of the payloads are deterministically corrupted (leading
    garbage — Spark's lenient parser forgives TRAILING garbage, DuckDB's
    doesn't, so corruption must be a prefix for both engines to agree), ``try_parse_json`` turns each malformed record into a NULL
    instead of a task failure, and the per-type OK/ERROR report is an
    aggregation over that status column — a poisoned record costs one
    report row, never a retry storm (reference: per-distribution
    try/except at base.py:198-207, recast as data). DuckDB's json_valid
    agrees with try_parse_json on validity, so the report hash-matches."""
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    corrupted = e.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    ok = F.try_parse_json("props").isNotNull()
    return corrupted.groupBy("event_type").agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_error"),
    )


_RUNNING_DISTINCT_SQL = """
    WITH days AS (
      SELECT event_type, user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    firsts AS (
      SELECT event_type, day,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY event_type, user_id ORDER BY day
                  ) = 1 THEN 1 ELSE 0 END AS is_first
      FROM days
    ),
    per_day AS (
      SELECT event_type, day,
             CAST(SUM(is_first) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM per_day
"""


@register("running_distinct_users", oracle=_RUNNING_DISTINCT_SQL)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — an operator
    neither engine supports natively at scale — via the first-occurrence
    decomposition: flag each (type, user)'s first day with row_number,
    aggregate flags per day, cumulative-sum per type. Two window sorts +
    one hash aggregate, all partitioned by bounded keys; the naive
    COUNT(DISTINCT) OVER would hold every user id seen so far in per-row
    state. Same decomposition runs as the oracle, so values hash-match."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    w_first = Window.partitionBy("event_type", "user_id").orderBy("day")
    firsts = days.select(
        "event_type",
        "day",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    per_day = firsts.groupBy("event_type", "day").agg(
        F.sum("is_first").alias("new_users")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w_cum).alias("cum_users"),
    )


_SESSIONS_CTE = """
    flagged AS (
      SELECT user_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id,
             ts
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    )
"""


@register(
    "concurrent_sessions_by_day",
    oracle=f"""
    WITH {_SESSIONS_CTE},
    endpoints AS (
      SELECT s AS ts, 1 AS delta, user_id FROM intervals
      UNION ALL
      SELECT e AS ts, -1 AS delta, user_id FROM intervals
    ),
    running AS (
      SELECT ts,
             SUM(delta) OVER (ORDER BY ts, delta DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS concurrency
      FROM endpoints
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(MAX(concurrency) AS BIGINT) AS peak_concurrent
    FROM running GROUP BY 1
    """,
)
def concurrent_sessions_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep-line: sessionize (the
    lag-window shape), emit ±1 endpoints, one global ordered running sum =
    concurrency at every instant, max per day. The naive formulation is an
    interval self-join (each session × each overlapping session — O(n²)
    on busy days); the sweep is two window sorts and scales linearly.
    Determinism: endpoint order is the total order (ts, delta DESC,
    user_id) so simultaneous start/end resolves inclusively and
    identically on both engines. The global running sum is the one
    single-partition stage — at 100 TB, sweep per day-partition and
    prefix-sum the per-partition carry counts (a tiny second pass), same
    two-phase trick as distributed prefix sums."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # NTZ-safe µs gap; exact at the data's µs precision (matches epoch_us).
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    flagged = e.select(
        "user_id",
        "ts",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800000000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    endpoints = intervals.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        intervals.select(
            F.col("e").alias("ts"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    # TWO-PHASE global prefix sum (the sequence_packing_bins template):
    # range-partition by the sweep's total order, local running sums per
    # partition, then add each partition's exclusive carry (prefix over
    # per-partition delta totals — the only global window runs over
    # #partitions rows, never #endpoints). localCheckpoint pins the
    # partitioning so spark_partition_id is stable across both uses.
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    sweep_cols = [F.col("ts"), F.col("delta").desc(), F.col("user_id")]
    running = two_phase_prefix_sum(
        endpoints, sweep_cols, "delta", out_col="concurrency"
    ).select("ts", "concurrency")
    return running.groupBy(F.to_date("ts").alias("day")).agg(
        F.max("concurrency").alias("peak_concurrent")
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    WITH t AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(14,2))) AS q
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           CAST(t.q AS DOUBLE) AS total_qty
    FROM orders o JOIN t ON t.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM t WHERE q > 250)
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate the fact table
    FIRST (HAVING on the grouped sum), then enrich the tiny survivor set —
    the aggregate-before-join ordering that turns a fact-fact join into a
    fact-dim join. The IN-subquery in the oracle is the classic phrasing;
    here the HAVING filter IS the semi-join (one grouped pass over
    lineitem, no second scan). Decimal-exact quantity sums; at 100 TB the
    grouped pass is the only full-fact shuffle and it pre-aggregates
    map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    t = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("q")
    ).filter(F.col("q") > 250)
    return o.join(t, o["o_orderkey"] == t["l_orderkey"]).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("q").cast("double").alias("total_qty"),
    )


@register(
    "embedding_dim_profile",
    oracle="""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT dim, COUNT(*) AS n,
           CAST(MIN(x) AS DOUBLE) AS min_x,
           CAST(MAX(x) AS DOUBLE) AS max_x,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1099511627776) AS BIGINT))
                AS DOUBLE) / 1099511627776 AS sum_x
    FROM flat GROUP BY 1
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding corpus (the drift check an
    embedding pipeline runs before/after re-training): posexplode flattens
    the vectors to (dim, value) — a generator, not a join — and one hash
    aggregate profiles each dimension. The accumulation is
    order-independent AND engine-exact: each float widens to double
    (exact), scales by 2^40 (power-of-two — never rounds), floors to
    BIGINT (no rounding-mode ambiguity, unlike decimal casts: Spark
    rounds the float's shortest decimal string, DuckDB the binary value,
    and they disagree on grid-boundary values), integer-sums, and divides
    back by 2^40 (exact). At 100 TB the flatten multiplies rows by
    dim-count but stays map-side; the shuffle carries dim-count × partials
    only."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), "x")
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.min("x").cast("double").alias("min_x"),
        F.max("x").cast("double").alias("max_x"),
        (
            F.sum(F.floor(F.col("x").cast("double") * F.lit(1099511627776)))
            .cast("double")
            / F.lit(1099511627776)
        ).alias("sum_x"),
    )


_SKEW_KEY = "CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END"


@register(
    "skew_salted_join_stats",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, value, {_SKEW_KEY} AS k FROM events
    ),
    dim AS (
      SELECT DISTINCT k, k % 7 AS bucket_label FROM ev
    )
    SELECT d.bucket_label, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM ev e JOIN dim d ON e.k = d.k
    GROUP BY 1
    """,
)
def skew_salted_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salt-and-replicate join under engineered key skew (half of
    all events share key 0 — the hot key one shuffle partition would
    otherwise own): the fact side salts with `event_id % S`, the dimension
    side replicates each row S times via explode(sequence), and the join
    keys on (k, salt) so the hot key spreads over S tasks. The salt is
    invisible in the result — the oracle is the UNSALTED join. AQE's
    skew-join splitting handles this when sizes are visible at runtime;
    the explicit form is for the cases it can't see (first shuffle of a
    stage, skew inside a single key-group aggregation upstream of the
    join) and is the same shape as `salted_user_event_stats` for aggs."""
    S = 8
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        "event_id",
        "value",
        F.expr(_SKEW_KEY).alias("k"),
    )
    dim = ev.select("k").distinct().select(
        "k", (F.col("k") % 7).alias("bucket_label")
    )
    salted_ev = ev.withColumn("salt", (F.col("event_id") % S).cast("int"))
    salted_dim = dim.select(
        "k",
        "bucket_label",
        F.explode(F.sequence(F.lit(0), F.lit(S - 1))).alias("salt"),
    )
    joined = salted_ev.join(salted_dim, ["k", "salt"])
    return joined.groupBy("bucket_label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias(
            "sum_value"
        ),
    )


@register(
    "trailing_7d_avg",
    oracle="""
    WITH daily AS (
      SELECT event_type AS series_id,
             date_diff('day', DATE '1992-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS dday,
             SUM(CAST(value AS DECIMAL(22,4))) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT series_id, dday,
           CAST(CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w AS DOUBLE)
             AS avg_7d,
           COUNT(*) OVER w AS n_days
    FROM daily
    WINDOW w AS (PARTITION BY series_id ORDER BY dday
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def trailing_7d_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based trailing window (7 calendar days) via a RANGE frame on
    the day-number key — distinct from the ROWS frames elsewhere in the
    catalog: a gap in the series shrinks the frame (calendar semantics)
    instead of silently reaching further back (row semantics). The frame
    is decimal-summed and divided once in doubles (identical expression
    tree both engines). One sort shuffle per series; RANGE frames cost the
    same as ROWS in Spark's window exec (running frame, not re-scan)."""
    # daily-series frame: the canonical derivation is
    # sqlfrags._DAILY_SERIES_DDAY_SQL / queries_batch8._daily; this site
    # keeps v as DECIMAL for its exact window sums (the variants differ
    # deliberately — change them together with the fragment)
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("series_id"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")).alias(
            "dday"
        ),
    ).agg(F.sum(F.col("value").cast("decimal(22,4)")).alias("v"))
    w = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "series_id",
        "dday",
        (F.sum("v").over(w).cast("double") / F.count("*").over(w)).alias(
            "avg_7d"
        ),
        F.count("*").over(w).alias("n_days"),
    )


@register(
    "long_word_extraction",
    oracle="""
    SELECT len(regexp_extract_all(text, '[A-Za-z]{8,}')) AS n_long_words,
           COUNT(*) AS n_docs,
           MIN(regexp_extract(text, '([A-Za-z]{8,})', 1)) AS sample_word
    FROM documents
    GROUP BY 1
    """,
)
def long_word_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction as a JVM-side columnar op (regexp_extract_all /
    regexp_extract compile once per task and run codegen'd): docs bucketed
    by how many long words they contain, with the lexicographically first
    sample per bucket. Pattern sticks to character-class syntax, which
    Java regex (Spark) and RE2 (DuckDB) interpret identically — lookarounds
    and backreferences would not be portable (RE2 rejects them)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]{8,}"), 0))
    first = F.regexp_extract(F.col("text"), "([A-Za-z]{8,})", 1)
    return (
        d.select(n.alias("n_long_words"), first.alias("w"))
        .groupBy("n_long_words")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("w").alias("sample_word"),
        )
    )


@register(
    "series_forward_fill",
    oracle="""
    WITH daily AS (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(22,4))) AS v
      FROM events WHERE event_type IN ('purchase', 'signup') GROUP BY 1, 2
    ),
    spans AS (
      SELECT series_id, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1
    ),
    cal AS (
      SELECT series_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM spans
    )
    SELECT c.series_id, c.d,
           CAST(last_value(dl.v IGNORE NULLS) OVER (
                  PARTITION BY c.series_id ORDER BY c.d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS value_ffill,
           dl.v IS NULL AS was_gap
    FROM cal c LEFT JOIN daily dl
      ON dl.series_id = c.series_id AND dl.d = c.d
    """,
)
def series_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill / LOCF imputation — the time-series API's `ffill`
    (pandas semantics the reference's consumers rely on), as one window:
    gap-fill the calendar (sequence-explode + left join), then
    ``last_value(..., ignoreNulls=True)`` over the per-series row frame
    carries the last observation into gaps. Window state is O(1) per
    series (the running last non-null) — no self-join, no as-of join
    against itself. Restricted to two series so the fixture actually has
    calendar gaps to fill at every sf."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    daily = e.groupBy(
        F.col("event_type").alias("series_id"), F.to_date("ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(22,4)")).alias("v"))
    spans = daily.groupBy("series_id").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    cal = spans.select(
        "series_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d"),
    )
    joined = cal.join(daily, ["series_id", "d"], "left")
    w = (
        Window.partitionBy("series_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "series_id",
        "d",
        F.last("v", ignorenulls=True).over(w).cast("double").alias(
            "value_ffill"
        ),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "ordered_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): collect_set →
    sort_array → array_join gives a DETERMINISTIC concatenation —
    collect_list/string_agg without an explicit order is
    partitioning-dependent and would never hash-match across engines (the
    same trap as any unordered agg of non-commutative results). The set
    is tiny per group; for unbounded groups at 100 TB you'd cap with
    slice() after sort (top-N contributors) rather than concatenate the
    world."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count("*").alias("n"),
    )


@register(
    "series_linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type AS series_id,
             date_diff('day', DATE '1992-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS dday,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS v
      FROM events WHERE event_type IN ('purchase', 'signup') GROUP BY 1, 2
    ),
    spans AS (
      SELECT series_id, MIN(dday) AS lo, MAX(dday) AS hi FROM daily GROUP BY 1
    ),
    cal AS (
      SELECT series_id, unnest(generate_series(lo, hi)) AS dday FROM spans
    ),
    joined AS (
      SELECT c.series_id, c.dday, d.v
      FROM cal c LEFT JOIN daily d
        ON d.series_id = c.series_id AND d.dday = c.dday
    ),
    ctx AS (
      SELECT series_id, dday, v,
        last_value(v IGNORE NULLS) OVER wp AS vp,
        last_value(CASE WHEN v IS NOT NULL THEN dday END IGNORE NULLS)
          OVER wp AS dp,
        first_value(v IGNORE NULLS) OVER wn AS vn,
        first_value(CASE WHEN v IS NOT NULL THEN dday END IGNORE NULLS)
          OVER wn AS dn
      FROM joined
      WINDOW wp AS (PARTITION BY series_id ORDER BY dday
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY series_id ORDER BY dday
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT series_id, dday,
           CASE WHEN v IS NOT NULL THEN v
                ELSE vp + (vn - vp) * (CAST(dday - dp AS DOUBLE)
                                       / CAST(dn - dp AS DOUBLE))
           END AS value_interp,
           v IS NULL AS was_gap
    FROM ctx
    """,
)
def series_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation between observations (pandas
    `interpolate(method='linear')`): two windows — backward-looking
    last-non-null (value AND its day) and forward-looking first-non-null —
    give each gap row its bracketing points; the lerp is pure arithmetic
    with an IDENTICAL expression tree on both engines, so even the IEEE
    division hash-matches without rounding. Completes the imputation
    suite next to zero-fill (resample_gapfill_daily) and LOCF
    (series_forward_fill). Both windows share the per-series sort — one
    shuffle, two frame passes."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    daily = e.groupBy(
        F.col("event_type").alias("series_id"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")).alias(
            "dday"
        ),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("v")
    )
    spans = daily.groupBy("series_id").agg(
        F.min("dday").alias("lo"), F.max("dday").alias("hi")
    )
    cal = spans.select(
        "series_id", F.explode(F.sequence("lo", "hi")).alias("dday")
    )
    joined = cal.join(daily, ["series_id", "dday"], "left")
    wp = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if_obs = F.when(F.col("v").isNotNull(), F.col("dday"))
    ctx = joined.select(
        "series_id",
        "dday",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("vp"),
        F.last(day_if_obs, ignorenulls=True).over(wp).alias("dp"),
        F.first("v", ignorenulls=True).over(wn).alias("vn"),
        F.first(day_if_obs, ignorenulls=True).over(wn).alias("dn"),
    )
    lerp = F.col("vp") + (F.col("vn") - F.col("vp")) * (
        (F.col("dday") - F.col("dp")).cast("double")
        / (F.col("dn") - F.col("dp")).cast("double")
    )
    return ctx.select(
        "series_id",
        "dday",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(lerp)
        .alias("value_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "rolling_median_value",
    oracle="""
    WITH daily AS (
      SELECT event_type AS series_id,
             date_diff('day', DATE '1992-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS dday,
             CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT series_id, dday, v,
             list_sort(list(v) OVER (PARTITION BY series_id ORDER BY dday
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
      FROM daily
    )
    SELECT series_id, dday,
           CASE WHEN len(fr) % 2 = 1 THEN fr[(len(fr) + 1) // 2]
                ELSE (fr[len(fr) // 2] + fr[len(fr) // 2 + 1]) / 2
           END AS median_7d,
           len(fr) AS n_in_frame
    FROM framed
    """,
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (7-row trailing frame) — an operator NEITHER
    engine has natively over windows — composed from primitives both do
    have: collect the frame into an array, sort it, index the middle
    (mean of the two middles for even frames, quantile_cont convention).
    Frame arrays are bounded (≤7 elements) so the composition is O(k log k)
    per row with NO extra shuffle beyond the one per-series sort; this is
    the sanctioned pattern for small-frame order statistics at 100 TB —
    for large frames you'd switch to a t-digest sketch column instead
    (approx_sketch_stats). The even-case mean is (a+b)/2 with an identical
    tree on both engines, so it hash-matches exactly."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("series_id"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")).alias(
            "dday"
        ),
    ).agg(
        F.sum(F.col("value").cast("decimal(22,4)")).cast("double").alias("v")
    )
    w = (
        Window.partitionBy("series_id")
        .orderBy("dday")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = daily.select(
        "series_id",
        "dday",
        F.sort_array(F.collect_list("v").over(w)).alias("fr"),
    )
    n = F.size("fr")
    odd = F.element_at("fr", ((n + 1) / 2).cast("int"))
    even = (
        F.element_at("fr", (n / 2).cast("int"))
        + F.element_at("fr", (n / 2).cast("int") + 1)
    ) / 2
    return framed.select(
        "series_id",
        "dday",
        F.when(n % 2 == 1, odd).otherwise(even).alias("median_7d"),
        n.cast("bigint").alias("n_in_frame"),
    )


@register(
    "union_missing_columns",
    oracle="""
    SELECT series_id, ts, value, quality, COUNT(*) AS n FROM (
      SELECT event_type AS series_id,
             CAST(date_trunc('day', ts) AS DATE) AS ts,
             CAST(value AS DOUBLE) AS value,
             NULL AS quality
      FROM events WHERE event_id % 2 = 0
      UNION ALL BY NAME
      SELECT CAST(date_trunc('day', ts) AS DATE) AS ts,
             'ok' AS quality,
             event_type AS series_id,
             CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id % 2 = 1
    ) GROUP BY 1, 2, 3, 4
    """,
)
def union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-reconciling union (`unionByName(allowMissingColumns=True)` /
    UNION ALL BY NAME): two ingest generations with different column sets
    and different column ORDER combine by name, the missing column
    null-fills — the union-side twin of the parquet mergeSchema test.
    Positional UNION here would silently misalign columns; by-name union
    is the only safe shape once a long-lived table has evolved."""
    e = load_table(spark, sf_dir, "events")
    old_gen = e.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_type").alias("series_id"),
        F.to_date("ts").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    new_gen = e.filter(F.col("event_id") % 2 == 1).select(
        F.to_date("ts").alias("ts"),
        F.lit("ok").alias("quality"),
        F.col("event_type").alias("series_id"),
        F.col("value").cast("double").alias("value"),
    )
    u = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return u.groupBy("series_id", "ts", "value", "quality").agg(
        F.count("*").alias("n")
    )


@register(
    "safe_arithmetic_report",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_divisors,
           CAST(SUM(CASE WHEN cnt > 0
                    THEN CAST(total AS DOUBLE) / cnt END) AS DOUBLE)
             AS sum_safe_ratio
    FROM (
      SELECT o_orderstatus,
             CAST(o_totalprice AS DECIMAL(14,2)) AS total,
             o_custkey % 5 AS cnt
      FROM orders
    ) GROUP BY 1
    """,
)
def safe_arithmetic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic as data, not exceptions: `try_divide` turns
    division-by-zero into NULL (the V7 stance applied to expression
    evaluation — under ANSI mode a plain `/` would fail the task), the
    NULLs are counted as their own error channel, and the safe ratios
    aggregate decimal-exact. The oracle spells the same semantics with
    CASE/NULLIF since DuckDB division by zero also errors. One scan, one
    hash aggregate."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(14,2)").alias("total"),
        (F.col("o_custkey") % 5).alias("cnt"),
    )
    ratio = F.try_divide(F.col("total").cast("double"), F.col("cnt"))
    return base.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("cnt") == 0, 1).otherwise(0)).alias(
            "n_zero_divisors"
        ),
        F.sum(ratio).cast("double").alias("sum_safe_ratio"),
    )


@register(
    "table_fingerprint",
    oracle="""
    WITH rows_repr AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(
                l_orderkey || '|' || l_linenumber || '|' ||
                CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|' ||
                CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
             ), 1, 15))::BIGINT % 1000000007 AS h
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(20,0))) AS BIGINT) AS fingerprint
    FROM rows_repr GROUP BY 1
    """,
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: each row canonicalizes to a
    typed string (integers and scaled-decimal strings only — raw
    double→string rendering differs between engines), hashes through the
    cross-engine md5-60bit path, reduces mod a prime, and SUMS — addition
    commutes, so the fingerprint is identical for any row order,
    partitioning, or engine. This is how you verify a 100 TB copy/migration
    without moving data: one number per partition-key, compared across
    clusters. The mod keeps 10^9-scale sums inside exact decimal/bigint
    range on both engines (Spark's bigint SUM wraps silently; DuckDB's
    widens — agreeing requires staying in range)."""
    from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded

    li = load_table(spark, sf_dir, "lineitem")
    repr_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("bigint").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
    )
    # hash64_seeded(x, seed) = md5('seed|x') — seed 0 not used here: the
    # oracle hashes the bare repr, so inline the same md5-60bit formula.
    h = (
        F.conv(F.substring(F.md5(repr_str), 1, 15), 16, 10).cast("bigint")
        % 1000000007
    )
    return li.select("l_returnflag", h.alias("h")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(20,0)")).cast("bigint").alias(
            "fingerprint"
        ),
    )
