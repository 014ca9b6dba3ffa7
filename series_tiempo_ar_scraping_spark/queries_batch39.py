"""Batch-39 queries: a streaming funnel-tracker state machine (new
custom stateful operator) and Sinkhorn matrix scaling (the 14th
iterative family).

Families (each entry hash-oracled; determinism per the established
recipes):

- Streaming funnel tracker: a per-user ordered-stage state machine
  (view → click → purchase) over ``applyInPandasWithState``, run to
  completion over a TWO-microbatch staging of the events table (split
  at the time midpoint, so cross-batch state carry is actually
  exercised) and hash-matched against the greedy earliest-completion
  batch SQL — the ``streaming_stateful_sessions`` proof idiom applied
  to a conversion monitor.
- Sinkhorn-Knopp matrix scaling (1967): alternate row/column
  normalizations of the nation × priority order-count matrix toward
  doubly-stochastic targets, two full rounds in exact integer micro
  arithmetic — each half-round is ONE window pass over the bounded
  cell frame, the BSP shape of optimal-transport/fair-assignment
  scaling at fleet size.

Reference parity: the reference is batch-only; the funnel tracker
extends its event-report lane to real-time, and Sinkhorn extends the
indicator lane with balanced-share reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# Streaming funnel tracker
# ---------------------------------------------------------------------------


@register(
    "streaming_funnel_tracker",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    v AS (
      SELECT user_id, MIN(rn) AS rv FROM r
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT r.user_id, MIN(r.rn) AS rc
      FROM r JOIN v ON v.user_id = r.user_id AND r.rn > v.rv
      WHERE r.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT r.user_id, MIN(r.rn) AS rp
      FROM r JOIN c ON c.user_id = r.user_id AND r.rn > c.rc
      WHERE r.event_type = 'purchase' GROUP BY 1
    )
    SELECT p.user_id,
           rv.ts AS view_ts, rc.ts AS click_ts, rp.ts AS purchase_ts
    FROM p
    JOIN v ON v.user_id = p.user_id
    JOIN c ON c.user_id = p.user_id
    JOIN r rv ON rv.user_id = p.user_id AND rv.rn = v.rv
    JOIN r rc ON rc.user_id = p.user_id AND rc.rn = c.rc
    JOIN r rp ON rp.user_id = p.user_id AND rp.rn = p.rp
    """,
)
def streaming_funnel_tracker(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The applyInPandasWithState funnel tracker
    (streaming/stateful.py:funnel_stream) run to completion and
    hash-matched against the greedy earliest-completion batch SQL
    (first view, first click after it, first purchase after that —
    (ts, event_id) total order on both sides). Mechanics: the events
    table is staged as TWO parquet files split at the time midpoint
    and streamed one file per trigger, so a user whose funnel spans
    the midpoint proves the cross-microbatch state carry; emission is
    exactly-once per user (the done tombstone). The conversion
    monitor a growth team runs against the live stream; the batch
    funnel reports (``window_funnel_depth``, ``funnel_conversion``)
    read the same semantics offline.

    Scale shape: the state shuffle is the normal hash partition on
    user_id; state is four ints per active user; each microbatch
    touches only keys with traffic. Determinism: total event order,
    exact integer state, one emission per completion."""
    import os
    import tempfile

    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream,
    )
    from series_tiempo_ar_scraping_spark.streaming.stateful import (
        funnel_stream,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    import shutil

    stage = tempfile.mkdtemp(prefix="funnel_stream_")
    try:
        return _run_funnel_stream(spark, e, stage)
    finally:
        # result is eagerly localCheckpoint()ed first, so the staged
        # parquet copy of events is unreferenced by then — without
        # this, repeated correctness runs leak disk in the system
        # temp dir (ADVICE r9)
        shutil.rmtree(stage, ignore_errors=True)


def _run_funnel_stream(spark, e, stage):
    import os

    from series_tiempo_ar_scraping_spark.streaming.events import (
        read_events_stream,
    )
    from series_tiempo_ar_scraping_spark.streaming.stateful import (
        funnel_stream,
    )

    main_dir = os.path.join(stage, "stream")
    # midpoint derived as a 1-row aggregate — no driver collect(); the
    # two writes split the table time-wise so per-user order is
    # preserved across microbatches (no user has an earlier event in a
    # later file)
    # TIMESTAMP_NTZ cannot cast to long — midpoint via timestampdiff
    # (the repo-wide NTZ recipe)
    mid = e.agg(
        F.expr(
            "min(ts) + make_interval(0, 0, 0, 0, 0, 0,"
            " timestampdiff(SECOND, min(ts), max(ts)) DIV 2)"
        ).alias("mid_ts")
    )
    first = (
        e.crossJoin(F.broadcast(mid))
        .filter(F.col("ts") < F.col("mid_ts"))
        .drop("mid_ts")
    )
    second = (
        e.crossJoin(F.broadcast(mid))
        .filter(F.col("ts") >= F.col("mid_ts"))
        .drop("mid_ts")
    )
    first.coalesce(1).write.mode("overwrite").parquet(main_dir)
    before = {
        f for f in os.listdir(main_dir) if f.endswith(".parquet")
    }
    second.coalesce(1).write.mode("append").parquet(main_dir)
    appended = [
        f
        for f in os.listdir(main_dir)
        if f.endswith(".parquet") and f not in before
    ]
    # FileStreamSource orders by modification time; make the second
    # half strictly newest so it forms the second microbatch
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
    out = funnel_stream(stream)
    name = "stream_funnel_tracker"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).localCheckpoint()


# ---------------------------------------------------------------------------
# Sinkhorn-Knopp matrix scaling (14th iterative family)
# ---------------------------------------------------------------------------

_SK_ROW_TARGET = 1000000  # each nation row scales to 1e6
_SK_COL_TARGET = 5000000  # 25 rows x 1e6 / 5 priority columns


def _sk_round_sql(src: str, col: str, rnd: int) -> str:
    return f"""
    r{rnd} AS (
      SELECT nationkey, priority, n_orders,
             {col} * {_SK_ROW_TARGET}
               // NULLIF(SUM({col}) OVER (PARTITION BY nationkey), 0)
               AS a_r{rnd}
      FROM {src}
    ),
    c{rnd} AS (
      SELECT nationkey, priority, n_orders,
             a_r{rnd} * {_SK_COL_TARGET}
               // NULLIF(SUM(a_r{rnd}) OVER (PARTITION BY priority), 0)
               AS a_c{rnd}
      FROM r{rnd}
    )"""


@register(
    "sinkhorn_matrix_scaling",
    oracle=f"""
    WITH cells AS (
      SELECT c.c_nationkey AS nationkey,
             o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(COUNT(*) AS BIGINT) * 1000000 AS a0
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    {_sk_round_sql('cells', 'a0', 1)},
    {_sk_round_sql('c1', 'a_c1', 2)}
    SELECT nationkey, priority, n_orders,
           CAST(a_c2 AS BIGINT) AS scaled_micro,
           CAST(SUM(a_c2) OVER (PARTITION BY nationkey) AS BIGINT)
             AS row_sum_micro,
           CAST(SUM(a_c2) OVER (PARTITION BY priority) AS BIGINT)
             AS col_sum_micro
    FROM c2
    """,
)
def sinkhorn_matrix_scaling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sinkhorn-Knopp matrix scaling (1967; the kernel of entropic
    optimal transport and fair-exposure allocation): the nation ×
    priority order-count matrix is alternately row- and
    column-normalized toward doubly-stochastic targets (rows → 1e6,
    columns → 25e6/5) for two full rounds, in exact integer micro
    arithmetic. The 14th iterative family: each half-round is ONE
    window pass over the cell frame — at fleet scale each half-round
    is a groupBy-broadcast of per-row/per-column scale factors, a BSP
    round, never a driver loop. The published row/column sums show
    the near-convergence (truncating DIV leaves each within a few
    micro of target — asserted in tests).

    Scale shape: ONE fact join+aggregate builds the bounded cell
    frame (checkpointed — four window passes then run on 125 rows);
    the customer side broadcasts. Determinism: exact counts,
    truncating integer DIV at every scaling."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cells = (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("long").alias("n_orders"))
        .withColumn("a0", F.col("n_orders") * 1000000)
        .localCheckpoint(eager=False)
    )
    wr = Window.partitionBy("nationkey")
    wc = Window.partitionBy("priority")
    cur = cells
    col = "a0"
    for rnd in (1, 2):
        cur = (
            cur.withColumn("_rs", F.sum(col).over(wr))
            .withColumn(
                f"a_r{rnd}",
                F.expr(
                    f"CAST({col} * {_SK_ROW_TARGET}"
                    " DIV NULLIF(_rs, 0) AS BIGINT)"
                ),
            )
            .drop("_rs")
        )
        cur = (
            cur.withColumn("_cs", F.sum(f"a_r{rnd}").over(wc))
            .withColumn(
                f"a_c{rnd}",
                F.expr(
                    f"CAST(a_r{rnd} * {_SK_COL_TARGET}"
                    " DIV NULLIF(_cs, 0) AS BIGINT)"
                ),
            )
            .drop("_cs")
        )
        col = f"a_c{rnd}"
    return cur.select(
        "nationkey",
        "priority",
        "n_orders",
        F.col("a_c2").cast("long").alias("scaled_micro"),
        F.sum("a_c2").over(wr).cast("long").alias("row_sum_micro"),
        F.sum("a_c2").over(wc).cast("long").alias("col_sum_micro"),
    )
