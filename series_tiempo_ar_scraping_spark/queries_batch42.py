"""Batch-42 queries: forward-chaining time-series cross-validation,
the broadcast-threshold join advisor, and GDPR right-of-access (DSAR)
export bundles.

Families (each entry hash-oracled; determinism per the established
recipes):

- Forward-chaining CV: the model-selection split that is CORRECT for
  time series (train strictly before test, walk the cut forward) —
  ``kfold_cv_rate_model``'s random folds leak future into past when
  the unit is time; this is the one a forecasting team must use.
- Broadcast advisor: estimate per-table in-memory size from measured
  row counts × measured average widths and call broadcast vs shuffle
  against the 10 MB default threshold — the CBO sizing decision made
  inspectable (the companion of ``join_order_advisor``, which orders;
  this one picks the strategy), and validated against Spark's ACTUAL
  plan choice in tests.
- DSAR bundle: per-user export manifest (count, span, and an
  order-canonical content hash over the user's events) — the
  right-of-ACCESS sibling of ``gdpr_erasure_audit`` (right of
  erasure); the hash is what the requester can later use to prove
  the export matched the store.

Reference parity: the governance/ops report lane, extended to
access requests and capacity decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _DAILY_SERIES_DDAY_SQL,
)

# ---------------------------------------------------------------------------
# Forward-chaining time-series cross-validation
# ---------------------------------------------------------------------------

_FCV_FOLDS = 3  # cuts at 1/4, 2/4, 3/4 of the day range


@register(
    "timeseries_forward_cv",
    oracle=f"""
    WITH daily AS ({_DAILY_SERIES_DDAY_SQL}),
    d AS (
      SELECT series_id, dday,
             CAST(v * 1000000 AS BIGINT) AS v_micro
      FROM daily
    ),
    bounds AS (SELECT MIN(dday) AS mn, MAX(dday) AS mx FROM d),
    folds AS (
      SELECT k AS fold,
             b.mn + ((b.mx - b.mn + 1) * k) // 4 AS lo,
             b.mn + ((b.mx - b.mn + 1) * (k + 1)) // 4 AS hi
      FROM (SELECT unnest(generate_series(1, {_FCV_FOLDS})) AS k)
      CROSS JOIN bounds b
    ),
    tr AS (
      SELECT f.fold, d.series_id,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             SUM(d.v_micro) // COUNT(*) AS mean_micro
      FROM d JOIN folds f ON d.dday < f.lo
      GROUP BY 1, 2
    ),
    te AS (
      SELECT f.fold, d.series_id, d.v_micro
      FROM d JOIN folds f ON d.dday >= f.lo AND d.dday < f.hi
    ),
    trf AS (
      SELECT fold, CAST(SUM(n_train) AS BIGINT) AS n_train_points
      FROM tr GROUP BY 1
    )
    SELECT t.fold,
           CAST(MAX(trf.n_train_points) AS BIGINT) AS n_train_points,
           CAST(COUNT(*) AS BIGINT) AS n_test_points,
           CAST(SUM(ABS(t.v_micro - tr.mean_micro)) // COUNT(*)
                AS BIGINT) AS mae_micro
    FROM te t
    JOIN tr ON tr.fold = t.fold AND tr.series_id = t.series_id
    JOIN trf ON trf.fold = t.fold
    GROUP BY 1
    """,
)
def timeseries_forward_cv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forward-chaining (walk-forward) cross-validation over the daily
    event series: three expanding-window folds cut at 1/4, 2/4, 3/4 of
    the day range — each fold trains a per-series mean model on days
    STRICTLY BEFORE the cut and scores MAE on the next quarter. The
    temporally-valid twin of ``kfold_cv_rate_model``: random folds on
    time-series data leak the future into the training mean, and the
    walk-forward split is the standard fix (Bergmeir & Benítez 2012).
    n_train rising with fold while MAE stays comparable is the 'more
    history helps / regime stable' readout.

    Scale shape: ONE daily aggregate of the fact table (checkpointed;
    the per-fold train/test splits are range predicates over the
    bounded daily frame joined to a 3-row fold spec — broadcast), one
    train aggregate, one test join per fold, all on the small frame.
    Determinism: DECIMAL day sums → exact micro ints, truncating DIV.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("event_type").alias("series_id"),
            F.expr(
                "timestampdiff(DAY, TIMESTAMP '1992-01-01 00:00:00',"
                " date_trunc('day', ts))"
            ).alias("dday"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(22,4)")) * 1000000)
            .cast("bigint")
            .alias("v_micro")
        )
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(
        F.min("dday").alias("mn"), F.max("dday").alias("mx")
    )
    folds = (
        spark.range(1, _FCV_FOLDS + 1)
        .select(F.col("id").alias("fold"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "fold",
            F.expr("mn + ((mx - mn + 1) * fold) DIV 4").alias("lo"),
            F.expr("mn + ((mx - mn + 1) * (fold + 1)) DIV 4").alias(
                "hi"
            ),
        )
    )
    tr = (
        daily.join(F.broadcast(folds), daily["dday"] < folds["lo"])
        .groupBy("fold", "series_id")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.expr("SUM(v_micro) DIV COUNT(*)").alias("mean_micro"),
        )
    )
    te = daily.join(
        F.broadcast(folds),
        (daily["dday"] >= folds["lo"]) & (daily["dday"] < folds["hi"]),
    ).select("fold", "series_id", "v_micro")
    trf = tr.groupBy("fold").agg(
        F.sum("n_train").cast("long").alias("n_train_points")
    )
    return (
        te.join(F.broadcast(tr), ["fold", "series_id"])
        .join(F.broadcast(trf), "fold")
        .groupBy("fold")
        .agg(
            F.max("n_train_points").cast("long").alias(
                "n_train_points"
            ),
            F.count("*").cast("long").alias("n_test_points"),
            F.expr(
                "CAST(SUM(ABS(v_micro - mean_micro)) DIV COUNT(*)"
                " AS BIGINT)"
            ).alias("mae_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Broadcast-threshold join advisor
# ---------------------------------------------------------------------------

_BA_THRESHOLD = 10 * 1024 * 1024  # Spark's default autoBroadcastJoinThreshold


def _ba_table_sql(name: str, n_numeric: int, str_cols: list) -> str:
    width = " + ".join(
        [f"{n_numeric} * 8"]
        + [
            f"(SUM(length({c}) + 20) // COUNT(*))" for c in str_cols
        ]
    )
    return f"""
      SELECT '{name}' AS table_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST({width} AS BIGINT) AS est_row_bytes,
             CAST(COUNT(*) * ({width}) AS BIGINT) AS est_total_bytes,
             CAST(CASE WHEN COUNT(*) * ({width}) <= {_BA_THRESHOLD}
                       THEN 1 ELSE 0 END AS INT) AS is_broadcastable
      FROM {name}
    """


_BA_TABLES = [
    ("region", 1, ["r_name"]),
    ("nation", 2, ["n_name"]),
    ("customer", 3, ["c_name", "c_mktsegment"]),
    ("supplier", 3, ["s_name"]),
    ("part", 3, ["p_name", "p_brand"]),
    ("orders", 3, ["o_orderstatus", "o_orderpriority"]),
]


@register(
    "broadcast_threshold_advisor",
    oracle=" UNION ALL ".join(
        _ba_table_sql(n, k, cols) for n, k, cols in _BA_TABLES
    ),
)
def broadcast_threshold_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Broadcast-vs-shuffle advisor: per table, the MEASURED row count
    and an estimated in-memory row width (8 bytes per numeric column +
    truncated mean string length + 20 bytes of UnsafeRow string
    overhead, via exact integer division — AVG would round vs
    truncate differently across engines), the product, and the call against Spark's default
    10 MiB autoBroadcastJoinThreshold. This is the sizing decision the
    CBO makes from catalog statistics, made inspectable — and honest:
    widths are measured from the data (one AVG(length) aggregate per
    table), not assumed. Tests validate the verdict against the
    strategy Spark ACTUALLY picks for a dim⋈fact join. Pairs with
    ``join_order_advisor`` (ordering) to cover the two join decisions
    that matter at 100 TB.

    Scale shape: one count+avg aggregate per table (map-side
    combinable), a 6-row report. Determinism: exact counts, AVG of
    exact integer lengths floored to BIGINT, fixed width formula."""
    out = None
    for name, n_numeric, str_cols in _BA_TABLES:
        t = load_table(spark, sf_dir, name)
        # one aggregate per table: count + the avg-length width terms
        agg = t.agg(
            F.count("*").cast("long").alias("n_rows"),
            *[
                F.expr(f"SUM(length({c}) + 20) DIV COUNT(*)").alias(
                    f"_w_{c}"
                )
                for c in str_cols
            ],
        )
        w_expr = " + ".join(
            [f"{n_numeric * 8}"] + [f"_w_{c}" for c in str_cols]
        )
        row = agg.select(
            F.lit(name).alias("table_name"),
            "n_rows",
            F.expr(f"CAST({w_expr} AS BIGINT)").alias("est_row_bytes"),
            F.expr(f"CAST(n_rows * ({w_expr}) AS BIGINT)").alias(
                "est_total_bytes"
            ),
            F.expr(
                f"CAST(CASE WHEN n_rows * ({w_expr})"
                f" <= {_BA_THRESHOLD} THEN 1 ELSE 0 END AS INT)"
            ).alias("is_broadcastable"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# DSAR (right-of-access) export bundles
# ---------------------------------------------------------------------------

_DSAR_MOD = 100  # export every 100th user (the request sample)


@register(
    "dsar_export_bundle",
    oracle=f"""
    WITH req AS (
      SELECT user_id, event_id, event_type,
             date_diff('microsecond', TIMESTAMP '1992-01-01 00:00:00',
                       ts) AS us
      FROM events WHERE user_id % {_DSAR_MOD} = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(us) AS BIGINT) AS first_us,
           CAST(MAX(us) AS BIGINT) AS last_us,
           md5(string_agg(
                 CAST(event_id AS VARCHAR) || ':'
                 || CAST(us AS VARCHAR) || ':' || event_type,
                 ',' ORDER BY us, event_id)) AS bundle_hash
    FROM req GROUP BY 1
    """,
)
def dsar_export_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSAR (GDPR Art. 15 right-of-access) export manifest: for each
    requesting user (every 100th — the request sample), the event
    count, the time span, and an ORDER-CANONICAL content hash over the
    user's full event list (events serialized 'id:μs:type' in
    (ts, event_id) order — a total order, so the hash is partition-
    and retry-stable). The requester keeps the hash; re-running the
    export after any migration and comparing hashes proves the bundle
    is complete and unchanged — the access-request sibling of
    ``gdpr_erasure_audit``, closing the governance lane's
    erase/retain/access triangle. Timestamps travel as epoch-micros
    via timestampdiff (NTZ-safe; string-rendering a timestamp would
    couple the hash to engine formatting).

    Scale shape: the request predicate prunes at the scan; one groupBy
    per user with the sort confined to each user's own event list
    (collect_list + array_sort inside the aggregate — bounded by the
    heaviest single user, never a global sort). Determinism: exact
    micros, total order, md5."""
    events = load_table(spark, sf_dir, "events")
    req = events.filter(F.col("user_id") % _DSAR_MOD == 0).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP '1992-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    return req.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("us").cast("long").alias("first_us"),
        F.max("us").cast("long").alias("last_us"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("us", "event_id", "event_type")
                        )
                    ),
                    lambda x: F.concat_ws(
                        ":",
                        x["event_id"].cast("string"),
                        x["us"].cast("string"),
                        x["event_type"],
                    ),
                ),
                ",",
            )
        ).alias("bundle_hash"),
    )
