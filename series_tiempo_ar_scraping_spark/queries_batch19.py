"""Batch-19 queries: linear classification (10th iterative family)
and columnar-encoding advice.

Families (each entry hash-oracled; determinism per the established
recipes — pure integer arithmetic, no transcendentals at all here):

- Batch perceptron: 3 unrolled rounds of the batch update
  w += sum(y*x over misclassified) on integer text features — the
  10th iterative family, and the only classifier family whose
  training is EXACT integer arithmetic end to end (no sigmoid, no
  learning-rate floats). The per-round misclassification count is
  the convergence trace a training harness actually monitors.
- Encoding advisor: per column, run-length structure (runs counted
  inside orderkey blocks — bounded windows, never a global sort),
  exact NDV, and an integer-rule recommendation (RLE / dictionary /
  plain) — the ANALYZE-style pass a columnar writer (parquet,
  ORC) uses to pick encodings; the storage sibling of
  ``table_profile_report`` and ``zone_map_pruning_report``.

Reference parity: extends the reference's validation/report lane
with the modeling and storage-advice passes a fleet-scale platform
runs over its own tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _toks_of_norm

# ---------------------------------------------------------------------------
# Batch perceptron (10th iterative family)
# ---------------------------------------------------------------------------

_PCT_ROUNDS = 3

# Integer features per document: bias, token count, char count,
# 'e'-frequency (a crude but deterministic language signal).
_PCT_FEATURES_SQL = f"""
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         CAST(1 AS BIGINT) AS x0,
         CAST(len({_toks_of_norm('text')}) AS BIGINT) AS x1,
         CAST(strlen(text) AS BIGINT) AS x2,
         CAST(strlen(text) - strlen(replace(text, 'e', ''))
              AS BIGINT) AS x3
  FROM documents
"""


def _pct_oracle() -> str:
    """Unrolled batch-perceptron rounds (the kmeans/_bpe unrolled-CTE
    discipline): each round scores every doc against the incoming
    weights, counts misclassifications, and adds the summed update."""
    margin = "(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)"
    mis = f"f.y * {margin} <= 0"
    rounds = ["w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"]
    outs = []
    for r in range(1, _PCT_ROUNDS + 1):
        rounds.append(f"""
        r{r} AS MATERIALIZED (
          SELECT
            CAST(w.w0 + SUM(CASE WHEN {mis} THEN f.y * f.x0 ELSE 0 END)
                 AS BIGINT) AS w0,
            CAST(w.w1 + SUM(CASE WHEN {mis} THEN f.y * f.x1 ELSE 0 END)
                 AS BIGINT) AS w1,
            CAST(w.w2 + SUM(CASE WHEN {mis} THEN f.y * f.x2 ELSE 0 END)
                 AS BIGINT) AS w2,
            CAST(w.w3 + SUM(CASE WHEN {mis} THEN f.y * f.x3 ELSE 0 END)
                 AS BIGINT) AS w3,
            CAST(SUM(CASE WHEN {mis} THEN 1 ELSE 0 END) AS BIGINT)
              AS n_mis
          FROM f, {"w0" if r == 1 else f"r{r - 1}"} w
          GROUP BY w.w0, w.w1, w.w2, w.w3
        )""")
        outs.append(
            f"SELECT {r} AS round, w0, w1, w2, w3,"
            f" n_mis AS n_misclassified FROM r{r}"
        )
    return (
        f"WITH f AS ({_PCT_FEATURES_SQL}), "
        + ", ".join(rounds)
        + " "
        + " UNION ALL ".join(outs)
    )


@register("perceptron_training", oracle=_pct_oracle())
def perceptron_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch perceptron over integer text features (is-English vs
    rest): 3 rounds of w += sum(y*x over misclassified), one row per
    round with the post-update weights and the misclassification count
    under the INCOMING weights — the convergence trace a training
    harness monitors. The 10th iterative family, and the only
    classifier whose training is exact integer arithmetic end to end
    (no sigmoid, no float learning rate — nothing to round, ever).

    Scale shape: features project map-side in one scan; each round is
    one broadcast of the 1-row weight frame against the (lazily
    checkpointed) feature frame and ONE conditional-sum aggregate —
    the k-means/pagerank per-round shape with a 4-element state.
    Determinism: bigint features, bigint weights, commutative integer
    sums; the oracle unrolls the identical rounds as MATERIALIZED
    CTEs."""
    from series_tiempo_ar_scraping_spark.operators import textops as TX

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.size(TX.tokens(TX.normalize_text(F.col("text"))))
        .cast("long")
        .alias("x1"),
        F.length("text").cast("long").alias("x2"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "e", ""))
        )
        .cast("long")
        .alias("x3"),
    ).localCheckpoint(eager=False)

    w = spark.range(1).select(
        *[F.lit(0).cast("long").alias(f"w{i}") for i in range(4)]
    )
    margin = (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    mis = (F.col("y") * margin) <= 0
    rounds = []
    for r in range(1, _PCT_ROUNDS + 1):
        scored = f.crossJoin(F.broadcast(w))
        upd = scored.groupBy("w0", "w1", "w2", "w3").agg(
            *[
                F.sum(
                    F.when(mis, F.col("y") * F.col(f"x{i}")).otherwise(0)
                )
                .cast("long")
                .alias(f"u{i}")
                for i in range(4)
            ],
            F.sum(F.when(mis, 1).otherwise(0))
            .cast("long")
            .alias("n_mis"),
        )
        nxt = upd.select(
            *[
                (F.col(f"w{i}") + F.col(f"u{i}"))
                .cast("long")
                .alias(f"w{i}")
                for i in range(4)
            ],
            "n_mis",
        ).localCheckpoint(eager=False)
        rounds.append(
            nxt.select(
                F.lit(r).alias("round"),
                "w0",
                "w1",
                "w2",
                "w3",
                F.col("n_mis").alias("n_misclassified"),
            )
        )
        w = nxt.select("w0", "w1", "w2", "w3")
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Columnar-encoding advisor
# ---------------------------------------------------------------------------

_ENC_BLOCK = 4096
_ENC_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


def _enc_oracle() -> str:
    parts = []
    for c in _ENC_COLS:
        parts.append(f"""
        SELECT '{c}' AS column_name, n_rows, ndv, n_runs,
               avg_run_len_micro,
               CASE WHEN avg_run_len_micro >= 4000000 THEN 'rle'
                    WHEN ndv * 100 <= n_rows THEN 'dict'
                    ELSE 'plain' END AS recommended
        FROM (
          SELECT CAST(SUM(runs) AS BIGINT) AS n_runs,
                 CAST(MAX(n) AS BIGINT) AS n_rows,
                 CAST(MAX(nd) AS BIGINT) AS ndv,
                 CAST(MAX(n) * 1000000 // SUM(runs) AS BIGINT)
                   AS avg_run_len_micro
          FROM (
            SELECT blk,
                   1 + SUM(CASE WHEN CAST({c} AS VARCHAR) <> prev
                           THEN 1 ELSE 0 END) AS runs,
                   MAX(n) AS n, MAX(nd) AS nd
            FROM (
              SELECT o_orderkey // {_ENC_BLOCK} AS blk, {c},
                     lag(CAST({c} AS VARCHAR)) OVER (
                       PARTITION BY o_orderkey // {_ENC_BLOCK}
                       ORDER BY o_orderkey) AS prev,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n,
                     (SELECT CAST(COUNT(DISTINCT {c}) AS BIGINT)
                      FROM orders) AS nd
              FROM orders
            ) x
            GROUP BY blk
          ) b
        ) s
        """)
    return " UNION ALL ".join(parts)


@register("encoding_advisor", oracle=_enc_oracle())
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advice per column: run-length structure in
    storage order (runs counted INSIDE fixed orderkey blocks — the
    writer's row-group boundary, so the count is block-local and needs
    no global sort), exact NDV, and an integer-rule recommendation —
    RLE when the average run is long, dictionary when the domain is
    small relative to the rows, plain otherwise. The pass a parquet/
    ORC writer's stats collector runs before choosing encodings; the
    storage sibling of ``table_profile_report``.

    Scale shape: ALL columns share ONE window pass (identical
    partition/order — one scan, one block-keyed sort) and one stats
    scan (every NDV in one aggregate); per-column rows fan out by a
    generator, the table_profile_report pattern. NDV is the one
    COUNT(DISTINCT) (the HLL path replaces it at fleet scale per
    SCALE.md). Determinism: values compare as strings in both engines
    (the lag is over a cast column, not a double), counts and the
    micro average are exact integer arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    blk = F.expr(f"o_orderkey DIV {_ENC_BLOCK}")
    w = Window.partitionBy(blk).orderBy("o_orderkey")
    lagged = orders.select(
        blk.alias("blk"),
        *[
            col
            for c in _ENC_COLS
            for col in (
                F.col(c).cast("string").alias(f"v_{c}"),
                F.lag(F.col(c).cast("string")).over(w).alias(f"p_{c}"),
            )
        ],
    )
    runs_per_blk = lagged.groupBy("blk").agg(
        *[
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col(f"v_{c}") != F.col(f"p_{c}"), 1
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias(f"runs_{c}")
            for c in _ENC_COLS
        ]
    )
    totals = runs_per_blk.agg(
        *[
            F.sum(f"runs_{c}").cast("long").alias(f"n_runs_{c}")
            for c in _ENC_COLS
        ]
    )
    stats = orders.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.countDistinct(c).cast("long").alias(f"ndv_{c}")
            for c in _ENC_COLS
        ],
    )
    wide = totals.crossJoin(F.broadcast(stats))
    rows = wide.select(
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"ndv_{c}").alias("ndv"),
                        F.col(f"n_runs_{c}").alias("n_runs"),
                    )
                    for c in _ENC_COLS
                ]
            )
        ).alias("r"),
    ).select(
        F.col("r.column_name").alias("column_name"),
        "n_rows",
        F.col("r.ndv").alias("ndv"),
        F.col("r.n_runs").alias("n_runs"),
        F.expr(
            "CAST(n_rows * 1000000 DIV r.n_runs AS BIGINT)"
        ).alias("avg_run_len_micro"),
    )
    return rows.select(
        "column_name",
        "n_rows",
        "ndv",
        "n_runs",
        "avg_run_len_micro",
        F.when(F.col("avg_run_len_micro") >= 4000000, "rle")
        .when(F.col("ndv") * 100 <= F.col("n_rows"), "dict")
        .otherwise("plain")
        .alias("recommended"),
    )
