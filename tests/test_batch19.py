"""Batch-19 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_perceptron_matches_pure_python_replay(spark):
    """Re-training the batch perceptron in plain Python over the same
    integer features yields bit-identical weights and
    misclassification counts, round by round."""
    from series_tiempo_ar_scraping_spark.operators import textops as TX

    docs = load_table(spark, SF, "documents")
    feats = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
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
    ).collect()
    w = [0, 0, 0, 0]
    expect = []
    for r in (1, 2, 3):
        upd = [0, 0, 0, 0]
        n_mis = 0
        for row in feats:
            x = (1, row.x1, row.x2, row.x3)
            margin = sum(wi * xi for wi, xi in zip(w, x))
            if row.y * margin <= 0:
                n_mis += 1
                for i in range(4):
                    upd[i] += row.y * x[i]
        w = [wi + ui for wi, ui in zip(w, upd)]
        expect.append((r, *w, n_mis))
    rows = sorted(
        QUERIES["perceptron_training"](spark, SF).collect(),
        key=lambda r: r.round,
    )
    got = [
        (r.round, r.w0, r.w1, r.w2, r.w3, r.n_misclassified)
        for r in rows
    ]
    assert got == expect
    # training makes progress on this corpus: the trace must not be
    # degenerate (all-zero weights after 3 rounds)
    assert any(x != 0 for x in got[-1][1:5])


def test_encoding_advisor_counts_runs_exactly(spark):
    """Block run counts equal a pure-Python replay for one column, and
    the recommendation follows the integer rules."""
    orders = load_table(spark, SF, "orders")
    rows = {
        r.column_name: r
        for r in QUERIES["encoding_advisor"](spark, SF).collect()
    }
    data = sorted(
        orders.select("o_orderkey", "o_orderstatus").collect(),
        key=lambda r: r.o_orderkey,
    )
    runs = 0
    prev_blk, prev_v = None, None
    for r in data:
        blk = r.o_orderkey // 4096
        v = str(r.o_orderstatus)
        if blk != prev_blk or v != prev_v:
            runs += 1
        prev_blk, prev_v = blk, v
    got = rows["o_orderstatus"]
    assert got.n_runs == runs
    assert got.n_rows == len(data)
    for r in rows.values():
        assert r.avg_run_len_micro == r.n_rows * 1_000_000 // r.n_runs
        if r.avg_run_len_micro >= 4_000_000:
            assert r.recommended == "rle"
        elif r.ndv * 100 <= r.n_rows:
            assert r.recommended == "dict"
        else:
            assert r.recommended == "plain"
    # a key-like column must never be dict/rle recommended
    assert rows["o_custkey"].recommended == "plain"
