"""Local mirror of the driver's correctness gate.

Runs each catalog query on Spark and its oracle on DuckDB over the same
parquet tables, then compares row count, (sorted) column names, and an
order-insensitive canonicalization of all values — strict string equality,
no tolerance, because the queries are written to be bit-deterministic
(see queries.py module docstring).
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import numpy as np
import pandas as pd

from series_tiempo_ar_scraping_spark.session import table_path

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the driver's pre-registered table views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Type-faithful: floats keep their ".0" (repr), ints render bare.
        # This is what the driver's hasher sees — DuckDB returns HUGEINT
        # sums as float64 (3.0) while Spark BIGINT gives int64 (3), and
        # the driver flags that as a mismatch; collapsing here would mask
        # exactly that bug class (it did, in round 1, for 5 queries).
        if math.isnan(v):
            return "NULL"
        return repr(float(v))
    if isinstance(v, _dt.datetime):
        v = v.replace(tzinfo=None)
        if v.time() == _dt.time(0, 0):
            # DuckDB fetchdf renders DATE as midnight datetime64 — collapse
            # so date-typed results compare equal across engines.
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canonicalize(df: pd.DataFrame) -> list[tuple[str, ...]]:
    # itertuples (NOT iterrows): iterrows() materializes each row as a
    # Series with ONE common dtype, upcasting int64 columns to float64
    # whenever any sibling column is float — which renders Spark `150`
    # and DuckDB `150.0` identically and defeats the type-faithfulness
    # _canon_value exists to provide (masked survival_kaplan_meier's
    # driver-red dtype divergence for two rounds). itertuples preserves
    # each column's own dtype.
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            # numpy scalars (np.int64 / np.float32 / np.bool_) are not
            # subclasses of their Python counterparts (except np.float64);
            # unwrap so _canon_value's isinstance checks stay exact.
            if isinstance(v, np.generic):
                v = v.item()
            if v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, pd.Timestamp):
                vals.append(_canon_value(v.to_pydatetime()))
            else:
                vals.append(_canon_value(v))
        out.append(tuple(vals))
    return sorted(out)


def compare_query(spark, sf_dir: str, name: str) -> dict:
    """Run one catalog query both ways; return a result dict."""
    from series_tiempo_ar_scraping_spark.registry import ORACLES, load_queries

    sdf = load_queries()[name](spark, sf_dir)
    spark_pd = sdf.toPandas()
    res: dict = {"name": name, "rows": len(spark_pd)}
    if name not in ORACLES:
        # No oracle = no hard correctness signal. Report 'untested', never
        # 'pass' — the driver records these as weaker rows-only checks.
        res["status"] = "untested"
        res["match"] = None
        return res
    con = duckdb_connection(sf_dir)
    try:
        duck_pd = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    res["oracle_rows"] = len(duck_pd)
    s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if s_cols != d_cols:
        res.update(status="schema_mismatch", match=False, spark_cols=s_cols, duck_cols=d_cols)
        return res
    s_can, d_can = canonicalize(spark_pd), canonicalize(duck_pd)
    if s_can == d_can:
        res.update(status="ok", match=True)
    else:
        # set-difference samples: positional zip over independently
        # sorted lists mis-aligns after the first differing row and
        # reports unrelated pairs (and nothing at all on a count
        # mismatch) — show rows each engine has that the other lacks
        from collections import Counter

        s_ctr, d_ctr = Counter(s_can), Counter(d_can)
        only_spark = list((s_ctr - d_ctr).elements())[:3]
        only_duck = list((d_ctr - s_ctr).elements())[:3]
        res.update(
            status="value_mismatch",
            match=False,
            n_spark=len(s_can),
            n_duck=len(d_can),
            sample_diff={
                "only_spark": only_spark, "only_duck": only_duck,
            },
            spark_head=s_can[:2],
            duck_head=d_can[:2],
        )
    return res
