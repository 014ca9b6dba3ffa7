"""End-to-end mirror of the driver's correctness gate at sf0.001.

Every catalog query with an oracle must hash-match DuckDB; oracle-less
queries must at least run and return a stable schema.
"""

from __future__ import annotations

import pytest

from series_tiempo_ar_scraping_spark.registry import ORACLES, load_queries
from series_tiempo_ar_scraping_spark.testing import compare_query

QUERIES = load_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    res = compare_query(spark, sf_dir, name)
    if res["match"] is None:
        # No oracle — the weaker check must still carry signal: the
        # query returns ROWS (>= 0 is a tautology) with its PINNED
        # schema. Every justified oracle-less query needs an entry here.
        assert name not in ORACLES
        expected_schema = {
            "approx_sketch_stats": [
                "approx_users", "event_type", "p50_approx", "p99_approx",
            ],
        }
        assert name in expected_schema, (
            f"oracle-less query {name} has no pinned schema — add it"
        )
        df = QUERIES[name](spark, sf_dir)
        assert sorted(df.columns) == expected_schema[name]
        assert res["rows"] > 0, "oracle-less query returned no rows"
    else:
        assert res["match"], res


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_canonicalize_is_column_dtype_faithful():
    """Two frames with identical VALUES but one column typed int64 vs
    float64 must canonicalize differently — this is exactly what the
    driver's type-faithful hasher sees (DuckDB HUGEINT window sums reach
    pandas as float64 `150.0` while Spark bigint gives `150`).  The old
    iterrows()-based canonicalize upcast whole rows to float64 whenever
    ANY column was float, silently collapsing the divergence and
    false-greening survival_kaplan_meier for two rounds."""
    import pandas as pd

    from series_tiempo_ar_scraping_spark.testing import canonicalize

    ints = pd.DataFrame({"k": ["a", "b"], "n": [150, 7], "x": [0.5, 1.5]})
    floats = ints.assign(n=ints["n"].astype("float64"))
    assert ints["n"].dtype.kind == "i" and floats["n"].dtype.kind == "f"
    assert canonicalize(ints) != canonicalize(floats), (
        "canonicalize collapsed an int64/float64 column divergence — "
        "the mirror is blind to the driver's dtype hashing again"
    )
    # and identical frames still canonicalize identically
    assert canonicalize(ints) == canonicalize(ints.copy())


def test_entry_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())
