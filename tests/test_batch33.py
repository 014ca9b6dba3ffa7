"""Batch-33 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_markov_accuracy_identities(spark):
    """Every test transition with a fitted prev state scores once; the
    argmax prediction must at least beat the uniform baseline on the
    training argmax (it IS the empirical mode); accuracy in [0,1e6]."""
    rows = QUERIES["markov_next_event_accuracy"](spark, SF).collect()
    assert rows
    events = load_table(spark, SF, "events")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    n_test = seq.filter(F.col("user_id") % 2 == 1).count()
    # every fitted prev appears in test at this fixture's density
    assert sum(r.n_test for r in rows) == n_test
    types = {
        r.event_type
        for r in events.select("event_type").distinct().collect()
    }
    for r in rows:
        assert r.predicted_next in types
        assert 0 <= r.n_correct <= r.n_test
        assert r.accuracy_micro == r.n_correct * 1_000_000 // r.n_test


def test_ate_weighted_identity_and_randomization(spark):
    """The published ATE equals the n-weighted mean of the two-arm
    stratum effects; hash randomization keeps propensities interior
    where the stratum has enough users."""
    rows = QUERIES["stratified_treatment_effect"](spark, SF).collect()
    assert rows
    ates = {r.ate_micro for r in rows}
    assert len(ates) == 1
    (ate,) = ates
    two_arm = [r for r in rows if r.stratum_effect_micro is not None]
    assert two_arm, "fixture must produce at least one two-arm stratum"
    num = sum(r.n_users * r.stratum_effect_micro for r in two_arm)
    den = sum(r.n_users for r in two_arm)
    # Python // floors while Spark/DuckDB DIV truncates toward zero;
    # they agree on non-negative; allow 1 for a negative numerator
    assert abs(ate - num // den) <= 1
    for r in rows:
        assert 0 <= r.n_treated <= r.n_users
        assert r.propensity_micro == r.n_treated * 1_000_000 // r.n_users


def test_kfold_cv_pools_and_bounds(spark):
    """Folds cover orders exactly once; per-fold and pooled Brier live
    in [0, 1e6]; the pooled value recomputes from per-fold sums."""
    rows = QUERIES["kfold_cv_rate_model"](spark, SF).collect()
    assert len(rows) == 5
    n_orders = load_table(spark, SF, "orders").count()
    assert sum(r.n_test for r in rows) == n_orders
    cvs = {r.cv_brier_micro for r in rows}
    assert len(cvs) == 1
    for r in rows:
        assert 0 <= r.brier_micro <= 1_000_000
    # a constant-rate model on a ~50/50 outcome sits near 250000; just
    # pin the sane range (calibrated rates keep it below variance cap)
    (cv,) = cvs
    assert 0 < cv <= 260_000
