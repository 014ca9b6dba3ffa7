"""Semantic invariants for batch 14 — the adversarial layer ABOVE the
hash oracles.

A hash oracle proves Spark == DuckDB; it cannot prove either is RIGHT
when both sides share a bug (same wrong sign matrix, same inverted
filter). Each test here pins a mathematical property the correct
answer must satisfy independently of the mirrored implementation:
conservation laws, bounded statistics, expectation values, dominance
relations between related queries.
"""

from __future__ import annotations

import pytest

from series_tiempo_ar_scraping_spark.registry import load_queries

QUERIES = load_queries()


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    cache: dict = {}

    def get(name: str):
        if name not in cache:
            cache[name] = QUERIES[name](spark, sf_dir).collect()
        return cache[name]

    return get


def test_jl_projection_preserves_distance_in_expectation(run):
    """E[|Px-Py|^2] = k*|x-y|^2 for +/-1 sign projections (Achlioptas
    2001) — the mean distortion ratio over 276 pairs concentrates near
    1. A wrong sign matrix or a dropped dimension that both engines
    share would still hash-match; it cannot pass this."""
    rows = run("jl_projection_distortion")
    assert len(rows) == 276
    ratios = [r.distortion_ratio for r in rows if r.d2_orig > 0]
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3, mean
    assert all(r.d2_proj >= 0 for r in rows)


def test_theilsen_bounds_and_pair_counts(run):
    rows = run("series_theilsen_trend")
    for r in rows:
        assert -1.0 <= r.kendall_tau <= 1.0
        assert r.n_pairs == r.n_points * (r.n_points - 1) // 2


def test_mixture_reweighting_flattens_the_mix(run):
    """alpha<1 temperature sampling must (a) keep EVERYTHING from the
    smallest source and (b) make the kept mix no more skewed than the
    natural mix."""
    rows = run("corpus_mixture_reweighting")
    smallest = min(rows, key=lambda r: r.n_tokens)
    assert smallest.accept_micro == 1_000_000
    assert max(r.kept_share for r in rows) <= max(
        r.token_share for r in rows
    ) + 1e-9


def test_markov_removal_effects_are_probabilities(run):
    rows = run("markov_removal_attribution")
    assert rows, "no channels"
    for r in rows:
        assert 0 <= r.removed_micro <= r.base_micro <= 1_000_000
        assert r.effect_micro == r.base_micro - r.removed_micro
    share_sum = sum(r.attribution_share for r in rows)
    assert abs(share_sum - 1.0) < 1e-4, share_sum


def test_fifo_matching_conserves_quantities(run):
    """Sequence-FIFO conservation: matched = min(received, issued)
    exactly, per part; the two remainders follow."""
    for r in run("fifo_cogs_matching"):
        assert r.matched_qty == min(r.total_received, r.total_issued)
        assert r.unmatched_issue_qty == r.total_issued - r.matched_qty
        assert (
            r.ending_inventory_qty == r.total_received - r.matched_qty
        )
        assert r.cogs_micro >= 0


def test_clamped_balance_invariants(run):
    for r in run("inventory_clamped_balance"):
        assert r.final_stock >= 0
        assert r.peak_stock >= r.final_stock
        assert r.lost_demand >= 0
        assert r.n_stockout_events >= 0


def test_f1_report_single_label_identity(run):
    """Single-label multi-class: every false positive for one class is
    a false negative for another, so sum(fp) == sum(fn); and the
    micro-averaged totals appear on the __macro__ row's count columns."""
    rows = run("classification_f1_report")
    per = [r for r in rows if r.label != "__macro__"]
    macro = [r for r in rows if r.label == "__macro__"]
    assert len(macro) == 1
    assert sum(r.fp for r in per) == sum(r.fn for r in per)
    assert macro[0].tp == sum(r.tp for r in per)
    for r in rows:
        assert 0 <= r.f1_micro <= 1_000_000


def test_zipf_slope_is_negative_and_fit_is_tight(run):
    row = run("zipf_token_powerlaw")[0]
    assert row.zipf_slope < 0
    assert 0 <= row.r2 <= 1


def test_assortativity_is_a_correlation(run):
    row = run("graph_degree_assortativity")[0]
    assert -1.0 <= row.assortativity <= 1.0


def test_window_funnel_dominated_by_unconstrained_funnel(run, spark, sf_dir):
    """Adding a 2h window can only LOWER funnel depth: the number of
    users reaching depth 3 under the window constraint must be <= the
    unconstrained first-occurrence funnel's purchase-stage count."""
    wf = run("window_funnel_depth")
    depth2plus = sum(r.n_users for r in wf if r.depth >= 2)
    depth3 = sum(r.n_users for r in wf if r.depth >= 3)
    # funnel_conversion is one wide row: n_view / n_view_click /
    # n_view_click_purchase (first-occurrence, no time window)
    uncon = QUERIES["funnel_conversion"](spark, sf_dir).collect()[0]
    assert depth2plus <= uncon.n_view_click
    assert depth3 <= uncon.n_view_click_purchase
    assert sum(r.n_users for r in wf) <= uncon.n_view


def test_expectation_suite_fixture_contracts_hold(run):
    """The fixture data satisfies every declared contract — a failing
    row here means either the generator changed or a check inverted."""
    rows = run("expectation_suite_report")
    assert len(rows) == 10
    assert all(r.passed == 1 for r in rows), [
        (r.table_name, r.column_name, r.check, r.n_violations)
        for r in rows
        if r.passed == 0
    ]


def test_embedding_index_pipeline_removes_planted_dups(run):
    """The dedup stage must remove exactly the planted scaled copies
    (1/7 of vectors get a +100000-id copy), and IVF recall against
    exact top-5 should be usefully high on the survivor set."""
    rows = run("embedding_index_pipeline")
    r0 = rows[0]
    removed = r0.n_corpus - r0.n_survivors
    # exact dedup contract: the corpus planted ONE scaled copy per base
    # vec_id % 7 == 0, scaling preserves cosine (sim == 1 >= 0.95), and
    # nothing else crosses the threshold — so survivors are exactly the
    # base ids 0..n-1 and removed == ceil(n/7)
    assert removed == (r0.n_survivors + 6) // 7, (
        r0.n_corpus,
        r0.n_survivors,
    )
    total_overlap = sum(r.n_overlap for r in rows)
    total_exact = sum(r.n_exact for r in rows)
    assert total_overlap >= total_exact // 2  # recall@5 >= 0.5


def test_new_batches_keep_the_docstring_discipline():
    """Every batch-13/14 query documents its scale shape AND its
    determinism story — the two sections the reviews actually read.
    New entries that skip them fail here, so the discipline can't
    erode batch over batch."""
    import series_tiempo_ar_scraping_spark.queries_batch13 as b13
    import series_tiempo_ar_scraping_spark.queries_batch14 as b14
    import series_tiempo_ar_scraping_spark.queries_batch15 as b15
    import series_tiempo_ar_scraping_spark.queries_batch16 as b16
    import series_tiempo_ar_scraping_spark.queries_batch17 as b17
    import series_tiempo_ar_scraping_spark.queries_batch18 as b18
    import series_tiempo_ar_scraping_spark.queries_batch19 as b19
    import series_tiempo_ar_scraping_spark.queries_batch20 as b20
    import series_tiempo_ar_scraping_spark.queries_batch21 as b21
    import series_tiempo_ar_scraping_spark.queries_batch22 as b22
    import series_tiempo_ar_scraping_spark.queries_batch23 as b23
    import series_tiempo_ar_scraping_spark.queries_batch24 as b24
    import series_tiempo_ar_scraping_spark.queries_batch25 as b25
    import series_tiempo_ar_scraping_spark.queries_batch26 as b26
    import series_tiempo_ar_scraping_spark.queries_batch27 as b27
    import series_tiempo_ar_scraping_spark.queries_batch28 as b28
    import series_tiempo_ar_scraping_spark.queries_batch29 as b29

    missing = []
    for mod in (
        b13, b14, b15, b16, b17, b18, b19, b20, b21, b22, b23, b24, b25,
        b26, b27, b28, b29,
    ):
        for name, fn in QUERIES.items():
            if fn.__module__ != mod.__name__:
                continue
            doc = (fn.__doc__ or "").lower()
            if "scale" not in doc or "determin" not in doc:
                missing.append(name)
    assert not missing, missing
