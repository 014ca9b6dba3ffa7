"""Property-based tests (hypothesis) for the pure driver-side kernels.

SURVEY §5's engine test plan is a superset of the reference's (which unit-
tests only pure helpers): here the stdlib OOXML layer and coordinate math
get adversarial inputs instead of fixtures.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.sources.xlsx import (
    _col_to_idx,
    _idx_to_col,
    read_sheets,
    write_xlsx,
)

# XML 1.0 can't carry control chars; cells strip leading/trailing space
# only via xml:space handling, which the writer sets — so spaces are fair
# game. Exclude empty strings (empty cells are absent by contract).
_cell_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"),  # surrogates, control chars
        # U+FFFE/U+FFFF are category Cn but ILLEGAL in XML 1.0 — expat
        # rejects them on read, so they are outside the writer's contract
        blacklist_characters="\ufffe\uffff",
    ),
    min_size=1,
    max_size=40,
).filter(lambda s: s.strip() != "")


@given(st.integers(min_value=1, max_value=16384))
def test_col_letters_roundtrip(n):
    assert _col_to_idx(_idx_to_col(n)) == n


def test_col_letters_known():
    assert _idx_to_col(1) == "A"
    assert _idx_to_col(26) == "Z"
    assert _idx_to_col(27) == "AA"
    assert _idx_to_col(702) == "ZZ"
    assert _idx_to_col(703) == "AAA"


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(_cell_text, st.integers(-10**9, 10**9)),
        min_size=0,
        max_size=8,
    )
)
def test_xlsx_roundtrip_arbitrary_strings(tmp_path_factory, rows):
    """Any XML-legal string survives write→read (escaping, unicode,
    quotes, accents); ints round-trip as their decimal serialization."""
    path = str(tmp_path_factory.mktemp("xl") / "t.xlsx")
    write_xlsx(path, {"s": (["name", "num"], rows)})
    back = read_sheets(path)["s"]
    assert len(back) == len(rows)
    for rec, (name, num) in zip(back, rows):
        assert rec["name"] == name
        assert rec["num"] == str(num)


@given(st.text(min_size=1, max_size=10).filter(lambda s: s.strip()))
def test_sheet_names_roundtrip(tmp_path_factory, name):
    import re

    if re.search(r"[\x00-\x1f<>&\"'\ufffe\uffff]", name):
        return  # markup chars are escaped (covered above); U+FFFE/U+FFFF
        # are XML-1.0-illegal and outside the writer's contract
    path = str(tmp_path_factory.mktemp("xl") / "t.xlsx")
    write_xlsx(path, {name: (["a"], [("x",)])})
    assert list(read_sheets(path)) == [name]


@given(
    st.floats(min_value=0, max_value=1e9, allow_nan=False),
    st.floats(min_value=0, max_value=1e9, allow_nan=False),
)
def test_det_round_formula_properties(x, y):
    """The floor-based rounding formula both engines implement: error
    bounded by half an ulp-of-precision, and monotone (order-preserving) —
    so rounding can never reorder ranked results across engines."""
    import math

    def dr(v: float, n: int) -> float:
        p = 10 ** n
        return math.floor(v * p + 0.5) / p

    for n in (2, 4, 9):
        assert abs(dr(x, n) - x) <= 0.5 / 10 ** n + 1e-9 * max(1.0, x)
        lo, hi = sorted((x, y))
        assert dr(lo, n) <= dr(hi, n)


@given(st.integers(0, 2**60 - 1))
def test_minhash_universal_family_in_range(h):
    """(a·h%2^30 + b) mod p stays in [0, p) without 64-bit overflow — the
    invariant that keeps Spark (wrapping longs) and DuckDB (erroring
    BIGINT) in agreement."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        MINHASH_AB,
        MINHASH_H_MOD,
        MINHASH_P,
    )

    h30 = h % MINHASH_H_MOD
    for a, b in MINHASH_AB:
        v = a * h30 + b
        # BOTH operands nonnegative and below 2^63: this is what makes
        # Spark (Java %) and DuckDB (%) agree — their semantics diverge
        # only for negative operands. (A bare `0 <= v % P < P` would be
        # a Python tautology carrying no cross-engine content.)
        assert 0 <= v < 2**63
        assert v >= 0 and MINHASH_P > 0


# ---------------------------------------------------------------------------
# Independent invariants for the batch-5 analytics operators (the DuckDB
# oracle checks equivalence of two implementations; these check the MATH).
# ---------------------------------------------------------------------------


def test_skyline_is_exactly_the_non_dominated_set(spark, sf_dir):
    """Brute-force dominance check at sf0.001: every returned order is
    non-dominated, and every non-returned order is dominated by some
    returned one (skyline completeness + soundness)."""
    from series_tiempo_ar_scraping_spark.session import load_table

    QUERIES = load_queries()
    sky = {
        r.o_orderkey
        for r in QUERIES["skyline_orders_pareto"](spark, sf_dir).collect()
    }
    pts = {
        r.o_orderkey: (r.o_orderdate, r.o_totalprice)
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    }

    def dominated(k):
        d, p = pts[k]
        return any(
            (d2 > d and p2 >= p)
            for k2, (d2, p2) in pts.items()
            if k2 != k
        )

    for k in pts:
        assert (k in sky) == (not dominated(k)), k


def test_pagerank_invariants(spark, sf_dir):
    """Structural invariants at sf0.001: every node gets a rank; isolated
    nodes sit at the floor 150000 + damped base; ranks are positive; and
    results are identical across two runs with different partitioning
    (the integer-arithmetic determinism claim)."""
    QUERIES = load_queries()

    out = {
        r.part_id: r.rank_micro
        for r in QUERIES["pagerank_part_graph"](spark, sf_dir).collect()
    }
    assert out, "no ranks"
    assert all(r >= 150000 for r in out.values())
    # re-run under a DIFFERENT shuffle partitioning: integer math
    # commutes across accumulation orders, so the ranks must be
    # bit-identical (re-running the same plan would not test this)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        out2 = {
            r.part_id: r.rank_micro
            for r in QUERIES["pagerank_part_graph"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert out == out2


def test_quantization_error_bound(spark, sf_dir):
    """int8 symmetric quantization invariant: every reconstruction error
    is bounded by scale/2 (+1 ulp slack) — the property that makes the
    QA report trustworthy; and scale really is max|x|/127."""
    QUERIES = load_queries()

    rows = QUERIES["embedding_int8_quantization"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.max_abs_err <= r.scale / 2 + 1e-9
        assert r.mse <= (r.scale / 2) ** 2 + 1e-9
        assert r.scale > 0


def test_decontamination_is_subset_of_training(spark, sf_dir):
    """Every flagged doc is a training doc, shares at least one shingle,
    and touches at least one eval doc; eval docs never self-flag."""
    from series_tiempo_ar_scraping_spark.queries_batch6 import _EVAL_MAX_DOC

    QUERIES = load_queries()
    rows = QUERIES["decontamination_ngram_overlap"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id >= _EVAL_MAX_DOC
        assert r.n_shared_shingles >= 1
        assert 1 <= r.n_eval_docs < _EVAL_MAX_DOC + 1


def test_token_histogram_accounts_every_document(spark, sf_dir):
    from pyspark.sql import functions as F

    from series_tiempo_ar_scraping_spark.session import load_table

    QUERIES = load_queries()
    hist = QUERIES["token_length_histogram"](spark, sf_dir)
    total_docs = hist.agg(F.sum("n_docs")).collect()[0][0]
    assert total_docs == load_table(spark, sf_dir, "documents").count()


def test_repetition_score_ratios_are_probabilities(spark, sf_dir):
    QUERIES = load_queries()

    rows = QUERIES["repetition_score"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.rep_ratio <= 1.0 + 1e-9
        assert 0 < r.distinct_ratio <= 1.0 + 1e-9
        assert r.top_freq <= r.n_tokens


# --- batch-14 math identities -------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-50, 50), min_size=1, max_size=60))
def test_reflected_walk_identity_equals_imperative_clamp(deltas):
    """inventory_clamped_balance's engine-side identity
    B_i = S_i - min(0, min_{j<=i} S_j) must equal the sequential spec
    B_i = max(0, B_{i-1} + d_i) for EVERY prefix — plus the derived
    aggregates (final stock, lost demand, peak)."""
    bal, seq = 0, []
    for d in deltas:
        bal = max(0, bal + d)
        seq.append(bal)
    s = mn = 0
    idf = []
    for d in deltas:
        s += d
        mn = min(mn, s)
        idf.append(s - min(0, mn))
    assert idf == seq
    assert idf[-1] == s - min(0, mn)  # final stock
    # lost demand == what the clamp absorbed == B_n - S_n
    assert -min(0, mn) == seq[-1] - s


@settings(max_examples=300, deadline=None)
@given(
    st.integers(-(10**15), 10**15),
    st.integers(1, 10**6),
)
def test_portable_floordiv_spelling_matches_python(num, den):
    """The cross-engine floor-division spelling used by
    series_theilsen_trend / k_anonymity_audit:
    (num - ((num % den) + den) % den) / den with C-style % must equal
    Python's floor //, and the subtraction must make the quotient
    exact (so Spark's truncating DIV and DuckDB's flooring // agree)."""
    cmod = num - int(num / den) * den  # C-style % (truncated division)
    pm = ((cmod % den) + den) % den
    assert (num - pm) % den == 0  # exact quotient: DIV == // == /
    assert (num - pm) // den == num // den


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 999), st.booleans(), st.integers(1, 3)),
        min_size=1,
        max_size=9,
        unique_by=lambda t: t[2],
    )
)
def test_packed_survivorship_key_is_lexicographic(recs):
    """golden_record_survivorship packs (non-null, ts, prio) into ONE
    bigint because DuckDB's arg_max lacks struct keys; packing must
    preserve the lexicographic order of the tuple for every in-domain
    value (ts < 1000, prio < 10)."""
    def pack(ts, nn, prio):
        return (1 if nn else 0) * 100000 + ts * 10 + prio

    tuples = [((1 if nn else 0), ts, prio) for ts, nn, prio in recs]
    keys = [pack(ts, nn, prio) for ts, nn, prio in recs]
    best_by_tuple = max(range(len(recs)), key=lambda i: tuples[i])
    best_by_key = max(range(len(recs)), key=lambda i: keys[i])
    assert tuples[best_by_tuple] == tuples[best_by_key]
