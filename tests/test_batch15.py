"""Batch-15 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_pii_detection_matches_arithmetic_ground_truth(spark):
    """The planting is pure arithmetic on doc_id (multiples of 5/7/11
    carry exactly one span each) and the base fixture text contains no
    PII-shaped strings — so the regex census must equal the multiple
    counts EXACTLY, independent of the SQL oracle."""
    docs = load_table(spark, SF, "documents")
    base = docs.select(
        F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)).alias("e"),
        F.sum(F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)).alias("p"),
        F.sum(F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0)).alias("s"),
        F.sum(
            F.when(F.col("text").contains("@"), 1).otherwise(0)
        ).alias("at_in_fixture"),
    ).collect()[0]
    assert base.at_in_fixture == 0, "fixture text now contains '@'"

    rows = QUERIES["pii_detection_report"](spark, SF).collect()
    tot = {
        k: sum(r[k] for r in rows)
        for k in (
            "email_matches", "email_docs",
            "phone_matches", "phone_docs",
            "ssn_matches", "ssn_docs",
        )
    }
    assert tot["email_matches"] == tot["email_docs"] == base.e
    assert tot["phone_matches"] == tot["phone_docs"] == base.p
    assert tot["ssn_matches"] == tot["ssn_docs"] == base.s


def test_pii_redaction_reduces_exactly_the_planted_docs(spark):
    """Redaction must touch exactly the docs that carry a planted span
    (multiples of 5, 7, or 11) and never grow the corpus when tags are
    shorter than what they replace is false in general — so assert the
    doc count identity, not a length direction."""
    docs = load_table(spark, SF, "documents")
    n_planted = docs.filter(
        (F.col("doc_id") % 5 == 0)
        | (F.col("doc_id") % 7 == 0)
        | (F.col("doc_id") % 11 == 0)
    ).count()
    row = QUERIES["pii_redaction_audit"](spark, SF).collect()[0]
    assert row.n_docs_redacted == n_planted
    assert row.chars_before != row.chars_after
    assert int(row.redacted_fingerprint) > 0


def test_gopher_report_internal_consistency(spark):
    """Flag counts are bounded by doc counts; duplicate mass is bounded
    by total trigram mass; every source bucket appears."""
    docs = load_table(spark, SF, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = QUERIES["gopher_repetition_report"](spark, SF).collect()
    assert len(rows) == n_sources
    for r in rows:
        for flag in (
            "n_flagged_top_trigram",
            "n_flagged_dup_mass",
            "n_flagged_low_diversity",
        ):
            assert 0 <= r[flag] <= r.n_docs, (flag, r)
        assert 0 <= r.total_dup_mass <= r.total_trigrams


def test_table_profile_matches_direct_queries(spark):
    """Profile rows equal independently computed per-column facts."""
    orders = load_table(spark, SF, "orders")
    prof = {
        r.column_name: r
        for r in QUERIES["table_profile_report"](spark, SF).collect()
    }
    n = orders.count()
    assert all(r.n_rows == n for r in prof.values())
    direct_ndv = orders.select(
        F.countDistinct("o_orderstatus").alias("s"),
        F.countDistinct("o_custkey").alias("c"),
    ).collect()[0]
    assert prof["o_orderstatus"].ndv == direct_ndv.s
    assert prof["o_custkey"].ndv == direct_ndv.c
    assert prof["o_orderkey"].n_nulls == 0
    # min/max text for the date column is a real date string
    assert len(prof["o_orderdate"].min_value) == 10
    # min/max are NUMERIC extremes cast to text, not lexicographic
    # string extremes ("99996" would beat "600000" lexically)
    key_minmax = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    assert prof["o_orderkey"].min_value == str(key_minmax.lo)
    assert prof["o_orderkey"].max_value == str(key_minmax.hi)
    cents_max = orders.agg(
        F.max(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
    ).collect()[0][0]
    assert prof["o_totalprice"].max_value == str(cents_max)


def test_histogram_quantile_within_one_bin_of_exact(spark):
    """The sketch's contract: each quantile estimate lands within one
    bin width of the EXACT rank-based quantile (computed independently
    here via sort), at every requested percentile."""
    orders = load_table(spark, SF, "orders")
    cents = sorted(
        r.c
        for r in orders.select(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("c")
        ).collect()
    )
    n = len(cents)
    rows = {
        r.quantile_pct: r
        for r in QUERIES["histogram_quantile_sketch"](spark, SF).collect()
    }
    for q, r in rows.items():
        # exact value at the same "first rank covering q%" definition
        exact = cents[max(0, -(-q * n // 100) - 1)]
        assert abs(r.est_cents - exact) <= r.bin_width_cents, (
            q, r.est_cents, exact, r.bin_width_cents,
        )
        assert r.n_rows == n


def test_inverted_index_postings_sorted_and_consistent(spark):
    """Postings heads are sorted ascending, df bounds the head length,
    and df/total_tf agree with an independent tokenization."""
    from series_tiempo_ar_scraping_spark.operators import textops as TX

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok"),
    )
    direct = {
        r.tok: (r.df, r.tf)
        for r in toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("tf"),
        )
        .filter(F.col("df") >= 2)
        .collect()
    }
    postings = {
        r.tok: sorted(r.ids)
        for r in toks.groupBy("tok")
        .agg(F.collect_set("doc_id").alias("ids"))
        .collect()
    }
    rows = QUERIES["inverted_index_build"](spark, SF).collect()
    assert len(rows) == len(direct)
    for r in rows:
        assert (r.df, r.total_tf) == direct[r.tok]
        head = [int(x) for x in r.postings_head.split(",")]
        # the head is exactly the SMALLEST doc ids — the capped window
        # must not admit arbitrary survivors
        assert head == postings[r.tok][: min(r.df, 10)]


def test_gopher_min_length_gate(spark, tmp_path):
    """The r9 COVERAGE edge, closed in r10: documents under 3 tokens
    are gated out upstream (the real Gopher rules filter on minimum
    length before the repetition screens). Pre-r10 a 1-2-token doc
    contributed one degenerate partial trigram that always tripped
    the top-trigram flag."""
    rows = [
        (1, "web", "ok",
         "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "web", "ok", "hi"),          # 1 token: gated out
        (3, "web", "ok", "two words"),   # 2 tokens: gated out
        (4, "web", "ok", "spam spam spam spam spam spam spam spam"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["gopher_repetition_report"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    # only the >= 3-token docs are counted
    assert r.n_docs == 2
    # the all-one-trigram spam doc trips every flag; the clean doc
    # trips none — so exactly one doc per flag, and the degenerate
    # docs contribute nothing (pre-r10: n_flagged_top_trigram was 3)
    assert r.n_flagged_top_trigram == 1
    assert r.n_flagged_dup_mass == 1
    assert r.n_flagged_low_diversity == 1
