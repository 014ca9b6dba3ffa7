"""Batch-41 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math
from collections import defaultdict


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (Spark/DuckDB DIV), not Python //."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_langid_confusion_partitions_and_abstains(spark):
    """Cells partition the corpus; per-truth shares sum to ~1e6; the
    detector never guesses en/es for a zh document MORE often than it
    abstains... at minimum the non-en/es truths must show some 'und'
    mass (the abstain behavior the heuristic exists to have)."""
    rows = QUERIES["langid_confusion_matrix"](spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    by_actual = defaultdict(list)
    for r in rows:
        by_actual[r.actual].append(r)
        assert r.is_correct == (1 if r.actual == r.detected else 0)
        assert r.share_of_actual_micro == r.n * 1_000_000 // r.n_actual
    for actual, cells in by_actual.items():
        tot = sum(c.share_of_actual_micro for c in cells)
        assert 1_000_000 - len(cells) < tot <= 1_000_000
        assert sum(c.n for c in cells) == cells[0].n_actual
    # en recall should dominate: the stopword list IS english
    en = {c.detected: c for c in by_actual["en"]}
    assert en["en"].share_of_actual_micro > 500_000
    for lang in ("de", "fr", "zh"):
        dets = {c.detected for c in by_actual[lang]}
        assert "und" in dets or "tie" in dets


def test_class_separation_recomputes(spark):
    """Centroids, within-MSD and nearest-centroid distances recompute
    exactly from the integer-scaled vectors in Python."""
    rows = {
        r.label: r
        for r in QUERIES["class_separation_report"](spark, SF).collect()
    }
    emb = load_table(spark, SF, "embeddings").collect()
    by_label = defaultdict(list)
    for e in emb:
        by_label[e.label].append(
            [math.floor(float(x) * 262144) for x in e.embedding]
        )
    cent = {
        lab: [
            _tdiv(sum(v[d] for v in vecs), len(vecs))
            for d in range(len(vecs[0]))
        ]
        for lab, vecs in by_label.items()
    }
    for lab, vecs in by_label.items():
        w = _tdiv(
            sum(
                (v[d] - cent[lab][d]) ** 2
                for v in vecs
                for d in range(len(v))
            ),
            len(vecs),
        )
        b = min(
            sum(
                (cent[lab][d] - cent[o][d]) ** 2
                for d in range(len(cent[lab]))
            )
            for o in cent
            if o != lab
        )
        r = rows[lab]
        assert r.n == len(vecs)
        q36 = 262144.0 * 262144
        assert r.within_msd == math.floor(w / q36 * 1e6 + 0.5) / 1e6
        assert (
            r.nearest_centroid_sqdist
            == math.floor(b / q36 * 1e6 + 0.5) / 1e6
        )
        assert r.separation_milli == _tdiv(b * 1000, max(w, 1))


def test_band_load_identities(spark):
    """Per band: buckets partition the corpus (sum of bucket sizes =
    n_docs), candidate pairs recompute from the bucket census, and the
    total candidate load bounds the distinct LSH pair count from
    above."""
    rows = QUERIES["minhash_band_load_report"](spark, SF).collect()
    assert len(rows) == 4  # MINHASH_K / MINHASH_BAND_ROWS
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    n_docs = _near_corpus(spark, SF).count()
    lsh_pairs = QUERIES["dedup_minhash_lsh"](spark, SF).count()
    total_load = sum(r.candidate_pairs for r in rows)
    assert total_load >= lsh_pairs  # distinct-pair count is deduped
    for r in rows:
        assert r.max_bucket >= 1
        assert r.n_singletons <= r.n_buckets
        # a bucket census must cover every doc exactly once per band
        assert r.n_buckets <= n_docs
        if r.max_bucket == 1:
            assert r.candidate_pairs == 0
