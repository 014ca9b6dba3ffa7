"""Text-analysis operators for the training-data pipeline (BASELINE.json
north-star extensions): tokenization, language ID, quality scoring,
fingerprinting. All pure Catalyst expressions — JVM-side, codegen'd, no
Python in the hot path, so they run at corpus scale (100 TB of documents)
as a single projection over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.functions.scalars import _col

# Tiny embedded stopword lists for the n-gram/stopword language heuristic.
# Deliberately short: the operator's shape (per-language hit counting) is
# what scales; richer lists are data, not code.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "las"],
}

QUALITY_STOPWORDS = STOPWORDS["en"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the BPE-ish regex variant is
    ``bpe_ish_tokens``). Empty tokens are filtered: ``split`` of an
    empty trimmed string yields ``['']``, which would count 1 token for
    an empty document (the DuckDB fragment filters identically)."""
    return F.filter(
        F.split(F.trim(_col(text)), r"\s+"), lambda t: t != ""
    )


def bpe_ish_tokens(text: Column | str) -> Column:
    """Sub-word-ish tokenization: split on whitespace AND punctuation
    boundaries — a cheap stand-in for BPE pre-tokenization."""
    return F.split(
        F.trim(F.regexp_replace(_col(text), r"([.,!?;:()\[\]])", r" $1 ")),
        r"\s+",
    )


def stopword_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens in a stopword list — list membership inside a
    higher-order filter, no explode/shuffle."""
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def punct_count(text: Column | str) -> Column:
    return F.regexp_count(_col(text), F.lit(r"[.,!?;:]"))


def lang_id(text: Column | str) -> Column:
    """Stopword-hit argmax language guess: 'en' / 'es' / 'tie' / 'und'.

    Deterministic tie handling (SURVEY §7 hard part (c))."""
    t = tokens(text)
    en = stopword_hits(t, STOPWORDS["en"])
    es = stopword_hits(t, STOPWORDS["es"])
    return (
        F.when((en > es) & (en > 0), "en")
        .when((es > en) & (es > 0), "es")
        .when((en == es) & (en > 0), "tie")
        .otherwise("und")
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword features for quality scoring."""
    t = tokens(text)
    n_toks = F.size(t)
    n_chars = F.length(_col(text))
    stops = stopword_hits(t, QUALITY_STOPWORDS)
    punct = punct_count(text)
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "stop_ratio": stops.cast("double") / F.greatest(n_toks, F.lit(1)),
        "punct_ratio": punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "avg_token_len": n_chars.cast("double") / F.greatest(n_toks, F.lit(1)),
    }


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: favors length up to 200 tokens,
    healthy stopword density, low punctuation density. The exact weights
    are a policy choice; the shape (single projection) is the operator."""
    f = quality_features(text)
    return (
        F.least(F.lit(1.0), f["n_tokens"] / F.lit(200.0)) * 0.5
        + F.least(F.lit(1.0), f["stop_ratio"] * 4) * 0.3
        + (F.lit(1.0) - F.least(F.lit(1.0), f["punct_ratio"] * 10)) * 0.2
    )


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, non-alnum →
    space, collapse runs, trim."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(_col(text)), r"[^a-z0-9]+", " "), r" +", " "
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (the rolling-hash
    variant for near-dup detection is minhash/simhash in dedup.py)."""
    return F.md5(normalize_text(text))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token column.

    ``toks`` MUST be a column reference (not an inline tokenization
    expression): Catalyst inlines expression arguments into every
    ``element_at`` call, so passing ``tokens(...)`` directly re-runs the
    regex tokenizer ~3×|shingles| times per row (measured 18s → 2s on the
    sf0.1 dedup bench when materialized)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    # try_element_at: documents SHORTER than n tokens index past the
    # array end — under Spark's default ANSI mode plain element_at would
    # kill the task (INVALID_ARRAY_INDEX_IN_ELEMENT_AT), one short doc
    # aborting the whole dedup job. try_element_at yields NULL, which
    # concat_ws skips — the exact semantics the DuckDB oracle fragment
    # (_SHINGLES_SQL: out-of-range list index → NULL) already has.
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.try_element_at(toks, (i + j + 1).cast("int"))
                    for j in range(n)
                ],
            ),
        )
    )
