"""Batch-17 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_tar_pack_extract_roundtrip_and_size_formula():
    """pack/list round-trips content exactly, the byte-size formula the
    ORACLE uses matches the real archive, and corrupt blobs degrade to
    an empty member list instead of throwing."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        list_tar_members,
        pack_tar,
    )

    members = [
        ("00000001.txt", b"hello world" * 100),
        ("00000001.json", b'{"id":1,"lang":"es"}'),
        ("00000002.txt", b""),
        ("00000002.json", b'{"id":2,"lang":"en"}'),
    ]
    blob = pack_tar(members)
    assert list_tar_members(blob) == members
    total = sum(
        512 + (len(d) + 511) // 512 * 512 for _, d in members
    ) + 1024
    assert len(blob) == (total + 10239) // 10240 * 10240
    # byte-determinism: same members -> identical bytes
    assert pack_tar(members) == blob
    assert list_tar_members(b"not a tar") == []
    assert list_tar_members(blob[:100]) == []


def test_typed_pdf_rejects_nested_ddl_with_clear_error():
    """typed_pdf's hand-rolled DDL parser is flat-only; comma-bearing
    types (decimal(10,2), array<...>) must raise a contract error
    naming the schema, not an opaque unpack ValueError inside an
    executor worker (ADVICE r8)."""
    import pytest

    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        typed_pdf,
    )

    for ddl in (
        "a bigint, b decimal(10,2)",
        "a array<struct<x: int, y: int>>",
        "a map<string,int>",
        "a bigint, malformed",
    ):
        with pytest.raises(ValueError, match="typed_pdf"):
            typed_pdf([], ddl)
    # the flat path still works, empty and full
    empty = typed_pdf([], "a bigint, b string")
    assert list(empty.columns) == ["a", "b"]
    assert str(empty["a"].dtype) == "int64"
    full = typed_pdf([(1, "x")], "a bigint, b string")
    assert full.shape == (1, 2)


def test_tar_shards_cover_every_document(spark):
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    rows = QUERIES["multimodal_tar_shards"](spark, SF).collect()
    assert len(rows) == math.ceil(n / 8)
    assert sum(r.n_samples for r in rows) == n
    assert all(r.n_members == 2 * r.n_samples for r in rows)
    # every shard's archive is record-aligned
    assert all(r.tar_bytes % 10240 == 0 for r in rows)


def test_zone_map_clustering_skips_more(spark):
    """The date-clustered layout never scans a LARGER file fraction
    than the natural layout for a date probe, scanned rows always
    cover the matched rows, and the 3-month probe touches at most 4
    month-files under clustering."""
    rows = QUERIES["zone_map_pruning_report"](spark, SF).collect()
    assert len(rows) == 6
    by = {(r.layout, r.probe_id): r for r in rows}
    for pid in (1, 2, 3):
        nat, clu = by[("natural", pid)], by[("clustered", pid)]
        assert nat.rows_in_scanned >= nat.rows_matched
        assert clu.rows_in_scanned >= clu.rows_matched
        assert nat.rows_matched == clu.rows_matched
        # fraction compare via cross-multiplication (no floats)
        assert (
            clu.files_scanned * nat.n_files_total
            <= nat.files_scanned * clu.n_files_total
        )
    assert by[("clustered", 2)].files_scanned <= 4


def test_cross_source_matrix_accounts_every_edge(spark):
    """Pair totals equal the registered edge list's count, every
    planted mutant contributes a SAME-source (diagonal) pair, and the
    is_cross flag is exactly the off-diagonal indicator."""
    edges = QUERIES["dedup_ngram_jaccard"](spark, SF)
    n_edges = edges.count()
    rows = QUERIES["cross_source_duplication_matrix"](
        spark, SF
    ).collect()
    assert sum(r.n_dup_pairs for r in rows) == n_edges
    for r in rows:
        assert r.is_cross == int(r.source_a != r.source_b)
        assert r.source_a <= r.source_b
    # planted mutants (id+100000) pair with their own original -> the
    # diagonal dominates
    diag = sum(r.n_dup_pairs for r in rows if not r.is_cross)
    assert diag >= len(rows)


def test_streaming_pii_totals_match_batch_census(spark):
    """Summing the streaming monitor's windows reproduces the batch
    census totals exactly — stream and batch lanes plant and count the
    same spans."""
    batch = QUERIES["pii_detection_report"](spark, SF).collect()
    want = {
        k: sum(getattr(r, f"{k}_matches") for r in batch)
        for k in ("email", "phone", "ssn")
    }
    n_docs = sum(r.n_docs for r in batch)
    wins = QUERIES["streaming_pii_window_counts"](spark, SF).collect()
    assert sum(r.n_docs for r in wins) == n_docs
    for k, total in want.items():
        assert sum(getattr(r, f"{k}_matches") for r in wins) == total
    # synthetic clock: one doc per second -> at most 60 docs per window
    assert all(r.n_docs <= 60 for r in wins)
