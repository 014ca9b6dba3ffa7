"""Batch-20 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py).

The walker tests exercise the PARSERS directly on handcrafted and
corrupt streams — the oracle only proves the planted-arithmetic path,
so parser robustness (truncation, garbage, mixed content) pins here."""

from __future__ import annotations

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def test_mp3_walker_on_handcrafted_streams():
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        mp3_frame_bytes,
        walk_mp3_frames,
    )

    # two known frames: 128kbps/44100 pad=0 -> 417 bytes; 320/48000
    # pad=1 -> 961 bytes
    blob = mp3_frame_bytes(9, 0, 0) + mp3_frame_bytes(14, 1, 1)
    frames = walk_mp3_frames(blob)
    assert frames == [(128, 44100, 417), (320, 48000, 961)]
    # truncated final frame drops cleanly
    assert walk_mp3_frames(blob[:-1]) == [(128, 44100, 417)]
    # garbage prefix yields nothing (walker does not resync here)
    assert walk_mp3_frames(b"\x00\x01" + blob) == []
    assert walk_mp3_frames(b"") == []
    # free-format (bitrate index 0) and reserved samplerate stop the walk
    bad = bytes([0xFF, 0xFB, 0x00, 0x00]) * 3
    assert walk_mp3_frames(bad) == []


def test_h264_walker_on_handcrafted_streams():
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        h264_nal_bytes,
        walk_h264_nals,
    )

    blob = (
        h264_nal_bytes(7, 12)
        + h264_nal_bytes(8, 5)
        + h264_nal_bytes(5, 99)
        + h264_nal_bytes(1, 40)
    )
    assert walk_h264_nals(blob) == [(7, 12), (8, 5), (5, 99), (1, 40)]
    # 3-byte start codes parse too
    three = b"\x00\x00\x01" + bytes([0x65]) + b"\xaa" * 7
    assert walk_h264_nals(three) == [(5, 7)]
    assert walk_h264_nals(b"\xaa" * 50) == []
    assert walk_h264_nals(b"") == []


def test_mp3_stats_match_arithmetic(spark):
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    rows = QUERIES["multimodal_mp3_framewalk"](spark, SF).collect()
    assert len(rows) == n
    for r in rows[:50]:
        did = r.media_id
        assert r.n_frames == 3 + did % 5
        assert r.samplerate == (44100, 48000, 32000)[did % 3]
        assert (
            r.duration_micros
            == r.n_frames * 1152 * 1_000_000 // r.samplerate
        )


def test_h264_stats_shape(spark):
    rows = QUERIES["multimodal_h264_nalwalk"](spark, SF).collect()
    for r in rows[:50]:
        assert r.has_parameter_sets == 1
        assert r.n_idr == 1
        assert r.n_nals == 3 + r.n_slices
        assert r.n_slices == 1 + r.media_id % 4


def test_entry_paths_partition_the_eligible_users(spark):
    """Path user counts sum to the number of users with >= 3 events,
    and every path has exactly three valid stages."""
    events = load_table(spark, SF, "events")
    eligible = (
        events.groupBy("user_id")
        .count()
        .filter(F.col("count") >= 3)
        .count()
    )
    rows = QUERIES["session_entry_paths"](spark, SF).collect()
    assert sum(r.n_users for r in rows) == eligible
    types = {"click", "error", "purchase", "signup", "view"}
    for r in rows:
        parts = r.path.split(">")
        assert len(parts) == 3
        assert all(p in types for p in parts)
