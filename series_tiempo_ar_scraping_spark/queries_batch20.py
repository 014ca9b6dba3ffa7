"""Batch-20 queries: media stream probing and entry-path analytics.

Families (each entry hash-oracled):

- MP3 frame-header walk: plant a deterministic MPEG-1 Layer III
  frame sequence per document, then WALK the sync headers from the
  binary column alone — bitrate/duration estimation without decoding
  audio, exactly what ffprobe-class tooling does first. Pushes the
  real-parse boundary past the import-gated full decode (PIL/av are
  absent; header walking needs only stdlib bytes).
- H.264 Annex-B NAL walk: plant SPS/PPS/IDR/slice sequences, split
  on start codes, report stream structure (keyframe cadence,
  parameter-set presence, payload volume) — the probe a video
  pipeline runs before handing segments to a real decoder.
- Session entry paths: the first three event types per user as a
  path string with user counts — the Sankey/flow view product
  analytics reads beside the transition matrix (paths, not edges).

Reference parity: extends the multimodal container/codec lane
(reference reads packed distribution files; see
operators/multimodal.py) with the media-stream structure probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# MP3 frame-header walk
# ---------------------------------------------------------------------------

_MP3_KBPS_CASE = (
    "CASE 1 + (doc_id + i) % 14 "
    + " ".join(
        f"WHEN {idx} THEN {kbps}"
        for idx, kbps in enumerate(
            (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
            start=1,
        )
    )
    + " END"
)


@register(
    "multimodal_mp3_framewalk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 5 AS n_frames,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END AS sr
      FROM documents
    ),
    fr AS (
      SELECT doc_id, sr, n_frames,
             unnest(generate_series(0, n_frames - 1)) AS i
      FROM d
    ),
    sz AS (
      SELECT doc_id, sr, n_frames,
             {_MP3_KBPS_CASE} AS kbps,
             (144000 * ({_MP3_KBPS_CASE})) // sr + (doc_id + i) % 2
               AS fsize
      FROM fr
    )
    SELECT doc_id AS media_id,
           CAST(MAX(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(fsize) AS BIGINT) AS total_bytes,
           CAST(MAX(sr) AS BIGINT) AS samplerate,
           CAST(MAX(n_frames) * 1152 * 1000000 // MAX(sr) AS BIGINT)
             AS duration_micros,
           CAST(SUM(kbps) AS BIGINT) AS sum_bitrate_kbps
    FROM sz GROUP BY doc_id
    """,
)
def multimodal_mp3_framewalk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MP3 stream probing without audio decode: each document carries
    a planted MPEG-1 Layer III frame sequence (frame count, per-frame
    bitrate index, padding — all doc_id arithmetic); the walker
    advances sync headers computing each frame's length
    (144000*kbps // samplerate + padding) and reports frame count,
    byte total, samplerate, estimated duration, and the bitrate sum —
    the ffprobe-class stream scan. Full audio decode stays
    import-gated (no audio libs in-sandbox); HEADER walking is pure
    stdlib bytes, so this lane is real.

    Scale shape: two Arrow stages over (doc_id) and the binary column
    — columnar transfer, no shuffle at all (grouping key is the row
    itself). Determinism: planted streams are pure integer
    arithmetic, so DuckDB reproduces every stat without parsing a
    byte."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        mp3_framewalk_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mp3_framewalk_stats(docs)


# ---------------------------------------------------------------------------
# H.264 Annex-B NAL walk
# ---------------------------------------------------------------------------


@register(
    "multimodal_h264_nalwalk",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 4 AS n_sl FROM documents
    ),
    sl AS (
      SELECT doc_id,
             CAST(SUM(40 + (doc_id + j) % 30) AS BIGINT) AS slice_bytes
      FROM (SELECT doc_id, unnest(generate_series(0, n_sl - 1)) AS j
            FROM d) x
      GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           CAST(3 + d.n_sl AS BIGINT) AS n_nals,
           CAST(1 AS BIGINT) AS n_idr,
           CAST(d.n_sl AS BIGINT) AS n_slices,
           CAST(1 AS INT) AS has_parameter_sets,
           CAST((10 + d.doc_id % 20) + (4 + d.doc_id % 8)
                + (100 + d.doc_id % 50) + sl.slice_bytes AS BIGINT)
             AS total_payload_bytes
    FROM d JOIN sl ON sl.doc_id = d.doc_id
    """,
)
def multimodal_h264_nalwalk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H.264 stream structure without video decode: each document
    carries a planted Annex-B sequence (SPS, PPS, one IDR keyframe,
    doc_id%4+1 non-IDR slices, payload sizes all arithmetic); the
    walker splits on 3/4-byte start codes and reports NAL counts by
    type, parameter-set presence, and payload volume — the
    segment-structure probe (keyframe cadence drives chunking) a
    video pipeline runs before any real decoder touches the bytes.
    Full decode stays import-gated (no av in-sandbox); start-code
    walking is pure stdlib bytes.

    Scale shape: two Arrow stages, no shuffle (per-row transform).
    Determinism: planted streams are integer arithmetic; the filler
    byte (0xAA) can never alias a start code, so the walk is exact."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        h264_nal_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return h264_nal_stats(docs)


# ---------------------------------------------------------------------------
# Session entry paths (flow analytics)
# ---------------------------------------------------------------------------


@register(
    "session_entry_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
             MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
             MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
      FROM seq WHERE rn <= 3 GROUP BY user_id
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p WHERE s3 IS NOT NULL
    GROUP BY 1
    """,
)
def session_entry_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path flow: each user's FIRST THREE event types as a
    'a>b>c' path with user counts — the Sankey view product analytics
    reads beside ``event_transition_matrix`` (whole paths, not
    independent edges: a>b>c and b>c>a share edges but are different
    journeys). Users with fewer than three events drop.

    Scale shape: one user-keyed ranking window (the sequence shuffle
    sessionization already pays) filtered to rn<=3 BEFORE the per-user
    pivot, then a types^3-bounded grouped count. Determinism: the
    window tiebreak is the unique event_id; string concat and exact
    counts only."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    p = seq.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("rn") == i, F.col("event_type"))
            ).alias(f"s{i}")
            for i in (1, 2, 3)
        ]
    )
    return (
        p.filter(F.col("s3").isNotNull())
        .groupBy(
            F.concat_ws(">", "s1", "s2", "s3").alias("path")
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )
