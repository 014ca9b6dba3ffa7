"""Batch-17 queries: container shards, data-skipping evidence, and
the cross-source duplication census.

Families (each entry hash-oracled; determinism per the established
recipes):

- WebDataset-style TAR shards: the multimodal-training container
  format (N samples per uncompressed tar, one member per modality) —
  assembled by a JVM collect_list over the shard key, packed and
  extracted by one ``mapInPandas`` each (the extract reading
  the binary column alone). USTAR with pinned headers is byte-
  deterministic, so even the archive SIZE is oracle-able from pure
  arithmetic (unlike ZIP, whose DEFLATE stream is zlib-build
  dependent).
- Zone-map pruning report: quantifies DATA SKIPPING — per-file
  min/max under a natural vs a date-clustered layout, and how many
  files K probe predicates must actually read. The report a table
  optimizer (Delta/Iceberg OPTIMIZE, Z-ORDER) prints to justify a
  re-layout; the measurement side of ``zorder_bucket_stats``.
- Cross-source duplication matrix: the verified near-dup edge set
  rolled up to (source, source) pairs — which corpus sources
  duplicate EACH OTHER (syndication, mirrors) vs themselves. The
  curation view that decides which source to drop; composes the
  shared near-dup CTE prefix so the edges provably match the dedup
  family's.

Reference parity: extends the reference's distribution-file
ingestion lane (reference/download.py, scrapers/base.py read packed
files from disk) and its per-catalog report rollups with the
container and layout passes a fleet-scale corpus platform needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.queries_llm import dedup_ngram_jaccard
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _neardup_edges_ctes

# ---------------------------------------------------------------------------
# WebDataset-style TAR shards
# ---------------------------------------------------------------------------

_TAR_SHARD = 8


@register(
    "multimodal_tar_shards",
    oracle=f"""
    WITH m AS (
      SELECT doc_id // {_TAR_SHARD} AS shard_id,
             lpad(CAST(doc_id AS VARCHAR), 8, '0') AS base,
             CAST(strlen(text) AS BIGINT) AS txt_sz,
             CAST(strlen('{{"id":' || doc_id || ',"lang":"' || lang
                         || '"}}') AS BIGINT) AS js_sz
      FROM documents
    ),
    memb AS (
      SELECT shard_id, base || '.json' AS name, js_sz AS sz FROM m
      UNION ALL
      SELECT shard_id, base || '.txt', txt_sz FROM m
    )
    SELECT shard_id,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_samples,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN name LIKE '%.txt' THEN sz ELSE 0 END)
                AS BIGINT) AS payload_bytes,
           CAST(SUM(CASE WHEN name LIKE '%.json' THEN sz ELSE 0 END)
                AS BIGINT) AS meta_bytes,
           CAST(((SUM(512 + ((sz + 511) // 512) * 512) + 1024 + 10239)
                 // 10240) * 10240 AS BIGINT) AS tar_bytes,
           md5(string_agg(name || ':' || sz, '|' ORDER BY name))
             AS members_fingerprint
    FROM memb GROUP BY shard_id
    """,
)
def multimodal_tar_shards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WebDataset-style sharded TAR round trip: 8 documents per
    shard, each sample contributing a `.txt` payload and a `.json`
    sidecar member; shards pack in one grouped Arrow stage, then a
    second Arrow stage extracts members from the binary column ALONE
    and reports per-shard stats — including the exact archive byte
    count and an md5 fingerprint of the sorted member directory, both
    of which DuckDB reproduces arithmetically because pinned-header
    USTAR is a pure function of the members.

    Scale shape: shard assembly is a JVM collect_list keyed by shard
    (the shuffle a shard-writer pays anyway — co-locating a sample's
    members is the point of the format); pack and extract are each ONE
    ``mapInPandas``, columnar, the extract reading the binary column
    alone. Determinism: headers pinned (mtime/uid/gid/uname),
    USTAR format forced (no PAX extended headers), member order fixed
    by doc_id; the fingerprint sorts names bytewise in both
    engines."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        tar_shard_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tar_shard_stats(docs, shard_size=_TAR_SHARD)


# ---------------------------------------------------------------------------
# Zone-map pruning report (data-skipping evidence)
# ---------------------------------------------------------------------------

_ZM_FILE_KEYS = 4096  # natural layout: ~4k orderkeys per "file"
_ZM_PROBES = (
    (1, "1996-01-01", "1996-12-31"),
    (2, "1998-06-01", "1998-08-31"),
    (3, "2001-01-01", "2001-12-31"),
)


def _zm_oracle() -> str:
    probes_vals = ", ".join(
        f"({pid}, DATE '{lo}', DATE '{hi}')" for pid, lo, hi in _ZM_PROBES
    )
    matched_cols = ", ".join(
        f"CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE) "
        f"BETWEEN DATE '{lo}' AND DATE '{hi}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS m_{pid}"
        for pid, lo, hi in _ZM_PROBES
    )
    matched_rows = " UNION ALL ".join(
        f"SELECT {pid} AS probe_id, m_{pid} AS rows_matched FROM mt"
        for pid, _, _ in _ZM_PROBES
    )
    return f"""
    WITH probes(probe_id, lo, hi) AS (VALUES {probes_vals}),
    mt AS (SELECT {matched_cols} FROM lineitem),
    rows_m AS ({matched_rows}),
    files AS (
      SELECT 'natural' AS layout,
             l_orderkey // {_ZM_FILE_KEYS} AS file_id,
             MIN(CAST(l_shipdate AS DATE)) AS mn,
             MAX(CAST(l_shipdate AS DATE)) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1, 2
      UNION ALL
      SELECT 'clustered',
             year(l_shipdate) * 100 + month(l_shipdate),
             MIN(CAST(l_shipdate AS DATE)),
             MAX(CAST(l_shipdate AS DATE)),
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem GROUP BY 1, 2
    ),
    scan AS (
      SELECT f.layout, p.probe_id,
             CAST(COUNT(*) AS BIGINT) AS n_files_total,
             CAST(SUM(CASE WHEN f.mx >= p.lo AND f.mn <= p.hi
                      THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(SUM(CASE WHEN f.mx >= p.lo AND f.mn <= p.hi
                      THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_in_scanned
      FROM files f, probes p GROUP BY 1, 2
    )
    SELECT s.layout, s.probe_id, s.n_files_total, s.files_scanned,
           s.rows_in_scanned, r.rows_matched,
           CAST((s.n_files_total - s.files_scanned) * 1000000
                // s.n_files_total AS BIGINT) AS skip_pct_micro
    FROM scan s JOIN rows_m r ON s.probe_id = r.probe_id
    """


@register("zone_map_pruning_report", oracle=_zm_oracle())
def zone_map_pruning_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-skipping effectiveness: simulate per-file zone maps
    (min/max of ship date) under a NATURAL layout (files = orderkey
    ranges — insert order) vs a DATE-CLUSTERED layout (files = ship
    months), then report, for three date-range probes, how many files
    a zone-map-aware scanner must read and how many rows those files
    hold vs how many actually match — the report that justifies an
    OPTIMIZE/Z-ORDER re-layout, and the measurement twin of
    ``zorder_bucket_stats``.

    Scale shape: files come from GROUPED aggregates over layout keys
    (never a global sort — the simulation keys by the ranges data
    would land in); probes are a 3-row literal frame broadcast against
    the files frame; exact matched counts are conditional sums in ONE
    lineitem pass fanned out by a generator. Determinism: dates and
    bigint counts only; skip_pct_micro is one truncating division of
    non-negative ints."""
    li = load_table(spark, sf_dir, "lineitem")
    ship_date = F.col("l_shipdate").cast("date")

    probes = spark.createDataFrame(
        [(pid, lo, hi) for pid, lo, hi in _ZM_PROBES],
        "probe_id int, lo_s string, hi_s string",
    ).select(
        "probe_id",
        F.col("lo_s").cast("date").alias("lo"),
        F.col("hi_s").cast("date").alias("hi"),
    )

    nat = li.groupBy(
        F.lit("natural").alias("layout"),
        F.expr(f"l_orderkey DIV {_ZM_FILE_KEYS}").alias("file_id"),
    ).agg(
        F.min(ship_date).alias("mn"),
        F.max(ship_date).alias("mx"),
        F.count("*").cast("long").alias("n_rows"),
    )
    clu = li.groupBy(
        F.lit("clustered").alias("layout"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("file_id"),
    ).agg(
        F.min(ship_date).alias("mn"),
        F.max(ship_date).alias("mx"),
        F.count("*").cast("long").alias("n_rows"),
    )
    files = nat.unionByName(clu)

    overlap = (F.col("mx") >= F.col("lo")) & (F.col("mn") <= F.col("hi"))
    scan = (
        files.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe_id")
        .agg(
            F.count("*").cast("long").alias("n_files_total"),
            F.sum(F.when(overlap, 1).otherwise(0))
            .cast("long")
            .alias("files_scanned"),
            F.sum(F.when(overlap, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_in_scanned"),
        )
    )

    matched_aggs = [
        F.sum(
            F.when(
                ship_date.between(F.lit(lo).cast("date"), F.lit(hi).cast("date")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"m_{pid}")
        for pid, lo, hi in _ZM_PROBES
    ]
    mt = li.agg(*matched_aggs)
    rows_m = mt.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).alias("probe_id"),
                        F.col(f"m_{pid}").alias("rows_matched"),
                    )
                    for pid, _, _ in _ZM_PROBES
                ]
            )
        ).alias("r")
    ).select(
        F.col("r.probe_id").alias("probe_id"),
        F.col("r.rows_matched").alias("rows_matched"),
    )

    return scan.join(F.broadcast(rows_m), "probe_id").select(
        "layout",
        "probe_id",
        "n_files_total",
        "files_scanned",
        "rows_in_scanned",
        "rows_matched",
        F.expr(
            "CAST((n_files_total - files_scanned) * 1000000 "
            "DIV n_files_total AS BIGINT)"
        ).alias("skip_pct_micro"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix
# ---------------------------------------------------------------------------


def _csd_oracle() -> str:
    return f"""
    WITH {_neardup_edges_ctes()},
    m AS (
      SELECT da.source AS sa, db.source AS sb
      FROM verified v
      JOIN documents da ON da.doc_id =
        CASE WHEN v.doc_a >= 100000 THEN v.doc_a - 100000
             ELSE v.doc_a END
      JOIN documents db ON db.doc_id =
        CASE WHEN v.doc_b >= 100000 THEN v.doc_b - 100000
             ELSE v.doc_b END
    )
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           CAST(CASE WHEN least(sa, sb) <> greatest(sa, sb)
                THEN 1 ELSE 0 END AS INT) AS is_cross
    FROM m GROUP BY 1, 2
    """


@register("cross_source_duplication_matrix", oracle=_csd_oracle())
def cross_source_duplication_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which corpus sources duplicate EACH OTHER: the verified
    near-dup edge set (the dedup family's LSH-candidates →
    exact-Jaccard pipeline, reused by registry) rolled up to unordered
    (source, source) pairs with a cross-source flag — syndication and
    mirror detection, the census a curation team reads before deciding
    which source to drop. Planted near-dup ids (+100000) map back to
    their original doc for source attribution.

    Scale shape: the edge list is the expensive part and is computed
    ONCE by the registered dedup entry (shingles checkpointed there);
    source attribution is two equi-joins of the edge frame against the
    narrow (doc_id, source) projection, then a source^2-bounded
    aggregate. Determinism: string least/greatest and exact counts
    only; the oracle composes the SHARED near-dup CTE prefix so both
    engines derive the identical edges."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )

    def orig(c: Column) -> Column:
        return F.when(c >= 100000, c - 100000).otherwise(c)

    m = (
        edges.join(
            docs.select(
                F.col("doc_id").alias("oa"),
                F.col("source").alias("sa"),
            ),
            orig(F.col("doc_a")) == F.col("oa"),
        )
        .join(
            docs.select(
                F.col("doc_id").alias("ob"),
                F.col("source").alias("sb"),
            ),
            orig(F.col("doc_b")) == F.col("ob"),
        )
        .select("sa", "sb")
    )
    return m.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        F.max(
            F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)
        )
        .cast("int")
        .alias("is_cross"),
    )


# ---------------------------------------------------------------------------
# Streaming PII monitor (governance on the stream)
# ---------------------------------------------------------------------------

_PII_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — synthetic arrival clock


def _spii_oracle() -> str:
    """Composes the planted-PII corpus and patterns from sqlfrags — the
    same fragments ``pii_detection_report``'s oracle is built from."""
    from series_tiempo_ar_scraping_spark.sqlfrags import (
        PII_CORPUS_SQL,
        PII_PATTERNS,
    )

    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS
    )
    sums = ", ".join(
        f"CAST(SUM(n_{name}) AS BIGINT) AS {name}_matches"
        for name, _ in PII_PATTERNS
    )
    return f"""
    WITH corpus AS ({PII_CORPUS_SQL}),
    b AS (
      SELECT {_PII_EPOCH} + (doc_id // 60) * 60 AS bucket_epoch,
             {counts}
      FROM corpus
    )
    SELECT CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs, {sums}
    FROM b GROUP BY 1
    """


@register("streaming_pii_window_counts", oracle=_spii_oracle())
def streaming_pii_window_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PII governance ON THE STREAM: documents arrive as a file-source
    stream (one synthetic arrival second per doc_id), and per 1-minute
    tumbling window the monitor counts email/phone/SSN-shaped spans in
    the planted corpus — readStream → watermark → windowed conditional
    sums → memory sink (availableNow), hash-matched against the batch
    oracle. The continuous twin of ``pii_detection_report``: at fleet
    scale a privacy breach surfaces per-window within minutes, not
    after the nightly batch.

    Scale shape: the regex census is map-side (same expressions as the
    batch entry — the point of Structured Streaming); the only state
    is one watermark-bounded windowed aggregate with map-side combine.
    Determinism: exact counts on exact window boundaries; the bucket
    is exported as epoch seconds (bigint), so no timestamp-formatting
    variance crosses the comparator."""
    from series_tiempo_ar_scraping_spark.queries_batch15 import (
        _PII_PATTERNS,
        _pii_planted_text,
    )

    # File-source stream over the same parquet the batch lane reads;
    # the planting expressions apply identically to the stream. The
    # trailing glob makes Spark treat sf_dir as the directory basePath
    # while matching only the documents file (the events-stream trick).
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, "
            "source string, n_chars bigint"
        )
        .parquet(sf_dir.rstrip("/") + "/documents.parquet*")
    )
    planted = stream.select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(_PII_EPOCH) + F.col("doc_id")
        ).alias("ts"),
        _pii_planted_text().alias("text"),
    )
    counts = planted.select(
        "ts",
        *[
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
            for name, pat in _PII_PATTERNS
        ],
    )
    agg = (
        counts.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            *[
                F.sum(f"n_{name}").cast("long").alias(f"{name}_matches")
                for name, _ in _PII_PATTERNS
            ],
        )
    )
    name = "stream_pii_window_counts"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp(F.col("window.start"))
        .cast("long")
        .alias("bucket_epoch"),
        "n_docs",
        *[f"{pname}_matches" for pname, _ in _PII_PATTERNS],
    )
