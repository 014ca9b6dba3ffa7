"""Batch-37 queries: perceptual-hash image dedup over REAL decoded
pixels, and hierarchical Merkle range fingerprints for replica
anti-entropy.

Families (each entry hash-oracled; determinism per the established
recipes):

- dHash dedup: the image twin of ``dedup_exact`` — synthesize
  deterministic 8×8 gradient rasters (BMP/PPM, both stdlib codec
  branches), DECODE them back, compute the 56-bit difference hash,
  and cluster equal hashes. The oracle states the closed-form hash,
  so any pixel/stride/channel bug anywhere in the encode→decode→hash
  chain breaks the gate (the ``multimodal_image_stats`` proof idiom
  extended from scalar stats to a fingerprint).
- Merkle range fingerprints: the anti-entropy structure replicas
  exchange to LOCALIZE divergence (Dynamo/Cassandra repair shape) —
  leaf signatures per key range, then two parent levels hashing their
  children's signatures in key order. One unequal node at level 2
  narrows to ≤64 leaf ranges instead of re-scanning the table; the
  hierarchical sibling of ``table_fingerprint`` (one global value).

Reference parity: the reference ships CSV/metadata outputs whose
consistency across re-runs is exactly what these fingerprints check
at fleet scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table

# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image dedup
# ---------------------------------------------------------------------------

_DH_PATTERNS = 16


@register(
    "multimodal_dhash_dedup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, doc_id % {_DH_PATTERNS} AS pat FROM documents
    ),
    gy AS (
      SELECT doc_id, pat, unnest(generate_series(0, 7)) AS y FROM p
    ),
    gx AS (
      SELECT doc_id, pat, y, unnest(generate_series(0, 6)) AS x FROM gy
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN (pat*17 + x*x*3 + y*29) % 256
                            > (pat*17 + (x+1)*(x+1)*3 + y*29) % 256
                           THEN (CAST(1 AS BIGINT) << (y*7 + x))
                           ELSE 0 END) AS BIGINT) AS phash
      FROM gx GROUP BY 1
    )
    SELECT phash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_media_id
    FROM hashes GROUP BY 1
    """,
)
def multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over REAL decoded pixels: a
    deterministic 8×8 gradient raster per document (pattern =
    doc_id % 16, encoded BMP for even ids / PPM for odd so BOTH stdlib
    codec branches sit in the proof chain), decoded back and
    fingerprinted with the 56-bit dHash (bit(y,x) = gray[y,x] >
    gray[y,x+1] — 7×8 comparisons, deliberately sign-bit-safe in a
    BIGINT), then exact-hash clustering: one row per perceptual
    cluster with its size and canonical (minimum) member. The oracle
    states the hash's closed form from the gradient, so a bug in
    encode, decode, gray conversion, bit order, or shift width breaks
    the gate. The image lane's ``dedup_exact``; banded Hamming
    near-dup generalizes via the ``simhash_hamming_pairs`` recipe.

    Scale shape: synth+decode+hash are ONE map-only Arrow pass (linear
    in payload bytes, the ~6.2k containers/s/core lane measured in
    SCALE.md); the only shuffle is the groupBy on the 56-bit key —
    at 100 TB that is the cheapest possible dedup shuffle (8 bytes per
    image). Determinism: integer gradient, exact integer gray (r=g=b),
    integer bit tests."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        dhash_media,
        synthesize_gradient_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashed = dhash_media(
        synthesize_gradient_media(docs, n_patterns=_DH_PATTERNS)
    )
    return (
        hashed.filter(F.col("decodable"))
        .groupBy("phash")
        .agg(
            F.count("*").cast("long").alias("n_images"),
            F.min("media_id").cast("long").alias("canonical_media_id"),
        )
    )


# ---------------------------------------------------------------------------
# Merkle range fingerprints (anti-entropy)
# ---------------------------------------------------------------------------

_MK_LEAF = 512  # orderkeys per leaf range
_MK_FAN = 8  # children per internal node
_MK_P = 1000000007  # leaf accumulator modulus (keeps sums in BIGINT)


@register(
    "merkle_range_fingerprints",
    oracle=f"""
    WITH rows_h AS (
      SELECT o_orderkey // {_MK_LEAF} AS leaf,
             ('0x' || substr(md5(
                CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus
                || '|' || CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                               * 100 AS BIGINT) AS VARCHAR)
                || '|' || o_orderpriority), 1, 15))::BIGINT AS h
      FROM orders
    ),
    l0 AS (
      SELECT leaf AS node_id,
             CAST(SUM(h % {_MK_P}) AS BIGINT) AS sig,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM rows_h GROUP BY 1
    ),
    l1 AS (
      SELECT node_id // {_MK_FAN} AS node_id,
             ('0x' || substr(md5(string_agg(CAST(sig AS VARCHAR), ','
                                            ORDER BY node_id)),
                             1, 15))::BIGINT AS sig,
             CAST(SUM(n_rows) AS BIGINT) AS n_rows
      FROM l0 GROUP BY 1
    ),
    l2 AS (
      SELECT node_id // {_MK_FAN} AS node_id,
             ('0x' || substr(md5(string_agg(CAST(sig AS VARCHAR), ','
                                            ORDER BY node_id)),
                             1, 15))::BIGINT AS sig,
             CAST(SUM(n_rows) AS BIGINT) AS n_rows
      FROM l1 GROUP BY 1
    )
    SELECT CAST(0 AS INT) AS level, node_id, sig, n_rows FROM l0
    UNION ALL
    SELECT CAST(1 AS INT) AS level, node_id, sig, n_rows FROM l1
    UNION ALL
    SELECT CAST(2 AS INT) AS level, node_id, sig, n_rows FROM l2
    """,
)
def merkle_range_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merkle range fingerprints for replica anti-entropy (the
    Dynamo/Cassandra repair structure): rows hash to 60-bit values,
    leaf ranges of 512 orderkeys accumulate a COMMUTATIVE signature
    (sum of row hashes mod 1e9+7 — order-independent, so no sort and
    no collect_list on the data path), and two internal levels hash
    their children's signatures concatenated in key order (fanout 8).
    Two replicas compare level 2 first; an unequal node localizes the
    diff to ≤64 leaves, an unequal leaf to 512 keys — against
    ``table_fingerprint``'s single global value, this is the version
    that tells you WHERE. n_rows per node doubles as the row-count
    audit.

    Scale shape: one hash projection + one leaf aggregate over the
    fact table (map-side combine on the commutative sum); the internal
    levels aggregate the LEAF FRAME (|keys|/512 rows, then /4096) —
    negligible. The collect_list/sort lives only at internal levels
    where each group holds ≤8 child signatures. Determinism: md5
    row hashes, exact modular sums, key-ordered child concatenation.
    """
    orders = load_table(spark, sf_dir, "orders")
    hex60 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 15), 16, 10
    ).cast("bigint")
    rows_h = orders.select(
        F.expr(f"o_orderkey DIV {_MK_LEAF}").alias("leaf"),
        hex60(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                (F.col("o_totalprice").cast("decimal(12,2)") * 100)
                .cast("bigint")
                .cast("string"),
                F.col("o_orderpriority"),
            )
        ).alias("h"),
    )
    # the leaf frame feeds level 1 AND the output union — checkpoint
    # so the fact scan + leaf aggregate run once, not once per level
    l0 = rows_h.groupBy(F.col("leaf").alias("node_id")).agg(
        F.sum(F.col("h") % _MK_P).cast("long").alias("sig"),
        F.count("*").cast("long").alias("n_rows"),
    ).localCheckpoint(eager=False)

    def parent(level_df: DataFrame) -> DataFrame:
        return level_df.groupBy(
            F.expr(f"node_id DIV {_MK_FAN}").alias("pid")
        ).agg(
            hex60(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("node_id", "sig"))
                        ),
                        lambda x: x["sig"].cast("string"),
                    ),
                    ",",
                )
            ).alias("sig"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        ).withColumnRenamed("pid", "node_id")

    l1 = parent(l0)
    l2 = parent(l1)

    def lvl(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.lit(n).cast("int").alias("level"),
            "node_id",
            "sig",
            "n_rows",
        )

    return lvl(l0, 0).unionAll(lvl(l1, 1)).unionAll(lvl(l2, 2))
