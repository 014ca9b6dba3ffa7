"""Shared DuckDB-SQL fragments mirroring the engine's text expressions.

Leaf module (no intra-package imports): the oracle SQL for
tokenization/shingling must stay lockstep with ``operators/textops.py``'s
Column expressions, and living in one place is what keeps them lockstep.
"""

from __future__ import annotations

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
# empty-token filter mirrors textops.tokens: splitting an empty trimmed
# string yields [''] in BOTH engines, which would count one token for an
# empty document
_TOKS_SQL = (
    "list_filter(regexp_split_to_array(trim({c}), '\\s+'), x -> x <> '')"
)
_HEX60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_SHINGLES_SQL = """
  list_distinct(list_transform(
    generate_series(0, greatest(len({t}) - 3, 0)),
    i -> concat_ws(' ', {t}[i+1], {t}[i+2], {t}[i+3])))
"""


def _hex60_seeded(seed: str, val: str) -> str:
    """DuckDB mirror of ``operators/dedup.hash64_seeded``: md5 over
    'seed|value', first 15 hex chars as a 60-bit positive bigint. The
    ONE spelling of the seeded cross-engine hash contract — every
    oracle that mirrors hash64_seeded must render through this."""
    return (
        f"(('0x' || substr(md5(CAST({seed} AS VARCHAR) || '|' "
        f"|| {val}), 1, 15))::BIGINT)"
    )


def _toks_of_norm(col: str) -> str:
    return _TOKS_SQL.format(c=_NORM_SQL.format(c=col))


# --- stopword lists + near-dup corpus/minhash/CC fragments ----------------
# (moved here from queries_llm so later batches can compose them;
# textops/dedup are operator leaf modules)

from series_tiempo_ar_scraping_spark.operators import dedup as _D
from series_tiempo_ar_scraping_spark.operators import textops as _TX

_EN = ", ".join(f"'{w}'" for w in _TX.STOPWORDS["en"])
_ES = ", ".join(f"'{w}'" for w in _TX.STOPWORDS["es"])

# DuckDB mirror of ``textops.quality_score`` + ``det_round(.., 4)`` over a
# ``corpus(doc_id, text)`` CTE. Moved here from queries_batch7 so later
# batches (weighted sampling, funnels) can compose it.
_QUALITY_SQL = f"""
      SELECT doc_id,
        CAST(FLOOR((
          least(1.0, len(toks) / 200.0) * 0.5
          + least(1.0, (CAST(len(list_filter(toks, x -> lower(x) IN ({_EN})))
                        AS DOUBLE) / greatest(len(toks), 1)) * 4) * 0.3
          + (1.0 - least(1.0,
               (CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                / greatest(length(text), 1)) * 10)) * 0.2
        ) * 10000 + 0.5) / 10000 AS DOUBLE) AS quality
      FROM (SELECT doc_id, text, {_TOKS_SQL.format(c='text')} AS toks
            FROM corpus)
"""

# PII patterns + deterministic injection (shared by queries_batch6's
# scan and queries_batch9's redaction so both provably agree on what
# PII is; moved here from queries_batch6 to avoid import cycles).
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
            ELSE '' END
"""

def _pii_augmented_col():
    """Spark Column twin of ``_PII_AUG_SQL`` — the deterministic PII
    injection over ``documents.text``. Defined ONCE beside the SQL
    fragment so queries_batch6's scan and queries_batch9's redaction
    provably agree on what PII is on BOTH sides of the oracle."""
    from pyspark.sql import functions as F

    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(""),
    )


_NEAR_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, substr(text, 13) AS text
      FROM documents WHERE doc_id % 5 = 0
"""


def _minhash_sig_sql() -> str:
    """Generated DuckDB signature expressions from the shared constants —
    universal-hash family over one md5 base hash (mirrors
    ``dedup.minhash_signatures``)."""
    h = "((" + _HEX60.format(x="'0' || '|' || s") + f") % {_D.MINHASH_H_MOD})"
    sig_cols = ", ".join(
        f"list_min(list_transform(shingles, s -> "
        f"({a} * {h} + {b}) % {_D.MINHASH_P})) AS sig{i}"
        for i, (a, b) in enumerate(_D.MINHASH_AB[: _D.MINHASH_K])
    )
    return sig_cols


def _minhash_bands_sql() -> str:
    n_bands = _D.MINHASH_K // _D.MINHASH_BAND_ROWS
    bands = ", ".join(
        "("
        + str(b)
        + ", concat_ws(',', "
        + ", ".join(
            f"CAST(sig{b * _D.MINHASH_BAND_ROWS + r} AS VARCHAR)"
            for r in range(_D.MINHASH_BAND_ROWS)
        )
        + "))"
        for b in range(n_bands)
    )
    return bands


def _neardup_edges_ctes() -> str:
    """The shared CTE prefix deriving the verified near-dup edge list
    (``verified(doc_a, doc_b)`` with doc_a < doc_b, Jaccard ≥ 0.3) from
    the planted near-dup corpus — composed by the CC oracle, the
    canonical-selection oracle, and the graph-metrics oracle so every
    consumer sees the identical edge derivation."""
    return f"""corpus AS ({_NEAR_CORPUS_SQL}),
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM corpus
    ),
    sigs AS (
      SELECT doc_id, {_minhash_sig_sql()} FROM sh
    ),
    banded AS (
      SELECT doc_id, band.* FROM sigs,
      LATERAL (SELECT * FROM (VALUES {_minhash_bands_sql()}) v(band_idx, band_key)) band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / greatest(len(list_distinct(sa.shingles || sb.shingles)), 1) AS jac
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    ),
    verified AS (
      SELECT doc_a, doc_b FROM scored
      WHERE CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) >= 0.3
    )"""


def _cc_oracle() -> str:
    """Recursive-CTE connected components over the verified near-dup pairs
    — the set-semantics UNION makes the fixpoint enumerate every
    (node, reachable-component-label) pair; MIN collapses to the canonical
    min-id label. Tractable because near-dup clusters are tiny."""
    return f"""
    WITH RECURSIVE {_neardup_edges_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, MIN(comp) AS component_id FROM reach GROUP BY id
    """


# Canonical daily-series frame (dday since 1992-01-01, exact decimal
# sums) — the batch-8 analytics consume this; queries_batch5 predates it
# and carries byte-identical inline copies inside already-pinned oracles
# (change THIS one and migrate those oracles together, or they drift).
_DAILY_SERIES_DDAY_SQL = """
      SELECT event_type AS series_id,
             date_diff('day', DATE '1992-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS dday,
             SUM(CAST(value AS DECIMAL(22,4))) AS v
      FROM events GROUP BY 1, 2
"""


# Embedding near-dup corpus + hyperplane-bucket fragment (moved here
# from queries_batch4 so queries_batch10 can compose them).
_EMB_NEAR_SQL = """
    SELECT vec_id, embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(embedding,
                          x -> CAST(CAST(x AS DOUBLE) * 0.9 AS FLOAT)) AS embedding
    FROM embeddings WHERE vec_id % 7 = 0
"""


def _planes_sql_b4(coeffs: list[list[int]]) -> str:
    selects = []
    for j, plane in enumerate(coeffs):
        lits = ", ".join(str(float(v)) for v in plane)
        selects.append(
            f"CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST(v.embedding[i] AS DOUBLE) * ([{lits}])[i])) >= 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(selects)


# 64-dim cosine similarity in DuckDB SQL (mirrors operators/similarity's
# dot/norm fold order) — single canonical copy; batches alias it.
_COS64_SQL = """
      list_sum(list_transform(generate_series(1, 64),
        i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
           i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, 64),
           i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))
"""


def _adaptive_k_sql(
    src: str, target_cell: int = 250, floor: int = 8
) -> str:
    """SQL twin of ``operators.similarity.adaptive_codebook_k``: the
    K ∝ n codebook size as a scalar subquery, usable as a dynamic
    ``LIMIT`` — so an oracle derives the SAME K the Spark default
    derives, at any corpus scale."""
    return (
        f"SELECT GREATEST({floor}, CAST(CEIL(COUNT(*) / {target_cell}.0)"
        f" AS BIGINT)) FROM {src}"
    )


def _kmeans_ctes(
    k: int = 8,
    iters: int = 3,
    src: str = "embeddings",
    k_sql: str | None = None,
) -> str:
    """Unrolled Lloyd's-k-means CTE prefix (one assign/update pair per
    iteration) — the fixed-point micro-unit arithmetic is what lets an
    ITERATIVE clustering loop be stated as plain SQL and hash-match the
    Spark loop bit-for-bit. Final CTEs: ``assign{iters-1}`` (vid, cid,
    xi) and ``cent{iters}`` (cid, ci). ``src`` is the relation trained
    over — a table name or an earlier CTE with (vec_id, embedding).
    Composed by the clusters query, the trained-IVF query, and batch
    11's cluster-blocked dedup. ``k_sql`` (a scalar-subquery string,
    e.g. ``_adaptive_k_sql(...)``) replaces the literal ``k`` as a
    dynamic LIMIT — the K ∝ n sizing rule stated in SQL."""
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "j -> (v.xi[j] - c.ci[j]) * (v.xi[j] - c.ci[j])))"
    )
    parts = [
        f"""vecs AS (
      SELECT vec_id AS vid,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT)) AS xi
      FROM {src}
    ),
    cent0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cid, xi AS ci
      FROM vecs ORDER BY vid LIMIT {f"({k_sql})" if k_sql else k}
    )"""
    ]
    for i in range(iters):
        parts.append(
            f"""assign{i} AS (
      SELECT vid, cid, xi FROM (
        SELECT v.vid, c.cid, v.xi,
               ROW_NUMBER() OVER (PARTITION BY v.vid
                                  ORDER BY {dist}, c.cid) AS rk
        FROM vecs v CROSS JOIN cent{i} c
      ) WHERE rk = 1
    ),
    cent{i + 1} AS (
      SELECT cid, list(m ORDER BY pos) AS ci FROM (
        SELECT a.cid, g.pos,
               CAST(FLOOR(CAST(SUM(a.xi[g.pos]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS m
        FROM assign{i} a,
             LATERAL (SELECT unnest(generate_series(1, 64)) AS pos) g
        GROUP BY 1, 2
      ) GROUP BY cid
    )"""
        )
    return ",\n    ".join(parts)


def _kmeans_grouped_ctes(
    iters: int = 2,
    src: str = "gvecs_src",
    target_cell: int = 250,
    floor: int = 2,
) -> str:
    """SQL twin of ``operators.similarity.kmeans_lloyd_micro_grouped``:
    per-group unrolled Lloyd with the per-group codebook size derived
    IN the query (k_g = GREATEST(floor, CEIL(n_g / target_cell)) via a
    window count — the same rule the Spark side states as a Column).
    ``src`` must provide (gid, vid, xi) with xi already in micro units
    (e.g. the ``assign{{i}}`` CTE of ``_kmeans_ctes``, whose cid becomes
    the gid). Identical init (per group: the k_g smallest vids),
    distance (exact bigint squared-L2), tie-break (then smaller cid)
    and update (floor(sum/count) by double division) as the flat CTEs,
    so restricting to one group equals the flat chain on that group
    alone. Final CTEs: ``gassign{iters-1}`` (gid, vid, cid, xi) and
    ``gcent{iters}`` (gid, cid, ci)."""
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "j -> (v.xi[j] - c.ci[j]) * (v.xi[j] - c.ci[j])))"
    )
    parts = [
        f"""gvecs AS (
      SELECT gid, vid, xi FROM {src}
    ),
    gcent0 AS (
      SELECT gid, cid, ci FROM (
        SELECT gid,
               ROW_NUMBER() OVER (PARTITION BY gid ORDER BY vid) - 1
                 AS cid,
               xi AS ci,
               GREATEST({floor}, CAST(CEIL(
                 COUNT(*) OVER (PARTITION BY gid) / {target_cell}.0)
                 AS BIGINT)) AS kg
        FROM gvecs
      ) WHERE cid < kg
    )"""
    ]
    for i in range(iters):
        parts.append(
            f"""gassign{i} AS (
      SELECT gid, vid, cid, xi FROM (
        SELECT v.gid, v.vid, c.cid, v.xi,
               ROW_NUMBER() OVER (PARTITION BY v.gid, v.vid
                                  ORDER BY {dist}, c.cid) AS rk
        FROM gvecs v JOIN gcent{i} c ON v.gid = c.gid
      ) WHERE rk = 1
    ),
    gcent{i + 1} AS (
      SELECT gid, cid, list(m ORDER BY pos) AS ci FROM (
        SELECT a.gid, a.cid, g.pos,
               CAST(FLOOR(CAST(SUM(a.xi[g.pos]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS m
        FROM gassign{i} a,
             LATERAL (SELECT unnest(generate_series(1, 64)) AS pos) g
        GROUP BY 1, 2, 3
      ) GROUP BY gid, cid
    )"""
        )
    return ",\n    ".join(parts)


def _ivf_trained_ctes(iters: int = 2) -> str:
    """Composed trained-IVF CTE chain: Lloyd CTEs -> float centroids ->
    the exact IVF assign/probe/score/rank SQL of ``ivf_ann_topk``
    against the TRAINED codebook. Final CTE: ``ranked`` (query_id,
    neighbor_id, sim, rank). Shared by batch 10's ivf_trained_ann_topk
    oracle and batch 11's ANN-recall evaluation."""
    it = iters
    return f"""{_kmeans_ctes(8, it)},
    cent AS (
      SELECT cid AS centroid_id,
             list_transform(ci, x -> CAST(x AS DOUBLE) / 1000000.0) AS cvec
      FROM cent{it}
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS64_SQL.format(a='v.embedding', b='c.cvec')} DESC,
                          c.centroid_id
               ) AS crank
        FROM embeddings v, cent c
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS64_SQL.format(a='q.embedding', b='c.cvec')} DESC,
                          c.centroid_id
               ) AS crank
        FROM embeddings q, cent c WHERE q.vec_id < 8
      ) WHERE crank <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS64_SQL.format(a='q.embedding', b='v.embedding')} AS sim
      FROM probes p
      JOIN assigned a ON a.centroid_id = p.centroid_id
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings v ON v.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )"""


# --- deterministic spatial point cloud (shared by the spatial family) ------

_SP_GRID = 10000  # coordinate space [0, 10000)^2


def _sp_points_sql() -> str:
    """Seeded-hash 2D point per customer on the [0, _SP_GRID)² grid —
    the ONE spelling of the synthetic spatial dataset (seeds 11/12),
    shared by spatial_cell_knn_join (queries_batch12) and
    spatial_dbscan_clusters (queries_batch13); every Spark-side point
    builder must mirror it via hash64_seeded."""
    return f"""
      SELECT c_custkey AS pid,
             ({_hex60_seeded(11, "CAST(c_custkey AS VARCHAR)")}
              % {_SP_GRID}) AS x,
             ({_hex60_seeded(12, "CAST(c_custkey AS VARCHAR)")}
              % {_SP_GRID}) AS y
      FROM customer
    """


# ---------------------------------------------------------------------------
# Planted-PII corpus (batch 15 census/redaction + batch 17 stream monitor)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex/RE2 common subset (explicit
# classes, bounded quantifiers) so count AND replace agree bit-for-bit.
PII_PATTERNS = (
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"),
    ("phone", "[+]1-555-[0-9]{4}"),
    ("ssn", "900-[0-9]{2}-[0-9]{4}"),
)

# Deterministic planting: both engines append the IDENTICAL spans to
# the same docs (pure arithmetic on doc_id), so detection counts have
# arithmetic ground truth at every scale. Shared with the batch-17
# streaming monitor's oracle.
PII_CORPUS_SQL = """
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' tel +1-555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' id 900-'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                          || '-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
"""


# Directed part co-purchase graph (lower key -> higher key, pairs that
# co-occur in >= 2 orders) — the LEAF copy composed by the HITS oracle
# (queries_batch23) and the triangle-count oracle (queries_batch24) so
# both derive the IDENTICAL edge set. Yields CTEs op, e, nodes.
COPURCHASE_EDGES_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem)
"""
