"""Batch-11 queries: vocabulary coverage, blocked fuzzy joins, and
clustering-as-blocking dedup.

Three LLM-curation shapes the earlier batches stopped short of:

- vocabulary OOV accounting (corpus-derived top-N vocab -> per-document
  out-of-vocabulary rate, the tokenizer-coverage report every training
  run starts with),
- blocked approximate string join (exact-dedup the key space, block,
  verify with edit distance, roll back up with multiplicities — the
  record-linkage shape),
- semantic near-dup detection with a TRAINED clustering as the blocking
  function (k-means cells instead of LSH bands).

Determinism recipe (repo standard, queries_batch8): exact bigint
aggregates, identical expression trees both engines, at most ONE double
division of identical integers (IEEE division is correctly rounded, so
same ints -> same bits). Reference parity: extends the reference's
validation/QA family (reference/scrapers/validators.py) with corpus-
level coverage checks its per-series pandas layer never had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators import similarity as S
from series_tiempo_ar_scraping_spark.operators import textops as TX
from series_tiempo_ar_scraping_spark.registry import (
    ORACLES,
    det_round,
    det_round_sql,
    register,
)
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import (
    _hex60_seeded,
    _toks_of_norm,
)

_VOCAB_N = 16  # corpus vocab is ~31 tokens; top-16 leaves a real OOV tail


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_N}),
    per AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
    FROM per
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: derive the corpus's top-N vocabulary
    (count DESC, token — a deterministic total order at the cutoff),
    then score every document's out-of-vocabulary token rate against it.
    The first QA gate of a training run: a rising OOV rate means the
    tokenizer/vocab no longer fits the incoming corpus.

    Scale shape: tokenize ONCE into a checkpointed token frame feeding
    both lanes; the vocabulary is a top-N frame (partial agg + bounded
    TakeOrdered) that BROADCASTS back onto the token stream, so the
    per-document pass is map-side — no second shuffle of the corpus
    beyond the final doc_id rollup. The one double division has exact
    integer operands (bit-identical across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        ),
    ).localCheckpoint(eager=False)
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = (
        cnt.orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_N)
        .select("tok", F.lit(1).alias("in_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "fuzzy_blocked_name_join",
    oracle="""
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS cnt,
             split_part(p_name, ' ', 2) AS noun
      FROM part GROUP BY 1
    ),
    pairs AS (
      SELECT a.noun, levenshtein(a.p_name, b.p_name) AS d,
             a.cnt * b.cnt AS w
      FROM names a
      JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
    ),
    blocks AS (
      SELECT noun, CAST(COUNT(*) AS BIGINT) AS n_names
      FROM names GROUP BY 1
    ),
    pa AS (
      SELECT noun,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN d <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_close_pairs,
             CAST(SUM(CASE WHEN d <= 3 THEN w ELSE 0 END) AS BIGINT)
               AS close_row_pairs,
             CAST(MIN(d) AS BIGINT) AS min_dist
      FROM pairs GROUP BY 1
    )
    SELECT b.noun, b.n_names,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(p.n_close_pairs, 0) AS n_close_pairs,
           COALESCE(p.close_row_pairs, 0) AS close_row_pairs,
           p.min_dist
    FROM blocks b LEFT JOIN pa p USING (noun)
    """,
)
def fuzzy_blocked_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked approximate string self-join (record linkage): exact-dedup
    part names into a (name, multiplicity) frame, block on the name's
    second token, verify candidates with Levenshtein (both engines: unit
    ins/del/sub), and roll the match stats back up with row
    multiplicities (``cnt_a * cnt_b`` = linked ROW pairs, not name
    pairs). Reports per block: candidate pairs, close pairs (distance
    <= 3), linked row pairs, min distance.

    Scale shape: the all-pairs work runs on the DEDUPLICATED key space
    (|distinct names| << |rows| — here 64 vs 20k at sf0.1; at 100 TB,
    the same collapse is what makes fuzzy linkage feasible at all),
    upper-triangled (a < b) inside blocks so no pair is scored twice,
    with the distinct-name frame BROADCAST for the block join. The
    multiplicity weights mean no row-level data ever enters the
    quadratic stage."""
    parts = load_table(spark, sf_dir, "part")
    names = (
        parts.groupBy("p_name")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "noun",
            F.coalesce(
                F.try_element_at(F.split("p_name", " "), F.lit(2)),
                F.lit(""),
            ),
        )
        .localCheckpoint(eager=False)
    )
    pairs = (
        names.alias("a")
        .join(
            F.broadcast(names.alias("b")),
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.noun").alias("noun"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias(
                "d"
            ),
            (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        )
    )
    blocks = names.groupBy("noun").agg(F.count("*").alias("n_names"))
    pa = pairs.groupBy("noun").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("d") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_close_pairs"),
        F.sum(F.when(F.col("d") <= 3, F.col("w")).otherwise(0))
        .cast("long")
        .alias("close_row_pairs"),
        F.min("d").cast("long").alias("min_dist"),
    )
    zero = F.lit(0).cast("long")
    return blocks.join(pa, "noun", "left").select(
        "noun",
        "n_names",
        F.coalesce("n_pairs", zero).alias("n_pairs"),
        F.coalesce("n_close_pairs", zero).alias("n_close_pairs"),
        F.coalesce("close_row_pairs", zero).alias("close_row_pairs"),
        "min_dist",
    )


@register(
    "semantic_cluster_dedup",
    oracle=None,  # filled at the bottom (needs batch-10's kmeans CTEs)
)
def semantic_cluster_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    blocking: str = "auto",
    coarse_k: int = 8,
) -> DataFrame:
    """Semantic near-dup detection with a TRAINED clustering as the
    blocking function: 2 Lloyd's rounds (K=8, the hash-oracled
    micro-unit loop) partition the planted near-dup corpus into cells;
    exact cosine >= 0.95 verifies candidates WITHIN each cell only; the
    census reports, per cell, members / candidate pairs / near pairs /
    dups (distinct greater-id members of near pairs — the min-id-keep
    greedy) / survivors. The third blocking family beside hyperplane-LSH
    (``dedup_embedding_cosine``) and SimHash bands: k-means cells adapt
    to the data's density where static hash planes cannot.

    Scale shape: training is the bounded Lloyd loop (K-row broadcast
    codebook per round); the quadratic stage is confined to cells
    (sum C(n_c, 2) << C(n, 2) when K spreads the corpus), upper-
    triangled so no pair scores twice, with per-vector norms
    materialized BEFORE the pair join. Output is pure bigint counts —
    no float crosses the engine boundary.

    ``k`` is the codebook size; the DEFAULT (``None``) derives it from
    a one-row corpus count as ⌈n / 250⌉ floored at 8 (r11, VERDICT r10
    #2: the registered default must be the scale-safe path — per-cell
    pair work is quadratic in cell density, the sizing rule
    PROBE_r10.json demonstrates on the kNN twin:
    ``label_noise_knn_disagreement`` 245 s → 19.8 s at sf1). The
    ORACLE derives the SAME K via a dynamic-LIMIT scalar subquery over
    the same planted corpus, so both engines stay pinned at every
    scale; at the gate fixtures the derived K equals the floor 8, the
    original contract.

    ``blocking="two_level"`` (r12) is the wired escalation past the
    flat rule's own crossover (n ≈ 2·target_cell² ≈ 125k vectors,
    where flat assignment itself is n²/target): the census cells
    become the (coarse, fine) two-level codebook cells — same pair
    verification, same census semantics, blocking key from the oracled
    ``two_level_codebook`` entry (1.38× at 10× in PROBE_r12). With
    ``coarse_k=1`` and the corpus above the K floor it is provably
    identical to the flat path (pinned by
    ``test_two_level_blocking_equals_flat_at_coarse_1``).

    ``blocking="auto"`` — the REGISTERED DEFAULT since r13 (VERDICT
    r12 #3: a fleet user must not need to know the SCALE.md crossover
    rule to get the scale-safe plan) — picks the mode from the same
    eager corpus count the adaptive-K default already pays:
    ``S.blocking_mode_for(n)`` escalates to two-level at
    n ≥ ``S.TWO_LEVEL_CROSSOVER``, flat below it. The gate fixtures
    (≤ 2,286 corpus rows at sf0.1) sit far below the crossover, so
    auto ≡ flat there and the flat-derivation oracle stays the pin;
    the switch itself is pinned by
    ``test_semantic_cluster_dedup_auto_escalates_past_crossover``."""
    from series_tiempo_ar_scraping_spark.queries_batch4 import (
        _emb_near_corpus,
    )

    corpus = _emb_near_corpus(spark, sf_dir)
    n = None
    if blocking == "auto":
        # one materialization serves the mode decision, the (possible)
        # flat-K derivation, and the downstream codebook training
        corpus = corpus.localCheckpoint(eager=True)
        n = corpus.count()
        blocking = S.blocking_mode_for(n)
    if blocking == "two_level":
        # ESCALATION PATH (SCALE.md crossover, r12): past n ≈
        # 2·target_cell² the flat adaptive codebook's own assignment
        # goes n²/target — block it with the two-level structure. The
        # combined (coarse, fine) cell becomes the census cid (coarse
        # packed into the high 32 bits, so with coarse_k=1 the ids
        # equal the flat path's — the equivalence the pytest pins).
        # Not the registered default: the gate fixtures sit far below
        # the crossover and the oracle pins the flat derivation.
        assign = S.two_level_codebook(
            corpus, coarse_k=coarse_k, iters=2
        ).select(
            "vec_id",
            (
                F.col("coarse_cid").cast("long") * F.lit(2**32)
                + F.col("fine_cid")
            ).alias("cid"),
        )
    elif blocking == "flat":
        if k is None:
            # the adaptive default needs an eager count; checkpoint
            # first so the count and the Lloyd training share one
            # materialization of the derived corpus instead of
            # evaluating it twice (auto mode already did both —
            # reuse its n, never a second scan)
            if n is None:
                corpus = corpus.localCheckpoint(eager=True)
            k = S.adaptive_codebook_k(corpus, n=n)
        _, a = S.kmeans_lloyd_micro(corpus, k=k, iters=2)
        assign = a.withColumnRenamed("vid", "vec_id")
    else:
        raise ValueError(f"unknown blocking mode: {blocking!r}")
    mem = (
        corpus.select(
            "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
        )
        .join(assign, "vec_id")
        .localCheckpoint(eager=False)
    )
    x = mem.select(
        F.col("vec_id").alias("ka"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        "cid",
    )
    y = mem.select(
        F.col("vec_id").alias("kb"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        "cid",
    )
    sim = S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        x.join(y, "cid")
        .filter(F.col("ka") < F.col("kb"))
        .select("cid", "kb", sim.alias("sim"))
    )
    agg = pairs.groupBy("cid").agg(
        F.count("*").alias("n_cand_pairs"),
        F.sum(F.when(F.col("sim") >= 0.95, 1).otherwise(0))
        .cast("long")
        .alias("n_near_pairs"),
        F.countDistinct(
            F.when(F.col("sim") >= 0.95, F.col("kb"))
        ).alias("n_dups"),
    )
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    zero = F.lit(0).cast("long")
    return sizes.join(agg, "cid", "left").select(
        "cid",
        "n_members",
        F.coalesce("n_cand_pairs", zero).alias("n_cand_pairs"),
        F.coalesce("n_near_pairs", zero).alias("n_near_pairs"),
        F.coalesce("n_dups", zero).alias("n_dups"),
        (F.col("n_members") - F.coalesce("n_dups", zero)).alias(
            "n_survivors"
        ),
    )


# The cluster-dedup oracle chains the unrolled Lloyd CTEs (sqlfrags)
# over the planted corpus CTE.
from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _COS64_SQL as _COS,
    _EMB_NEAR_SQL,
    _adaptive_k_sql,
    _kmeans_ctes,
)

ORACLES["semantic_cluster_dedup"] = f"""
    WITH corpus AS ({_EMB_NEAR_SQL}),
    {_kmeans_ctes(iters=2, src="corpus", k_sql=_adaptive_k_sql("corpus"))},
    mem AS (
      SELECT a.vid, a.cid, c.embedding
      FROM assign1 a JOIN corpus c ON c.vec_id = a.vid
    ),
    pairs AS (
      SELECT x.cid, y.vid AS kb,
             {_COS.format(a='x.embedding', b='y.embedding')} AS sim
      FROM mem x JOIN mem y ON x.cid = y.cid AND x.vid < y.vid
    ),
    agg AS (
      SELECT cid,
             CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
             CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_near_pairs,
             CAST(COUNT(DISTINCT CASE WHEN sim >= 0.95 THEN kb END)
                  AS BIGINT) AS n_dups
      FROM pairs GROUP BY 1
    ),
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM assign1 GROUP BY 1
    )
    SELECT s.cid, s.n_members,
           COALESCE(g.n_cand_pairs, 0) AS n_cand_pairs,
           COALESCE(g.n_near_pairs, 0) AS n_near_pairs,
           COALESCE(g.n_dups, 0) AS n_dups,
           s.n_members - COALESCE(g.n_dups, 0) AS n_survivors
    FROM sizes s LEFT JOIN agg g USING (cid)
"""


@register(
    "ann_recall_eval",
    oracle=None,  # filled at the bottom (composes the trained-IVF CTEs)
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class oracled query: per query
    vector, compare the trained-IVF top-5 (``ivf_trained_ann_topk``'s
    exact dataflow) against the brute-force exact top-5 ground truth and
    report recall@5 and the reciprocal rank of the TRUE nearest
    neighbor. The eval harness every ANN deployment runs before trusting
    its index — here it pins, by hash, that IVF with nprobe=2 of K=8
    finds what it claims to find.

    Determinism: recall is hits/5.0 (same-int IEEE division) and the
    reciprocal rank is reported as ``rr_x60`` = 60/rank (60 = lcm(1..5),
    so every value is an exact integer — no float sum ever crosses the
    engine boundary). Scale shape: ground truth is the documented-
    expensive brute-force pass over the (bounded) query set; the IVF
    side keeps its |corpus|·nprobe/K contract; the comparison itself is
    a per-(query, neighbor) equi-join of two k-row-per-query frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cent, _ = S.kmeans_lloyd_micro(emb, k=8, iters=2)
    centroids = cent.select(
        F.col("cid").alias("vec_id"),
        F.transform(
            "ci", lambda x: x.cast("double") / 1000000.0
        ).alias("embedding"),
    )
    approx = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2).select(
        "query_id",
        F.col("neighbor_id").alias("nid"),
        F.col("rank").alias("arank"),
    )
    exact = S.cosine_topk(emb, queries, k=5, exclude_self=True).select(
        "query_id",
        F.col("neighbor_id").alias("nid"),
        F.col("rank").alias("erank"),
    )
    j = exact.join(F.broadcast(approx), ["query_id", "nid"], "left")
    per = j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.sum(F.when(F.col("arank").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.min(F.when(F.col("erank") == 1, F.col("arank"))).alias(
            "first_rank"
        ),
    )
    return per.select(
        "query_id",
        "n_exact",
        "n_hits",
        (F.col("n_hits").cast("double") / 5.0).alias("recall_at_5"),
        F.coalesce(
            (F.lit(60) / F.col("first_rank")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("rr_x60"),
    )


from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _ivf_trained_ctes,
)

ORACLES["ann_recall_eval"] = f"""
    WITH {_ivf_trained_ctes(2)},
    approx AS (
      SELECT query_id, neighbor_id AS nid, rank AS arank
      FROM ranked WHERE rank <= 5
    ),
    escored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS nid,
             {_COS.format(a='q.embedding', b='v.embedding')} AS sim
      FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    ),
    eranked AS (
      SELECT query_id, nid,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, nid) AS erank
      FROM escored
    ),
    j AS (
      SELECT e.query_id, e.erank, a.arank
      FROM (SELECT * FROM eranked WHERE erank <= 5) e
      LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.nid = e.nid
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN arank IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN arank IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 5.0 AS recall_at_5,
           COALESCE(CAST(60 / MIN(CASE WHEN erank = 1 THEN arank END)
                         AS BIGINT), 0) AS rr_x60
    FROM j GROUP BY 1
"""


_BPE_ROUNDS = 4


def _bpe_ctes(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled BPE-training CTE chain: per round, count corpus-weighted
    adjacent symbol pairs, pick the argmax under the total order
    (count DESC, s1, s2), and merge it everywhere with one string
    replace. Symbols ride in a double-space-delimited encoding
    (``'  a  b  '``) whose merge pattern ``' s1  s2 '`` keeps one space
    of boundary on each side — so a pattern can never match inside a
    longer symbol, and left-to-right non-overlapping replace (the same
    semantics in DuckDB ``replace`` and Java ``String.replace``) IS the
    greedy BPE merge."""
    parts = [f"""toks AS (
      SELECT unnest({_toks_of_norm('text')}) AS w FROM documents
    ),
    words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks GROUP BY 1),
    s0 AS (
      SELECT w, cnt,
             '  ' || array_to_string(
               list_transform(generate_series(1, length(w)), i -> w[i]),
               '  ') || '  ' AS s
      FROM words
    )"""]
    for r in range(rounds):
        parts.append(f"""p{r} AS (
      SELECT t[i] AS s1, t[i + 1] AS s2, SUM(cnt) AS c
      FROM (SELECT cnt,
                   list_filter(regexp_split_to_array(s, ' +'),
                               x -> x <> '') AS t
            FROM s{r}),
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT s1, s2, c FROM p{r} ORDER BY c DESC, s1, s2 LIMIT 1
    ),
    s{r + 1} AS (
      SELECT w, cnt,
             replace(s, ' ' || b.s1 || '  ' || b.s2 || ' ',
                     ' ' || b.s1 || b.s2 || ' ') AS s
      FROM s{r}, b{r} b
    )""")
    return ",\n    ".join(parts)


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {r + 1} AS step, s1, s2, s1 || s2 AS merged, "
        f"CAST(c AS BIGINT) AS pair_cnt FROM b{r}"
        for r in range(rounds)
    )
    return (
        "WITH "
        + _bpe_ctes(rounds)
        + f"\n    SELECT CAST(step AS INT) AS step, s1, s2, merged,"
        f" pair_cnt FROM ({unions})"
    )


def _bpe_train_frames(spark: SparkSession, sf_dir: str):
    """Shared BPE training dataflow: returns (per-round merge frames,
    final per-word symbol frame ``(w, cnt, s)``). Used by the merge-
    table query and the compression-stats query so both run the SAME
    training plan."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    chars = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    cur = words.select(
        "w",
        "cnt",
        F.concat(
            F.lit("  "), F.array_join(chars, "  "), F.lit("  ")
        ).alias("s"),
    ).localCheckpoint(eager=False)
    merges = []
    for r in range(_BPE_ROUNDS):
        t = F.filter(
            F.split(F.col("s"), " +"), lambda x: x != ""
        )
        pairs = (
            cur.select("cnt", t.alias("t"))
            .filter(F.size("t") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1),"
                        " i -> struct(element_at(t, i) AS s1,"
                        " element_at(t, i + 1) AS s2))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.s1", "p.s2")
        )
        best = (
            pairs.groupBy("s1", "s2")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "s1", "s2")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            best.select(
                F.lit(r + 1).cast("int").alias("step"),
                "s1",
                "s2",
                F.concat("s1", "s2").alias("merged"),
                F.col("c").cast("long").alias("pair_cnt"),
            )
        )
        b = best.select(
            F.concat(
                F.lit(" "), "s1", F.lit("  "), "s2", F.lit(" ")
            ).alias("pat"),
            F.concat(F.lit(" "), "s1", "s2", F.lit(" ")).alias("rep"),
        )
        cur = (
            cur.crossJoin(F.broadcast(b))
            .select(
                "w",
                "cnt",
                F.replace(F.col("s"), F.col("pat"), F.col("rep")).alias(
                    "s"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return merges, cur


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair-encoding tokenizer training, hash-oracled: 4
    greedy merge rounds over the corpus's word-frequency table — each
    round counts corpus-weighted adjacent symbol pairs, picks the most
    frequent under the deterministic total order (count DESC, s1, s2),
    and merges it everywhere. Returns the learned merge table
    (step, s1, s2, merged, pair_cnt) — the artifact a tokenizer ships.
    Beside Lloyd's k-means, pagerank, and connected components, the
    fourth ITERATIVE algorithm family in the catalog, and like k-means
    its full fixed point is pinned by an unrolled DuckDB CTE chain.

    The merge step is ONE string replace per word: symbols live in a
    double-space encoding (``'  a  b  '``) where the pattern
    ``' s1  s2 '`` keeps a one-space boundary on each side, so matches
    can't cross symbol boundaries, and left-to-right non-overlapping
    replace (Java and DuckDB agree) IS the greedy BPE merge — including
    the ``a a a -> (aa) a`` overlap case.

    Scale shape: training runs on the DEDUPLICATED word table (|distinct
    words| << corpus tokens; the exact-dedup collapse that makes BPE
    feasible on 100 TB — frequencies ride along as weights). Per round:
    one explode+groupBy for pair counts (shuffle keyed by pair, partial
    agg map-side), a 1-row TakeOrdered argmax BROADCAST back, and a
    map-only replace. Plan depth grows with rounds, so each round's
    frame is localCheckpointed (the pagerank/k-means pattern)."""
    merges, _ = _bpe_train_frames(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@register(
    "bpe_compression_stats",
    oracle=f"""
    WITH {{bpe_ctes}},
    wlen AS (
      SELECT w,
             CAST(len(list_filter(regexp_split_to_array(s, ' +'),
                                  x -> x <> '')) AS BIGINT) AS n_syms,
             CAST(length(w) AS BIGINT) AS n_chars_w
      FROM s{_BPE_ROUNDS}
    ),
    dtoks AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS w FROM documents
    ),
    per AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(wl.n_chars_w) AS BIGINT) AS n_chars,
             CAST(SUM(wl.n_syms) AS BIGINT) AS n_bpe_tokens
      FROM dtoks d JOIN wlen wl ON wl.w = d.w
      GROUP BY 1
    )
    SELECT doc_id, n_words, n_chars, n_bpe_tokens,
           CAST(n_bpe_tokens AS DOUBLE) / n_chars AS bpe_per_char
    FROM per
    """.replace("{bpe_ctes}", _bpe_ctes()),
)
def bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges back to the corpus: per document,
    word count, character count, BPE token count under the learned
    4-merge table, and tokens-per-character — the compression report
    that tells you whether the tokenizer is worth shipping (and the
    APPLY half of the train/apply pair; ``bpe_train_merges`` is the
    TRAIN half, this runs the same training dataflow then re-joins the
    per-word segmentations onto the document stream).

    Scale shape: segmentation lengths are computed ONCE per distinct
    word (the dedup collapse again) and the small (word -> n_syms)
    frame broadcast-joins onto the exploded token stream — the corpus
    is never re-segmented row by row. One double division of exact ints
    crosses the engine boundary."""
    _, final = _bpe_train_frames(spark, sf_dir)
    wlen = final.select(
        "w",
        F.size(
            F.filter(F.split("s", " +"), lambda x: x != "")
        )
        .cast("long")
        .alias("n_syms"),
        F.length("w").cast("long").alias("n_chars_w"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dtoks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "w"
        ),
    )
    per = (
        dtoks.join(F.broadcast(wlen), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars_w").alias("n_chars"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        (
            F.col("n_bpe_tokens").cast("double") / F.col("n_chars")
        ).alias("bpe_per_char"),
    )


# HLL geometry AND estimator scale: the single source is
# streaming/sketch.py (shared by the streaming registers, the batch
# calibration, batch-12's set-operation estimator, and their oracles).
from series_tiempo_ar_scraping_spark.streaming.sketch import (  # noqa: E402
    HLL_M as _HLL_M,
    HLL_RMAX as _HLL_RMAX,
    hll_est_scale as _hll_est_scale,
)

_HLL_C = _hll_est_scale(_HLL_M)


def _hll_oracle() -> str:
    from series_tiempo_ar_scraping_spark.sqlfrags import _HEX60

    hex60 = _HEX60.format(x="'0|' || v")
    est = f"{_HLL_C!r} / CAST(S AS DOUBLE)"
    return f"""
    WITH u AS (
      SELECT 'orders.custkey' AS stream,
             CAST(o_custkey AS VARCHAR) AS v FROM orders
      UNION ALL
      SELECT 'lineitem.partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'documents.token', t.tok
      FROM (SELECT unnest({_toks_of_norm('text')}) AS tok
            FROM documents) t
    ),
    hh AS (SELECT stream, v, {hex60} AS h FROM u),
    rr AS (
      SELECT stream, v, h % {_HLL_M} AS bucket,
             CASE WHEN (h // {_HLL_M}) = 0 THEN {_HLL_RMAX}
                  ELSE least(bit_count(((h // {_HLL_M})
                                        & -(h // {_HLL_M})) - 1) + 1,
                             {_HLL_RMAX})
             END AS rho
      FROM hh
    ),
    regs AS (SELECT stream, bucket, MAX(rho) AS r
             FROM rr GROUP BY 1, 2),
    ex AS (SELECT stream, CAST(COUNT(DISTINCT v) AS BIGINT)
                    AS exact_distinct
           FROM rr GROUP BY 1),
    agg AS (
      SELECT stream,
             CAST(COUNT(*) AS BIGINT) AS regs_set,
             CAST(SUM(r) AS BIGINT) AS reg_sum,
             CAST(MAX(r) AS BIGINT) AS reg_max,
             SUM((1::HUGEINT) << CAST(60 - r AS INT))
               + (64 - COUNT(*)) * ((1::HUGEINT) << 60) AS S
      FROM regs GROUP BY 1
    )
    SELECT a.stream, {_HLL_M} AS m, a.regs_set, a.reg_sum, a.reg_max,
           {det_round_sql(est, 6)} AS est_distinct,
           e.exact_distinct,
           {det_round_sql(
               f"(({est}) - CAST(e.exact_distinct AS DOUBLE))"
               " / CAST(e.exact_distinct AS DOUBLE)", 6)} AS rel_err
    FROM agg a JOIN ex e USING (stream)
    """


@register("hll_distinct_calibration", oracle=_hll_oracle())
def hll_distinct_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-style distinct-count calibration, fully hash-oracled:
    build an m=64-register rank sketch over three streams of very
    different cardinality (order custkeys, lineitem partkeys, corpus
    tokens) with the repo's md5-stable hash, and report the register
    fingerprint, the raw estimate, the exact distinct count, and the
    relative error. Empty registers contribute their ``2^0`` term to
    the harmonic mean (the standard raw estimator); the small-range
    linear-counting correction is intentionally omitted — its necessity
    is exactly what the low-cardinality stream's ~2x overestimate
    exposes. The CMS entry calibrates FREQUENCY sketches; this
    calibrates the CARDINALITY sketch — together the two sketch
    families a 100 TB profiler runs where exact state would not fit.

    Determinism: the rank is trailing-zeros+1 of the post-bucket hash
    bits (``bit_count((h & -h) - 1)`` — identical in both engines);
    registers are summed as EXACT integers ``2^(60-r)`` (Spark
    decimal(38,0) / DuckDB hugeint — no float sum ever crosses the
    engine boundary), and the estimate is one literal-over-exact-int
    division, det-rounded. Scale shape: the sketch is a (stream,
    bucket) grouped MAX — map-side combinable, mergeable across
    partitions/days by register-wise max, fixed 64 cells per stream
    regardless of cardinality; the exact COUNT(DISTINCT) rides along
    as the calibration target (the expensive lane the sketch replaces
    in production)."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")
    u = (
        orders.select(
            F.lit("orders.custkey").alias("stream"),
            F.col("o_custkey").cast("string").alias("v"),
        )
        .unionByName(
            li.select(
                F.lit("lineitem.partkey").alias("stream"),
                F.col("l_partkey").cast("string").alias("v"),
            )
        )
        .unionByName(
            docs.select(
                F.lit("documents.token").alias("stream"),
                F.explode(
                    TX.tokens(TX.normalize_text(F.col("text")))
                ).alias("v"),
            )
        )
    )
    from series_tiempo_ar_scraping_spark.streaming.sketch import (
        hll_bucket_rho,
    )

    bucket, rho = hll_bucket_rho(F.col("v"), _HLL_M)
    rr = u.select("stream", "v", bucket, rho).localCheckpoint(eager=False)
    regs = rr.groupBy("stream", "bucket").agg(F.max("rho").alias("r"))
    ex = rr.groupBy("stream").agg(
        F.countDistinct("v").alias("exact_distinct")
    )
    agg = regs.groupBy("stream").agg(
        F.count("*").alias("regs_set"),
        F.sum("r").cast("long").alias("reg_sum"),
        F.max("r").cast("long").alias("reg_max"),
        F.sum(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(60 - r AS INT))"
            ).cast("decimal(38,0)")
        ).alias("s_set"),
    ).select(
        "stream",
        "regs_set",
        "reg_sum",
        "reg_max",
        (
            F.col("s_set")
            + (F.lit(_HLL_M).cast("long") - F.col("regs_set"))
            .cast("decimal(38,0)")
            * F.lit(2**60).cast("decimal(38,0)")
        ).alias("S"),
    )
    est = F.lit(_HLL_C) / F.col("S").cast("double")
    exact_d = F.col("exact_distinct").cast("double")
    return agg.join(ex, "stream").select(
        "stream",
        F.lit(_HLL_M).cast("int").alias("m"),
        "regs_set",
        "reg_sum",
        "reg_max",
        det_round(est, 6).alias("est_distinct"),
        "exact_distinct",
        det_round((est - exact_d) / exact_d, 6).alias("rel_err"),
    )


from series_tiempo_ar_scraping_spark.streaming.sketch import (  # noqa: E402
    CMS_D as _SK_D,
    CMS_W as _SK_W,
)


@register(
    "cms_cells_hourly",
    oracle=f"""
    SELECT window_start, i, bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
      SELECT date_trunc('hour', ts) AS window_start,
             CAST(g.i AS INT) AS i,
             {_hex60_seeded("g.i", "event_type")}
               % {_SK_W} AS bucket
      FROM events,
           LATERAL (SELECT unnest(generate_series(0, {_SK_D - 1})) AS i) g
    )
    GROUP BY 1, 2, 3
    """,
)
def cms_cells_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 + sketches: per-hour Count-Min-Sketch cells over the event
    stream — the BATCH lane of ``streaming/sketch.py:cms_cells`` (the
    same function runs under readStream with a watermark; the streaming
    mergeability property — stream-over-microbatches == batch-over-
    union — is pinned by tests/test_stateful_streaming.py). State per
    window is D×W cells regardless of term cardinality; cells merge by
    addition across windows/shards/days."""
    from series_tiempo_ar_scraping_spark.streaming.sketch import cms_cells

    return cms_cells(load_table(spark, sf_dir, "events"))


@register(
    "skew_key_profile",
    oracle="""
    WITH keyed AS (
      SELECT 'orders.custkey' AS stream, o_custkey AS k FROM orders
      UNION ALL
      SELECT 'lineitem.orderkey', l_orderkey FROM lineitem
      UNION ALL
      SELECT 'events.user', user_id FROM events
    ),
    c AS (SELECT stream, k, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM keyed GROUP BY 1, 2),
    a AS (
      SELECT stream,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c GROUP BY 1
    ),
    hv AS (
      SELECT c.stream, CAST(MIN(c.k) AS BIGINT) AS heaviest_key
      FROM c JOIN a ON a.stream = c.stream AND c.cnt = a.max_cnt
      GROUP BY 1
    )
    SELECT a.stream, a.n_keys, a.total_rows, a.max_cnt, hv.heaviest_key,
           CAST((a.max_cnt * a.n_keys + a.total_rows - 1)
                // a.total_rows AS BIGINT) AS salt_factor,
           CAST(a.max_cnt AS DOUBLE) / a.total_rows AS top1_share
    FROM a JOIN hv USING (stream)
    """,
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic you run BEFORE choosing a
    skew mitigation: per candidate join key, the key count, row count,
    heaviest key's row count and id, the heaviest key's row share, and
    an integer salt recommendation ``ceil(max_cnt / avg_cnt)`` (1 means
    uniform — no salting needed; k means the hot key needs ~k salt
    shards to level with the average partition). Complements the
    MITIGATIONS already in the catalog (salted_user_event_stats, AQE
    skew join) with the measurement that justifies them.

    Determinism: all-integer aggregates; the ceiling division is
    ``(max*n + total - 1) intdiv total`` on positives (Spark DIV
    truncates, DuckDB // floors — identical for non-negatives, the
    repo's documented guard); one double division for the share.
    Scale shape: one groupBy per stream (map-side partial agg), then a
    tiny per-stream rollup; the heaviest-key argmin is a join against
    the 3-row aggregate frame, not a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    keyed = (
        orders.select(
            F.lit("orders.custkey").alias("stream"),
            F.col("o_custkey").alias("k"),
        )
        .unionByName(
            li.select(
                F.lit("lineitem.orderkey").alias("stream"),
                F.col("l_orderkey").alias("k"),
            )
        )
        .unionByName(
            ev.select(
                F.lit("events.user").alias("stream"),
                F.col("user_id").alias("k"),
            )
        )
    )
    c = keyed.groupBy("stream", "k").agg(
        F.count("*").alias("cnt")
    ).localCheckpoint(eager=False)
    a = c.groupBy("stream").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    ).localCheckpoint(eager=False)  # 3 rows; reused by both joins below
    hv = (
        c.join(F.broadcast(a), "stream")
        .filter(F.col("cnt") == F.col("max_cnt"))
        .groupBy("stream")
        .agg(F.min("k").alias("heaviest_key"))
    )
    return (
        a.join(hv, "stream")
        .select(
            "stream",
            "n_keys",
            "total_rows",
            "max_cnt",
            "heaviest_key",
            F.expr(
                "CAST((max_cnt * n_keys + total_rows - 1)"
                " DIV total_rows AS BIGINT)"
            ).alias("salt_factor"),
            (
                F.col("max_cnt").cast("double") / F.col("total_rows")
            ).alias("top1_share"),
        )
    )


_JS_D = 4
_JS_W = 65536  # join-size sketch: wider than the streaming CMS — the
# inner-product bias is ~|A|*|B|/W rows, so W must dwarf the row-count
# product's scale (65536 puts the bias near 2% here); still only
# D*W = 256k cells per side regardless of row count.


def _cms_join_pair_sql(pair: str, a_tbl: str, a_key: str,
                       b_tbl: str, b_key: str) -> str:
    """One (pair, exact, est) row: CMS cells for both key streams, the
    min-over-rows inner product as the join-size estimate, and the exact
    per-key count join as truth. All-integer arithmetic."""
    def cells(tbl, key):
        return f"""
      SELECT g.i,
             {_hex60_seeded("g.i", f"CAST({key} AS VARCHAR)")}
               % {_JS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM {tbl},
           LATERAL (SELECT unnest(generate_series(0, {_JS_D - 1})) AS i) g
      GROUP BY 1, 2"""

    return f"""
      SELECT '{pair}' AS pair,
        (SELECT CAST(SUM(x.c * y.c) AS BIGINT)
         FROM (SELECT CAST({a_key} AS VARCHAR) AS k,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM {a_tbl} GROUP BY 1) x
         JOIN (SELECT CAST({b_key} AS VARCHAR) AS k,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM {b_tbl} GROUP BY 1) y ON x.k = y.k
        ) AS exact_join_rows,
        (SELECT CAST(MIN(dot) AS BIGINT) FROM (
           SELECT a.i, SUM(a.c * b.c) AS dot
           FROM ({cells(a_tbl, a_key)}) a
           JOIN ({cells(b_tbl, b_key)}) b
             ON a.i = b.i AND a.bucket = b.bucket
           GROUP BY 1)
        ) AS est_join_rows"""


@register(
    "join_size_cms_estimate",
    oracle=f"""
    SELECT pair, COALESCE(exact_join_rows, 0) AS exact_join_rows,
           est_join_rows,
           est_join_rows - COALESCE(exact_join_rows, 0) AS overestimate
    FROM (
      {_cms_join_pair_sql('events.user x orders.custkey',
                          'events', 'user_id', 'orders', 'o_custkey')}
      UNION ALL
      {_cms_join_pair_sql('orders.custkey x customer.custkey',
                          'orders', 'o_custkey', 'customer', 'c_custkey')}
    )
    """,
)
def join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation via CMS inner product — the
    query-optimizer trick, hash-oracled: |A join B| is estimated as
    ``min over hash rows i of sum_b cmsA[i,b] * cmsB[i,b]`` (the sketch
    inner product NEVER underestimates the true join size, and two D*W
    sketches estimate a join between streams of ANY cardinality). The
    exact per-key count join rides along as truth, plus the
    overestimate. ALL-integer arithmetic — nothing float crosses the
    engine boundary.

    Scale shape: each side is sketched independently (one map-side-
    combinable groupBy per stream, D*W cells out); the estimate joins
    two <=256-row frames. At 100 TB this is how you cost a join
    WITHOUT running it — the exact lane here is the thing the sketch
    replaces."""
    from series_tiempo_ar_scraping_spark.operators.dedup import (
        hash64_seeded,
    )

    def key_counts(df, key):
        return (
            df.select(F.col(key).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
            # lazy (r13): feeds exact AND sketch lanes — the cache
            # dedups both reads inside the one final job; no
            # synchronous job per side
            .localCheckpoint(eager=False)
        )

    def cells(kc):
        # derive sketch cells from the per-key counts: sum of counts of
        # keys hashing to a cell == count of raw rows hashing there, so
        # the result is bit-identical while hashing O(distinct keys)
        # instead of O(rows) and scanning each table ONCE
        probes = F.posexplode(
            F.array(
                *[
                    (hash64_seeded(F.col("k"), i) % _JS_W).cast("long")
                    for i in range(_JS_D)
                ]
            )
        )
        return (
            kc.select("c", probes.alias("i", "bucket"))
            .groupBy("i", "bucket")
            .agg(F.sum("c").alias("c"))
        )

    def pair_row(name, ka, kb):
        xa = ka.withColumnRenamed("c", "ca")
        xb = kb.withColumnRenamed("c", "cb")
        exact = (
            xa.join(xb, "k")
            .agg(
                F.coalesce(
                    F.sum(F.col("ca") * F.col("cb")), F.lit(0)
                )
                .cast("long")
                .alias("exact_join_rows")
            )
        )
        ca = cells(ka).withColumnRenamed("c", "ca")
        cb = cells(kb).withColumnRenamed("c", "cb")
        est = (
            ca.join(cb, ["i", "bucket"])
            .groupBy("i")
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
            .agg(F.min("dot").cast("long").alias("est_join_rows"))
        )
        return (
            exact.crossJoin(est)
            .select(
                F.lit(name).alias("pair"),
                "exact_join_rows",
                "est_join_rows",
                (
                    F.col("est_join_rows") - F.col("exact_join_rows")
                ).alias("overestimate"),
            )
        )

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # each key-count frame builds ONCE (r13): orders.o_custkey used to
    # be scanned + aggregated + checkpointed separately per pair row
    k_ev = key_counts(ev, "user_id")
    k_ord = key_counts(orders, "o_custkey")
    k_cust = key_counts(cust, "c_custkey")
    return pair_row("events.user x orders.custkey", k_ev, k_ord).unionByName(
        pair_row("orders.custkey x customer.custkey", k_ord, k_cust)
    )


@register(
    "corpus_datasheet",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_toks_of_norm('text')}) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_N}),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
               AS n_exact_dups
      FROM documents
    ),
    lng AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_langs FROM
        (SELECT lang FROM documents GROUP BY 1)
    ),
    topl AS (
      SELECT lang AS top_lang FROM
        (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1
         ORDER BY c DESC, lang LIMIT 1)
    ),
    ta AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS total_oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    ),
    per AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
    sh AS (
      -- left join back to documents: a zero-token doc has no rows in
      -- toks and must still count as short
      SELECT CAST(SUM(CASE WHEN COALESCE(p.n, 0) < 20 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_short_docs
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    )
    SELECT b.n_docs, l.n_langs, tl.top_lang, ta.total_tokens,
           b.total_chars, b.n_exact_dups, sh.n_short_docs,
           CAST(ta.total_tokens AS DOUBLE) / b.n_docs
             AS mean_tokens_per_doc,
           CAST(ta.total_oov AS DOUBLE) / ta.total_tokens
             AS corpus_oov_rate
    FROM base b, lng l, topl tl, ta, sh
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet: ONE row summarizing the document corpus the
    way a dataset card does — doc/language/token/char counts, exact-dup
    count (md5 text identity), short-doc count, mean tokens per doc,
    and the corpus-level OOV rate against the derived top-N vocabulary.
    The measurement lanes compose: every number here has a full-grain
    sibling query in the catalog; this is the roll-up a data lead reads.

    Scale shape: one tokenize pass (checkpointed) feeds the token
    lanes; every lane reduces to a 1-row aggregate frame and the final
    assembly is crossJoins of 1-row frames (the catalog's sanctioned
    scalar-frame pattern — no data-plane cartesian). Two double
    divisions of exact ints cross the engine boundary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        ),
    ).localCheckpoint(eager=False)
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dups"),
    )
    lng = docs.groupBy("lang").agg(F.count("*").alias("c"))
    n_langs = lng.agg(F.count("*").alias("n_langs"))
    topl = (
        lng.orderBy(F.col("c").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = (
        cnt.orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_N)
        .select("tok", F.lit(1).alias("in_v"))
    )
    ta = toks.join(F.broadcast(vocab), "tok", "left").agg(
        F.count("*").alias("total_tokens"),
        F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("total_oov"),
    )
    per = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    # left join back to documents: zero-token docs have no token rows
    # and must still count as short
    sh = (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .agg(
            F.sum(
                F.when(F.coalesce("n", F.lit(0)) < 20, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_short_docs")
        )
    )
    return (
        base.crossJoin(n_langs)
        .crossJoin(topl)
        .crossJoin(ta)
        .crossJoin(sh)
        .select(
            "n_docs",
            "n_langs",
            "top_lang",
            "total_tokens",
            "total_chars",
            "n_exact_dups",
            "n_short_docs",
            (
                F.col("total_tokens").cast("double") / F.col("n_docs")
            ).alias("mean_tokens_per_doc"),
            (
                F.col("total_oov").cast("double")
                / F.col("total_tokens")
            ).alias("corpus_oov_rate"),
        )
    )


@register(
    "bigram_logprob_score",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_toks_of_norm('text')} AS t FROM documents
    ),
    flat AS (SELECT doc_id, unnest(t) AS tok FROM toked),
    u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM flat
          GROUP BY 1),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM u),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM (SELECT doc_id, t FROM toked WHERE len(t) >= 2),
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      GROUP BY 1, 2, 3
    ),
    cb AS (SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS cbg FROM bg
           GROUP BY 1, 2),
    cw AS (SELECT w1, CAST(SUM(m) AS BIGINT) AS cw1 FROM bg GROUP BY 1),
    contrib AS (
      SELECT bg.doc_id, bg.m,
             CAST(FLOOR(bg.m * ln(1.0 / (
                 (0.75 * CAST(cb.cbg AS DOUBLE)) / CAST(cw.cw1 AS DOUBLE)
                 + (0.25 * CAST(u.cu AS DOUBLE)) / CAST(tot.n AS DOUBLE)
               )) * 1000000 + 0.5) AS BIGINT) AS micro
      FROM bg
      JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
      JOIN cw ON cw.w1 = bg.w1
      JOIN u ON u.tok = bg.w2
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(SUM(m) AS BIGINT) AS n_bigrams,
           CAST(SUM(micro) AS DOUBLE) / (1000000.0 * SUM(m))
             AS avg_neg_logprob
    FROM contrib GROUP BY 1
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with interpolated smoothing — the
    stronger perplexity proxy beside ``unigram_logprob_score``:
    ``p(w2|w1) = 0.75 * c(w1,w2)/c(w1 .) + 0.25 * c(w2)/N`` (always > 0
    for in-vocab tokens, so no log of zero), each (doc, bigram)
    contribution ``m * -ln(p)`` rounded ONCE to integer micro-units so
    the per-doc aggregate is an exact BIGINT sum that commutes across
    shuffle order (the unigram recipe; per-term rounding absorbs libm
    ulp differences).

    Scale shape: bigram extraction is the BPE pair kernel (map-only
    transform over token arrays); four bounded shuffles (doc-bigram
    counts, corpus bigram counts, context counts, per-doc sum); the
    1-row total broadcasts. At 100 TB the corpus bigram table prunes to
    top-K contexts + a backoff default — same plan, smaller right
    side."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        TX.tokens(TX.normalize_text(F.col("text"))).alias("t"),
    ).localCheckpoint(eager=False)
    flat = toked.select("doc_id", F.explode("t").alias("tok"))
    u = flat.groupBy("tok").agg(F.count("*").alias("cu"))
    tot = F.broadcast(u.agg(F.sum("cu").cast("long").alias("n")))
    bg = (
        toked.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .groupBy("doc_id", "p.w1", "p.w2")
        .agg(F.count("*").alias("m"))
    )
    cb = bg.groupBy("w1", "w2").agg(F.sum("m").alias("cbg"))
    cw = bg.groupBy("w1").agg(F.sum("m").alias("cw1"))
    p = (F.lit(0.75) * F.col("cbg").cast("double")) / F.col(
        "cw1"
    ).cast("double") + (F.lit(0.25) * F.col("cu").cast("double")) / F.col(
        "n"
    ).cast("double")
    contrib = (
        bg.join(cb, ["w1", "w2"])
        .join(cw, "w1")
        .join(u.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(tot)
        .select(
            "doc_id",
            "m",
            F.floor(
                F.col("m") * F.log(F.lit(1.0) / p) * 1000000 + 0.5
            )
            .cast("bigint")
            .alias("micro"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        (
            F.sum("micro").cast("double")
            / (F.lit(1000000.0) * F.sum("m"))
        ).alias("avg_neg_logprob"),
    )


@register(
    "source_token_drift",
    oracle=f"""
    WITH flat AS (
      SELECT source, unnest({_toks_of_norm('text')}) AS tok
      FROM documents
    ),
    st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cst
           FROM flat GROUP BY 1, 2),
    s AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS cs FROM st
          GROUP BY 1),
    t AS (SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM t),
    terms AS (
      SELECT st.source,
             CAST(FLOOR(
               (CAST(st.cst AS DOUBLE) / CAST(s.cs AS DOUBLE))
               * ln((CAST(st.cst AS DOUBLE) * CAST(tot.n AS DOUBLE))
                    / (CAST(s.cs AS DOUBLE) * CAST(t.ct AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT) AS nano
      FROM st
      JOIN s USING (source)
      JOIN t USING (tok)
      CROSS JOIN tot
    ),
    nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1)
    SELECT nd.source, nd.n_docs, s.cs AS n_tokens,
           CAST(SUM(terms.nano) AS DOUBLE) / 1000000000.0
             AS kl_vs_corpus
    FROM terms
    JOIN s USING (source)
    JOIN nd ON nd.source = terms.source
    GROUP BY 1, 2, 3
    """,
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: per document source, the KL
    divergence of its token distribution from the whole-corpus
    distribution — the mixing report that catches one shard going off-
    distribution (scraper drift, domain imbalance) before it poisons a
    training mix. Each KL term ``p_s(t) * ln(p_s(t)/p(t))`` is rounded
    ONCE to integer nano-units so per-source sums are exact bigint
    (shuffle-order free; libm ulps absorbed — the micro-unit recipe at
    one more digit because individual terms can be < 1e-6).

    Scale shape: (source, token) counts is one map-side-combinable
    shuffle; source and token marginals reduce from it; the corpus
    total broadcasts. Token vocabulary bounds the join sides — at
    100 TB the same plan runs top-K vocab + tail bucket."""
    docs = load_table(spark, sf_dir, "documents")
    flat = docs.select(
        "source",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias(
            "tok"
        ),
    )
    st = flat.groupBy("source", "tok").agg(F.count("*").alias("cst"))
    st = st.localCheckpoint(eager=False)
    s = st.groupBy("source").agg(F.sum("cst").cast("long").alias("cs"))
    t = st.groupBy("tok").agg(F.sum("cst").cast("long").alias("ct"))
    tot = F.broadcast(t.agg(F.sum("ct").cast("long").alias("n")))
    term = (
        F.col("cst").cast("double") / F.col("cs").cast("double")
    ) * F.log(
        (F.col("cst").cast("double") * F.col("n").cast("double"))
        / (F.col("cs").cast("double") * F.col("ct").cast("double"))
    )
    terms = (
        st.join(F.broadcast(s), "source")
        .join(t, "tok")
        .crossJoin(tot)
        .select(
            "source",
            F.floor(term * 1000000000 + 0.5)
            .cast("bigint")
            .alias("nano"),
        )
    )
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        terms.groupBy("source")
        .agg(F.sum("nano").alias("nanosum"))
        .join(F.broadcast(s), "source")
        .join(F.broadcast(nd), "source")
        .select(
            "source",
            "n_docs",
            F.col("cs").alias("n_tokens"),
            (F.col("nanosum").cast("double") / 1000000000.0).alias(
                "kl_vs_corpus"
            ),
        )
    )


@register(
    "hll_registers_hourly",
    oracle=f"""
    SELECT window_start, bucket, CAST(MAX(rho) AS BIGINT) AS r
    FROM (
      SELECT date_trunc('hour', ts) AS window_start,
             h % {_HLL_M} AS bucket,
             CASE WHEN (h // {_HLL_M}) = 0 THEN {_HLL_RMAX}
                  ELSE least(bit_count(((h // {_HLL_M})
                                        & -(h // {_HLL_M})) - 1) + 1,
                             {_HLL_RMAX})
             END AS rho
      FROM (SELECT ts,
                   {_hex60_seeded("0", "CAST(user_id AS VARCHAR)")} AS h
            FROM events)
    )
    GROUP BY 1, 2
    """,
)
def hll_registers_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 + sketches: per-hour HyperLogLog registers over the event
    stream's user ids — the BATCH lane of
    ``streaming/sketch.py:hll_registers`` (the same function runs under
    readStream; register-wise MAX is both the streaming state update
    AND the shard-merge operation, pinned by
    tests/test_stateful_streaming.py). With ``cms_cells_hourly`` this
    completes the pair: both sketch families run batch-oracled AND
    streaming-mergeable."""
    from series_tiempo_ar_scraping_spark.streaming.sketch import (
        hll_registers,
    )

    return hll_registers(load_table(spark, sf_dir, "events"))


@register(
    "value_drift_psi",
    oracle="""
    WITH counts AS (
      SELECT value AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
    ranks AS (
      SELECT k, CAST(CEIL(k * n / 8.0) AS BIGINT) AS r
      FROM (SELECT unnest(generate_series(1, 7)) AS k), tot
    ),
    bounds AS (
      SELECT k, MIN(v) AS boundary
      FROM cum JOIN ranks ON cum.cum >= ranks.r
      GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type,
             (SELECT COUNT(*) FROM bounds b WHERE e.value > b.boundary)
               AS bin
      FROM events e
    ),
    bt AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
           FROM binned GROUP BY 1, 2),
    nt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM bt
           GROUP BY 1),
    ba AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS ca FROM bt GROUP BY 1),
    na AS (SELECT CAST(SUM(ca) AS BIGINT) AS na FROM ba),
    grid AS (
      SELECT t.event_type, g.bin FROM nt t,
        (SELECT unnest(generate_series(0, 7)) AS bin) g
    ),
    terms AS (
      SELECT gr.event_type,
             CAST(FLOOR(
               ((CAST(COALESCE(bt.c, 0) + 1 AS DOUBLE)
                 / CAST(nt.n + 8 AS DOUBLE))
                - (CAST(ba.ca + 1 AS DOUBLE) / CAST(na.na + 8 AS DOUBLE)))
               * ln((CAST(COALESCE(bt.c, 0) + 1 AS DOUBLE)
                     / CAST(nt.n + 8 AS DOUBLE))
                    / (CAST(ba.ca + 1 AS DOUBLE)
                       / CAST(na.na + 8 AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT) AS nano
      FROM grid gr
      LEFT JOIN bt ON bt.event_type = gr.event_type
                   AND bt.bin = gr.bin
      JOIN nt ON nt.event_type = gr.event_type
      JOIN ba ON ba.bin = gr.bin
      CROSS JOIN na
    )
    SELECT t.event_type, nt.n AS n_rows,
           CAST(SUM(t.nano) AS DOUBLE) / 1000000000.0 AS psi
    FROM terms t JOIN nt ON nt.event_type = t.event_type
    GROUP BY 1, 2
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift via Population Stability Index: bin the events
    value column into 8 EXACT equi-depth bins of the overall
    distribution (the equidepth-cuts recipe: distinct-value counts ->
    prefix sum -> 7-row broadcast inequality join — never a global
    sort of the fact table), then per event_type the PSI of its bin
    shares against the overall shares, with add-one smoothing so empty
    bins contribute finite terms. The numeric twin of
    ``source_token_drift``'s token KL: together they cover both drift
    modalities a production monitor watches.

    Determinism: each PSI term ``(p_t - p_a) * ln(p_t/p_a)`` is one
    fixed expression tree of same-int divisions, rounded ONCE to
    integer nano-units, so per-type sums are exact bigint. Residual
    risk (shared with the unigram/KL recipes): ``ln`` is 1-ulp, not
    correctly rounded, so a term landing exactly on a floor boundary
    could round apart cross-engine — empirically unobserved across the
    committed scale factors; the per-term rounding bounds any such
    drift to 1 nano per term. Scale
    shape: one groupBy on the value column (bounded by value
    cardinality), one windowless prefix sum, a broadcast bin
    assignment, and 8x|types| term rows."""
    from series_tiempo_ar_scraping_spark.operators.distributed import (
        two_phase_prefix_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    # ONE scan of the fact table: the (event_type, value) counts feed
    # BOTH the boundary derivation (summed over types) and the binned
    # per-type shares
    # lazy checkpoints (r13): tv/counts/bt are value-cardinality-bounded
    # multi-consumer frames — lazy still dedups each subtree via the
    # checkpoint cache, but the whole chain materializes inside the one
    # final job instead of paying three synchronous jobs
    tv = (
        ev.groupBy("event_type", F.col("value").alias("v"))
        .agg(F.count("*").alias("m"))
        .localCheckpoint(eager=False)
    )
    counts = tv.groupBy("v").agg(F.sum("m").alias("cnt"))
    counts = counts.localCheckpoint(eager=False)
    cum = two_phase_prefix_sum(counts, ["v"], "cnt", out_col="cum")
    tot = F.broadcast(counts.agg(F.sum("cnt").alias("n")))
    ranks = (
        spark.range(1, 8)
        .toDF("k")
        .crossJoin(tot)
        .select(
            "k",
            F.ceil(F.col("k") * F.col("n") / 8.0)
            .cast("bigint")
            .alias("r"),
        )
    )
    bounds = (
        cum.join(F.broadcast(ranks), F.col("cum") >= F.col("r"))
        .groupBy("k")
        .agg(F.min("v").alias("boundary"))
        .select("boundary")
    )
    # bin per DISTINCT value (cardinality-bounded), then join back to
    # the (event_type, value) counts — the fact table never meets the
    # boundary crossJoin
    vbin = (
        counts.select("v")
        .crossJoin(F.broadcast(bounds))
        .groupBy("v")
        .agg(
            F.sum(
                F.when(F.col("v") > F.col("boundary"), 1).otherwise(0)
            )
            .cast("long")
            .alias("bin")
        )
    )
    bt = (
        tv.join(vbin, "v")
        .groupBy("event_type", "bin")
        .agg(F.sum("m").alias("c"))
    )
    bt = bt.localCheckpoint(eager=False)
    nt = bt.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    ba = bt.groupBy("bin").agg(F.sum("c").cast("long").alias("ca"))
    na = F.broadcast(ba.agg(F.sum("ca").cast("long").alias("na")))
    grid = nt.select("event_type", "n").crossJoin(
        F.broadcast(
            spark.range(0, 8).toDF("bin").select(
                F.col("bin").cast("long").alias("bin")
            )
        )
    )
    pt = (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (
        F.col("n") + 8
    ).cast("double")
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + 8).cast(
        "double"
    )
    terms = (
        grid.join(bt, ["event_type", "bin"], "left")
        .join(F.broadcast(ba), "bin")
        .crossJoin(na)
        .select(
            "event_type",
            "n",
            F.floor((pt - pa) * F.log(pt / pa) * 1000000000 + 0.5)
            .cast("bigint")
            .alias("nano"),
        )
    )
    return (
        terms.groupBy("event_type", "n")
        .agg(
            (F.sum("nano").cast("double") / 1000000000.0).alias("psi")
        )
        .select("event_type", F.col("n").alias("n_rows"), "psi")
    )


@register(
    "prefix_filter_jaccard_join",
    oracle=None,  # assembled below from the shared corpus/shingle SQL
)
def prefix_filter_jaccard_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family) — the lossless alternative to MinHash-LSH: order
    each document's shingles by (global frequency ASC, shingle), keep
    only the first ``|s| - ceil(t*|s|) + 1`` as its prefix, and two
    documents can satisfy Jaccard >= t ONLY if their prefixes share a
    shingle (plus the symmetric size filter ``|b| >= ceil(t*|a|)``).
    Candidates verify exactly — so unlike the banded-LSH entry this
    returns EVERY qualifying pair, with zero false negatives, pinned
    by a superset test against the LSH-derived edges.

    Scale shape: rarest-first ordering makes prefixes the most
    selective shingles, so the candidate equi-join is keyed on
    low-frequency tokens (bounded bucket sizes); the quadratic stage
    never materializes — candidates are DISTINCT pairs from a
    token-bucket join exactly like LSH, but with a correctness
    guarantee instead of a probability. Verification joins the two
    shingle lists once per candidate; Jaccard is one same-int
    division."""
    from series_tiempo_ar_scraping_spark.operators import dedup as D
    from series_tiempo_ar_scraping_spark.queries_llm import _near_corpus

    from pyspark.sql import Window

    t = 0.3
    corpus = _near_corpus(spark, sf_dir)
    toked = corpus.select(
        "doc_id",
        TX.tokens(TX.normalize_text(F.col("text"))).alias("_toks"),
    )
    sh = toked.select(
        "doc_id",
        TX.shingles_from_tokens(F.col("_toks"), 3).alias("shingles"),
    ).localCheckpoint(eager=False)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = (
        ex.join(freq, "s")
        .select(
            "doc_id",
            "s",
            F.row_number().over(w).alias("rk"),
            F.count("*")
            .over(Window.partitionBy("doc_id"))
            .alias("sz"),
        )
    )
    pref = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.ceil(t * F.col("sz")).cast("long") + 1
    ).localCheckpoint(eager=False)
    a = pref.select(
        F.col("doc_id").alias("doc_a"), "s", F.col("sz").alias("sza")
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), "s", F.col("sz").alias("szb")
    )
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("szb") >= F.ceil(t * F.col("sza")).cast("long"))
            & (F.col("sza") >= F.ceil(t * F.col("szb")).cast("long"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    joined = cand.join(
        sh.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "doc_a",
    ).join(
        sh.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "doc_b",
    )
    jac = D.jaccard(F.col("sh_a"), F.col("sh_b"))
    return joined.select(
        "doc_a", "doc_b", det_round(jac, 4).alias("jac")
    ).filter(F.col("jac") >= t)


from series_tiempo_ar_scraping_spark.sqlfrags import (  # noqa: E402
    _NEAR_CORPUS_SQL,
    _SHINGLES_SQL,
)

ORACLES["prefix_filter_jaccard_join"] = f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             {_SHINGLES_SQL.format(t=_toks_of_norm('text'))} AS shingles
      FROM corpus
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    f AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY 1),
    ranked AS (
      SELECT e.doc_id, e.s,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                ORDER BY f.df, e.s) AS rk,
             COUNT(*) OVER (PARTITION BY e.doc_id) AS sz
      FROM ex e JOIN f ON f.s = e.s
    ),
    pref AS (
      SELECT doc_id, s, sz FROM ranked
      WHERE rk <= sz - CAST(CEIL(0.3 * sz) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE b.sz >= CAST(CEIL(0.3 * a.sz) AS BIGINT)
        AND a.sz >= CAST(CEIL(0.3 * b.sz) AS BIGINT)
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / greatest(len(list_distinct(sa.shingles || sb.shingles)),
                        1) AS jac
      FROM cand p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) AS jac
    FROM scored
    WHERE CAST(FLOOR(jac * 10000 + 0.5) / 10000 AS DOUBLE) >= 0.3
"""


@register(
    "sorted_neighborhood_linkage",
    oracle="""
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS cnt FROM part
      GROUP BY 1
    ),
    ranked AS (
      SELECT p_name, cnt,
             ROW_NUMBER() OVER (ORDER BY p_name) AS rk
      FROM names
    ),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             a.cnt * b.cnt AS row_pairs
      FROM ranked a JOIN ranked b
        ON b.rk > a.rk AND b.rk <= a.rk + 3
    )
    SELECT name_a, name_b, dist, CAST(row_pairs AS BIGINT) AS row_pairs
    FROM pairs WHERE dist <= 3
    """,
)
def sorted_neighborhood_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood record linkage — the THIRD blocking strategy
    beside token blocking (``fuzzy_blocked_name_join``) and clustering
    cells (``semantic_cluster_dedup``): sort the DEDUPLICATED key space
    lexicographically and compare each key only with its w=3 successors
    (a sliding window over the sort order), Levenshtein-verifying the
    window pairs. Catches near-misses that share a PREFIX but not a
    block token; candidate count is exactly w*|keys| — linear, not
    quadratic.

    Scale shape: ranking happens on the deduped key frame (64 rows vs
    20k at sf0.1 — the dedup collapse again; at 100 TB the rank comes
    from the two-phase prefix-sum scaffold instead of one global
    window, same downstream plan) and the neighborhood is a rank-range
    self-join bounded to w rows per key. Multiplicities carry row-grain
    linkage counts exactly as in the blocked variant."""
    parts = load_table(spark, sf_dir, "part")
    names = (
        parts.groupBy("p_name")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    ranked = names.select(
        "p_name",
        "cnt",
        F.row_number().over(Window.orderBy("p_name")).alias("rk"),
    )
    a = ranked.select(
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("ca"),
        F.col("rk").alias("ra"),
    )
    b = ranked.select(
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cb"),
        F.col("rk").alias("rb"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + 3),
    ).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        (F.col("ca") * F.col("cb")).cast("long").alias("row_pairs"),
    )
    return pairs.filter(F.col("dist") <= 3)
