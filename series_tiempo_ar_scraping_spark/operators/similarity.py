"""Similarity search over embedding columns (BASELINE.json north-star).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries broadcast against the corpus; per-pair cosine is a higher-order
  ``zip_with`` + ``aggregate`` (JVM-side, no Python); ranking is a window
  per query. Linear in |corpus|×|queries| — right up to ~10⁴ queries.
- ``hyperplane_bucket``: random-hyperplane LSH (sign bits) — the scale
  path: bucket the corpus once, probe only matching buckets. Planes are
  deterministic ±1 vectors derived from md5 parity so the DuckDB oracle
  reproduces buckets exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8


def plane_coeffs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane coefficients: parity of md5("j:i")."""
    return [
        [
            1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with per-element double casts (cross-engine: both engines
    fold the products sequentially in array order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_self: bool = False) -> DataFrame:
    """Exact top-k neighbors per query (brute force).

    Output: (query_id, neighbor_id, rank, sim). Ranking key is
    (sim DESC, neighbor_id ASC) — total order, deterministic under ties.
    ``exclude_self`` drops neighbor_id == query_id before ranking (the
    ground-truth convention when queries are drawn from the corpus,
    matching ``ivf_topk``'s contract).

    Norms are materialized once per vector *before* the pair join (a
    |corpus|+|queries| cost) instead of inside the pair expression (a
    |corpus|×|queries| cost) — Catalyst doesn't CSE across the join, and
    dot/(na·nb) is the same float op tree as the inline cosine.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec"))
         / (F.col("q_norm") * F.col("c_norm"))).alias("sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def assign_clusters(vectors: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_assign: int = 1) -> DataFrame:
    """IVF coarse quantization: each vector → its ``n_assign`` nearest
    centroids by cosine (ties → smaller centroid id).

    Centroids are a small broadcast dim (k-means-style codebooks are
    ~10²-10⁴ rows even at corpus scale); assignment is an embarrassingly
    parallel broadcast-join + per-partition window — no shuffle of the
    big side beyond the ranking's repartition by vector id.
    """
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vvec"),
        norm(F.col(vec_col)).alias("v_norm"),
    )
    # FULL cosine, same expression tree as the SQL oracles (_COS64:
    # dot / (sqrt·sqrt)). Dropping the vector's own norm would be
    # scale-invariant in exact arithmetic but is a DIFFERENT float tree:
    # the extra division can collapse 1-ulp csim gaps into ties the two
    # engines then break differently, flipping a list assignment — the
    # determinism rule (identical trees) outranks the ~1/3 flops saving.
    if n_assign == 1:
        # Map-side argmax over the broadcast codebook ARRAY (r13):
        # array_max over (csim, -centroid_id) structs is the window's
        # exact total order — largest csim first (incl. Spark's
        # NaN-greatest and struct-comparison semantics, which match
        # DESC NULLS LAST), ties to the smallest centroid id — and the
        # whole assignment runs inside one codegen stage: ZERO
        # exchange (a struct-max AGGREGATE would fall back to
        # SortAggregate — struct agg buffers are immutable — and a
        # window pays a full shuffle+sort). Same cosine float tree:
        # dot / (v_norm · c_norm) per candidate, unchanged.
        cands = c.agg(
            F.collect_list(
                F.struct("centroid_id", "centroid_vec", "c_norm")
            ).alias("cands")
        )
        best = F.array_max(
            F.transform(
                F.col("cands"),
                lambda cc: F.struct(
                    (
                        dot(F.col("vvec"), cc["centroid_vec"])
                        / (F.col("v_norm") * cc["c_norm"])
                    ).alias("csim"),
                    (-cc["centroid_id"]).alias("nid"),
                ),
            )
        )
        return (
            v.crossJoin(F.broadcast(cands))
            .select("vid", best.alias("b"))
            .select(
                F.col("vid").alias(id_col),
                (-F.col("b.nid")).alias("centroid_id"),
                F.lit(1).alias("crank"),
            )
        )
    scored = v.crossJoin(F.broadcast(c)).select(
        "vid",
        "centroid_id",
        (
            dot(F.col("vvec"), F.col("centroid_vec"))
            / (F.col("v_norm") * F.col("c_norm"))
        ).alias("csim"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("csim"), F.asc("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_assign)
        .select(F.col("vid").alias(id_col), "centroid_id", "crank")
    )


# Codebook sizing for cell-blocked kernels (kNN disagreement, cluster
# dedup): per-cell candidate work is QUADRATIC in cell density, so a
# fixed K turns 10x data into ~100x join work (measured: PROBE_r10
# 57x/14.7x at 10x with K=8; ~linear with K ∝ n). 250 vectors/cell
# keeps cells broadcast-join friendly while K stays a small broadcast
# codebook; the floor preserves the original 8-cell contract on tiny
# fixtures.
CODEBOOK_TARGET_CELL = 250


# Flat-rule crossover (SCALE.md): K ∝ n keeps per-cell pair work
# linear, but flat assignment itself costs n·K = n²/target_cell
# scorings — past n ≈ 2·target_cell² the blocked (two-level) codebook
# must take over as the blocking key. At target 250 that is 125,000
# vectors. Read at CALL time by the auto-blocking kernels so tests can
# exercise the switch on small synthetic corpora.
TWO_LEVEL_CROSSOVER = 2 * CODEBOOK_TARGET_CELL**2


def blocking_mode_for(n: int) -> str:
    """The auto-blocking decision both cell-blocked kernels share
    (VERDICT r12 #3): below the flat rule's own crossover the flat
    adaptive-K codebook is the cheaper blocking key; at or above it
    (n ≥ 2·target_cell² ≈ 125k vectors, where flat assignment goes
    n²/target_cell) escalate to the two-level structure — measured
    1.38× at 10× for the codebook itself, 1.32× vs 4.11× for the
    dedup census escalation (PROBE_r12). One integer compare on the
    eager corpus count the default path already pays."""
    return "two_level" if n >= TWO_LEVEL_CROSSOVER else "flat"


def adaptive_codebook_k(
    vectors: DataFrame,
    target_cell: int = CODEBOOK_TARGET_CELL,
    floor: int = 8,
    n: int | None = None,
) -> int:
    """K ∝ n codebook sizing: ⌈n / target_cell⌉, floored. One scalar
    count on the driver — the only data-dependent input a static
    codebook size needs. The SQL oracles derive the SAME K with a
    ``LIMIT (SELECT GREATEST(floor, CEIL(COUNT(*)/target)) ...)``
    subquery, so both engines stay pinned at every scale.

    ESCALATION (SCALE.md crossover analysis): K ∝ n keeps per-cell
    pair work linear but assignment itself costs n·K = n²/target_cell
    scorings — past n ≈ 2·target_cell² (~125k vectors at target 250)
    switch the blocking key from this flat codebook to
    ``two_level_codebook`` (coarse quantize → per-cell grouped Lloyd,
    n²/(coarse_k·target_cell) assignment work; an oracled catalog
    entry since r12, measured sub-1× per unit data at 10×).

    ``n`` short-circuits the count when the caller already paid it
    (the auto-blocking kernels count once to pick the mode, then
    reuse the same n here — never two scans for one decision)."""
    import math

    if n is None:
        n = vectors.count()
    return max(floor, math.ceil(n / target_cell))


def kmeans_lloyd_micro(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """REAL Lloyd's k-means, bit-deterministic: ``iters`` unrolled
    assign/update rounds over INTEGER MICRO-UNIT vectors (component →
    ``floor(x·10⁶ + 0.5)`` as bigint). Distances are exact bigint
    squared-L2 sums (order-free), so assignment ties break identically
    everywhere (then by smaller centroid id); the centroid update is
    ``floor(sum / count)`` per component via double division of exact
    ints — safe because |sum| ≪ 2⁵³ keeps the quotient correctly
    rounded. Init = the ``k`` smallest ids (deterministic). Returns
    (final centroids (cid, xi array<bigint>), final assignment
    (id, cid)); clusters that lose all members drop out — both engines
    agree because the inner update join simply yields no rows.

    Scale shape: the pagerank pattern — centroids are a tiny broadcast
    frame re-checkpointed per round (plan size O(1) in iterations);
    each round is one broadcast of the codebook ARRAY + a map-side
    per-vector argmin (array_min over (d2, cid) structs — no window,
    no argmin shuffle at all) + one grouped update keyed by
    (cid, component). The big side never self-joins and never shuffles
    for assignment.
    The fixed-point arithmetic is what makes an ITERATIVE clustering
    loop hash-oracle-able (mirrored, unrolled, in DuckDB SQL)."""
    if iters < 1:
        raise ValueError("kmeans_lloyd_micro requires iters >= 1")
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5).cast("long"),
    )
    # lazy checkpoints throughout (r13): every consumer is either a
    # per-round broadcast build (which materializes the checkpoint) or
    # the final action; the cache dedups repeat reads across those jobs
    # exactly as the eager form did, without paying a synchronous
    # materialization job per frame (~4 driver round-trips per call).
    vecs = vectors.select(
        F.col(id_col).alias("vid"), micro.alias("xi")
    ).localCheckpoint(eager=False)
    cent = (
        vecs.orderBy("vid")
        .limit(k)
        .select(
            (
                F.row_number().over(Window.orderBy("vid")) - 1
            ).alias("cid"),
            F.col("xi").alias("ci"),
        )
        .localCheckpoint(eager=False)
    )
    assign = None
    cands = cent.agg(F.collect_list(F.struct("cid", "ci")).alias("cands"))
    for _ in range(iters):
        # Map-side argmin over the broadcast codebook ARRAY (r13): the
        # k candidates live in one array column, so the per-vector
        # argmin is array_min over (d2, cid) structs — the exact
        # (d2 asc, cid asc) total order the former row_number window
        # used (struct comparison is lexicographic; min is
        # order-invariant, so collect_list order is irrelevant) — and
        # the whole assignment runs inside one codegen stage: ZERO
        # exchange, vs a full n·k-row shuffle+sort (window) or the
        # SortAggregate fallback a struct-min WITH the xi array forces
        # (array in the agg buffer is not hash-aggregatable).
        best = F.array_min(
            F.transform(
                F.col("cands"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("xi"),
                            c["ci"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assign = (
            vecs.crossJoin(F.broadcast(cands))
            .select("vid", "xi", best.alias("b"))
            .select("vid", F.col("b.cid").alias("cid"), "xi")
        )
        comp = assign.select(
            "cid", F.posexplode("xi").alias("pos", "val")
        )
        upd = comp.groupBy("cid", "pos").agg(
            F.floor(
                F.sum("val").cast("double") / F.count("*")
            )
            .cast("long")
            .alias("m")
        )
        cent = (
            upd.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("ci")
            )
            .localCheckpoint(eager=False)
        )
        cands = cent.agg(
            F.collect_list(F.struct("cid", "ci")).alias("cands")
        )
    return cent, assign.select("vid", "cid")


def kmeans_lloyd_micro_grouped(
    vectors: DataFrame,
    group_col: str,
    iters: int = 2,
    target_cell: int = CODEBOOK_TARGET_CELL,
    floor: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means trained INDEPENDENTLY per group, for every group
    in ONE dataflow — the second level of a two-level codebook (see
    ``two_level_codebook``). Identical micro-unit arithmetic, init and
    tie-breaks as ``kmeans_lloyd_micro`` (per group: init = the k_g
    smallest ids; assignment = exact bigint squared-L2, ties → smaller
    centroid id; update = floor(sum/count)), so restricting the result
    to one group equals running the flat primitive on that group alone
    — the equivalence ``test_grouped_lloyd_equals_per_group`` pins.

    Per-group codebook size derives IN the dataflow (a window count:
    k_g = max(floor, ⌈n_g / target_cell⌉)) — no driver-side counts, no
    per-group loop. Scale shape: centroids are (group, cid) keyed, so
    assignment is an EQUI-JOIN on the group key (shuffle-partitionable;
    never a broadcast of a corpus-sized codebook), each round is one
    join + map-side per-(group, vector) argmin + one grouped update. With G
    groups of ~n/G members, per-round work is n · k_g ≈ n²/(G·target)
    — the group fan-out G divides the flat rule's n²/target assignment
    cost, which is the whole point of the two-level structure.

    Returns (centroids (group, cid, ci), assignment (group, id, cid))."""
    if iters < 1:
        raise ValueError("kmeans_lloyd_micro_grouped requires iters >= 1")
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5).cast("long"),
    )
    # lazy checkpoints (r13): same rationale as the flat kernel above
    vecs = vectors.select(
        F.col(group_col).alias("gid"),
        F.col(id_col).alias("vid"),
        micro.alias("xi"),
    ).localCheckpoint(eager=False)
    wg = Window.partitionBy("gid").orderBy("vid")
    kg = F.greatest(
        F.lit(floor),
        F.ceil(
            F.count("*").over(Window.partitionBy("gid"))
            / F.lit(float(target_cell))
        ).cast("int"),
    )
    cent = (
        vecs.select(
            "gid",
            (F.row_number().over(wg) - 1).alias("cid"),
            F.col("xi").alias("ci"),
            kg.alias("kg"),
        )
        .filter(F.col("cid") < F.col("kg"))
        .drop("kg")
        .localCheckpoint(eager=False)
    )
    assign = None
    cmap = cent.groupBy("gid").agg(
        F.collect_list(F.struct("cid", "ci")).alias("cands")
    )
    for _ in range(iters):
        # Map-side argmin over the per-group codebook ARRAY (r13) —
        # same rewrite as the flat kernel: one equi-join on gid ships
        # each group's codebook (one array row per group, smaller than
        # the former k_g candidate rows), then array_min over (d2, cid)
        # structs picks the (d2 asc, cid asc) winner inside the same
        # codegen stage. The per-(gid, vid) aggregate exchange over
        # n·k_g rows — a SortAggregate, since the carried xi array is
        # not hash-aggregatable — disappears entirely.
        best = F.array_min(
            F.transform(
                F.col("cands"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("xi"),
                            c["ci"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assign = (
            vecs.join(cmap, "gid")
            .select("gid", "vid", "xi", best.alias("b"))
            .select("gid", "vid", F.col("b.cid").alias("cid"), "xi")
        )
        comp = assign.select(
            "gid", "cid", F.posexplode("xi").alias("pos", "val")
        )
        upd = comp.groupBy("gid", "cid", "pos").agg(
            F.floor(F.sum("val").cast("double") / F.count("*"))
            .cast("long")
            .alias("m")
        )
        cent = (
            upd.groupBy("gid", "cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("ci")
            )
            .localCheckpoint(eager=False)
        )
        cmap = cent.groupBy("gid").agg(
            F.collect_list(F.struct("cid", "ci")).alias("cands")
        )
    return cent, assign.select("gid", "vid", "cid")


def two_level_codebook(
    vectors: DataFrame,
    coarse_k: int = 8,
    iters: int = 2,
    target_cell: int = CODEBOOK_TARGET_CELL,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level codebook assignment (coarse quantize → per-coarse-cell
    fine Lloyd) — the blocked-assignment structure SCALE.md prescribes
    past the flat adaptive-K crossover (~10⁵ vectors, where a flat
    K ∝ n codebook makes assignment itself n²/target_cell):

    1. a SMALL fixed coarse codebook (``coarse_k`` rows, broadcast)
       partitions the corpus — n · coarse_k bounded work;
    2. ``kmeans_lloyd_micro_grouped`` trains a fine codebook inside
       every coarse cell in one dataflow — equi-join on the coarse id,
       per-group k ∝ cell size, n²/(coarse_k · target_cell) work.

    Returns the final cell assignment (id, coarse_cid, fine_cid): the
    blocking key for cell-local pair work with BOTH stages linear-ish.
    Composes the existing primitives — nothing here is new arithmetic."""
    coarse_cent, coarse_assign = kmeans_lloyd_micro(
        vectors, k=coarse_k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    members = vectors.select(
        F.col(id_col), F.col(vec_col)
    ).join(
        coarse_assign.withColumnRenamed("vid", id_col).withColumnRenamed(
            "cid", "coarse_cid"
        ),
        id_col,
    )
    _, fine_assign = kmeans_lloyd_micro_grouped(
        members,
        group_col="coarse_cid",
        iters=iters,
        target_cell=target_cell,
        id_col=id_col,
        vec_col=vec_col,
    )
    return fine_assign.select(
        F.col("vid").alias(id_col),
        F.col("gid").alias("coarse_cid"),
        F.col("cid").alias("fine_cid"),
    )


def two_level_multiprobe(
    vectors: DataFrame,
    coarse_k: int = 8,
    iters: int = 2,
    nprobe_coarse: int = 2,
    nprobe_fine: int = 2,
    target_cell: int = CODEBOOK_TARGET_CELL,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style multi-probe over a TRAINED two-level codebook — the
    escalation shape for multi-probe kernels (the kNN disagreement
    family) past the flat adaptive-K crossover, where a flat codebook's
    own ranking pass is n·K = n²/target_cell scorings:

    1. train: coarse micro Lloyd (``coarse_k`` rows) hard-partitions
       the corpus; ``kmeans_lloyd_micro_grouped`` trains a fine
       codebook inside every coarse cell (k_g ∝ cell size) — one
       dataflow, no driver loops;
    2. probe: each vector ranks the coarse codebook by the
       ``assign_clusters`` cosine contract (``nprobe_coarse`` cells,
       n·coarse_k work), then within EACH probed coarse cell ranks
       that cell's fine centroids (equi-join on the coarse id +
       per-(vector, coarse) window, ``nprobe_fine`` cells) — the IVF
       nprobe contract, one level down.

    Returns (id, coarse_cid, fine_cid, crank_c, crank_f); the own cell
    is (crank_c=1, crank_f=1), candidate cells are all returned rows
    (≤ nprobe_coarse · nprobe_fine per vector). Ranking work is
    n·(coarse_k + nprobe_coarse·k_g) ≈ n·(coarse_k + 2n/(coarse_k·
    target_cell)) — the coarse fan-out divides the flat rule's n²/
    target ranking cost, the same division ``two_level_codebook``
    buys hard assignment.

    Degenerate contract (pinned by
    ``test_label_noise_two_level_equals_flat_at_coarse_1``): with
    ``coarse_k=1`` and the corpus above the flat K floor this is
    EXACTLY ``assign_clusters(n_assign=nprobe_fine)`` over the flat
    codebook — same init, same micro-unit training, same float
    conversion (ci/10⁶), same cosine tree, same tie-breaks."""
    coarse_cent, coarse_assign = kmeans_lloyd_micro(
        vectors, k=coarse_k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    members = vectors.select(F.col(id_col), F.col(vec_col)).join(
        coarse_assign.withColumnRenamed("vid", id_col).withColumnRenamed(
            "cid", "coarse_cid"
        ),
        id_col,
    )
    fine_cent, _ = kmeans_lloyd_micro_grouped(
        members,
        group_col="coarse_cid",
        iters=iters,
        target_cell=target_cell,
        id_col=id_col,
        vec_col=vec_col,
    )
    coarse_float = coarse_cent.select(
        F.col("cid").alias(id_col),
        F.transform(
            "ci", lambda x: x.cast("double") / 1000000.0
        ).alias(vec_col),
    )
    probes_c = assign_clusters(
        vectors,
        coarse_float,
        id_col=id_col,
        vec_col=vec_col,
        n_assign=nprobe_coarse,
    ).select(
        F.col(id_col).alias("vid"),
        F.col("centroid_id").alias("coarse_cid"),
        F.col("crank").alias("crank_c"),
    )
    # fine ranking: the assign_clusters float/cosine contract, grouped
    # — identical expression tree (dot / (v_norm · c_norm)), the
    # broadcast codebook keyed by (coarse_cid, fine_cid)
    fine_float = fine_cent.select(
        F.col("gid").alias("coarse_cid"),
        F.col("cid").alias("fine_cid"),
        F.transform(
            "ci", lambda x: x.cast("double") / 1000000.0
        ).alias("fvec"),
    )
    fine_float = fine_float.withColumn("f_norm", norm(F.col("fvec")))
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vvec"),
        norm(F.col(vec_col)).alias("v_norm"),
    )
    # NO broadcast hint on the fine codebook: it grows as n/target_cell
    # (≈200 MB at 10⁸ vectors) — forcing a broadcast would reintroduce
    # the corpus-sized-codebook problem this structure removes. The
    # join is keyed by coarse_cid, so AQE broadcasts it while small and
    # shuffle-joins it once it isn't; either way the work distributes.
    scored = (
        v.join(probes_c, "vid")
        .join(fine_float, "coarse_cid")
        .select(
            "vid",
            "coarse_cid",
            "crank_c",
            "fine_cid",
            (
                dot(F.col("vvec"), F.col("fvec"))
                / (F.col("v_norm") * F.col("f_norm"))
            ).alias("csim"),
        )
    )
    w = Window.partitionBy("vid", "coarse_cid").orderBy(
        F.desc("csim"), F.asc("fine_cid")
    )
    return (
        scored.withColumn("crank_f", F.row_number().over(w))
        .filter(F.col("crank_f") <= nprobe_fine)
        .select(
            F.col("vid").alias(id_col),
            "coarse_cid",
            "fine_cid",
            "crank_c",
            "crank_f",
        )
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 5, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest-centroid
    inverted list; a query probes only its ``nprobe`` nearest lists and
    searches those exactly.

    The scale path: the expensive exact scan shrinks from |corpus| to
    |corpus|·nprobe/|centroids| per query, and the probe is an equi-join
    on ``centroid_id`` — shuffle-partitionable by list, skew bounded by
    list sizes. Same output contract as ``cosine_topk``.
    """
    corpus_lists = assign_clusters(
        corpus, centroids, id_col=id_col, vec_col=vec_col, n_assign=1
    ).drop("crank")
    probes = assign_clusters(
        queries, centroids, id_col=id_col, vec_col=vec_col, n_assign=nprobe
    ).select(F.col(id_col).alias("query_id"), "centroid_id")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    ).join(
        corpus_lists.select(
            F.col(id_col).alias("neighbor_id"), "centroid_id"
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    ).join(F.broadcast(probes), "query_id")

    scored = c.join(F.broadcast(q), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec"))
         / (F.col("q_norm") * F.col("c_norm"))).alias("sim"),
    )
    # No dedup needed: each corpus vector lives in exactly one inverted
    # list (n_assign=1), so a (query, neighbor) pair joins at most once.
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def hyperplane_bucket(vec: Column, coeffs: list[list[int]]) -> Column:
    """LSH bucket id: bit j = sign(plane_j · vec). One projection."""
    bucket = F.lit(0)
    for j, plane in enumerate(coeffs):
        d = dot(vec, F.array(*[F.lit(float(c)) for c in plane]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = N_PLANES, dim: int = 64) -> DataFrame:
    """Approximate top-k: probe only the query's bucket. Same output shape
    as ``cosine_topk`` (recall < 1 by construction — the scale/quality
    trade)."""
    coeffs = plane_coeffs(n_planes, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        hyperplane_bucket(F.col(vec_col), coeffs).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        hyperplane_bucket(F.col(vec_col), coeffs).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec"))
         / (F.col("q_norm") * F.col("c_norm"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the 100 TB ANN memory compression: vectors
# become M one-byte codes against per-subspace codebooks, and query-time
# scoring is an Asymmetric Distance Computation (ADC) table lookup
# instead of a full-dimension dot product.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces; dim must divide evenly


def l2sq(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² with per-element double casts, sequential fold (the
    same cross-engine-stable shape as ``dot``)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sub(vec: Column, m: int, sub_dim: int) -> Column:
    return F.slice(vec, m * sub_dim + 1, sub_dim)


def pq_codebook(vectors: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 16,
                stride: int = 37) -> DataFrame:
    """Deterministic codebook: vectors with ``id % stride == 1`` below
    ``stride * k`` in id order (a k-means stand-in, as with the IVF
    centroids — the encode/ADC dataflow is what's under test and what
    scales). The id bound caps the candidate set at ``k`` rows BEFORE the
    global row_number window, so the single-partition sort is over ≤ k
    rows no matter the corpus size. Output: (centroid_id, centroid_vec)."""
    w = Window.orderBy(id_col)
    return (
        vectors.filter(
            (F.col(id_col) % stride == 1) & (F.col(id_col) < stride * k)
        )
        .select(id_col, F.col(vec_col).alias("centroid_vec"))
        .withColumn("centroid_id", F.row_number().over(w) - 1)
        .select("centroid_id", "centroid_vec")
    )


def pq_encode(vectors: DataFrame, codebook: DataFrame, dim: int,
              m: int = PQ_M, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as M nearest-subspace-centroid codes.

    Fully MAP-SIDE argmin (r14 — the r13 Lloyd-assignment idiom): the
    codebook collapses to ONE array row (collect_list of (centroid_id,
    centroid_vec) structs) broadcast to every task, and each vector
    picks ``array_min`` over per-candidate (dist, centroid_id) structs
    — ties break to the smaller centroid by struct order, exactly as
    the former MIN-over-structs aggregate did. Zero exchange and one
    codegen stage where the former K-way cross join + struct-min
    grouped aggregate planned a SortAggregate over |vectors|·K rows
    (struct buffers are not hash-aggregatable) plus a |vectors|-row
    shuffle. At 64-dim float32 → 4 bytes/vector, a 64× memory cut for
    the search structure.

    Precondition: ``codebook`` is not empty (``pq_codebook``'s never
    is); an empty one still collapses to one row, giving NULL codes."""
    sub_dim = dim // m
    cb_row = codebook.agg(
        F.collect_list(
            F.struct("centroid_id", "centroid_vec")
        ).alias("_cb")
    )
    paired = vectors.select(
        F.col(id_col), F.col(vec_col).alias("_v")
    ).crossJoin(F.broadcast(cb_row))

    # closure factory, NOT a default-arg lambda: a two-parameter lambda
    # would make PySpark bind the second parameter to the ARRAY INDEX
    def _cand(i: int):
        return lambda c: F.struct(
            l2sq(
                _sub(F.col("_v"), i, sub_dim),
                _sub(c["centroid_vec"], i, sub_dim),
            ).alias("d"),
            c["centroid_id"].alias("cid"),
        )

    return paired.select(
        id_col,
        *[
            F.array_min(F.transform(F.col("_cb"), _cand(i)))[
                "cid"
            ].alias(f"code{i}")
            for i in range(m)
        ],
    )


def pq_query_tables(queries: DataFrame, codebook: DataFrame, dim: int,
                    m: int = PQ_M, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-query ADC distance tables: one row per query with M arrays
    (indexed by centroid_id) of subspace L2² distances. Fully MAP-SIDE
    (r14): the codebook collapses to ONE centroid_id-sorted array row
    broadcast to every task, and each query computes its M tables as
    ``transform`` projections of that array — zero exchange where the
    former K-way cross join + collect_list/sort_array grouped
    aggregate paid an ObjectHashAggregate shuffle of |queries|·K rows.
    centroid_ids are dense and distinct, so the sorted struct array is
    a total order and the table index stays exact.

    Precondition: ``codebook`` is not empty, as in ``pq_encode``; an
    empty one gives every query empty tables."""
    sub_dim = dim // m
    cb_row = codebook.agg(
        F.sort_array(
            F.collect_list(F.struct("centroid_id", "centroid_vec"))
        ).alias("_cb")
    )

    def _tab(i: int):  # closure factory — see pq_encode
        return lambda c: l2sq(
            _sub(F.col("_q"), i, sub_dim),
            _sub(c["centroid_vec"], i, sub_dim),
        )

    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q")
    ).crossJoin(F.broadcast(cb_row)).select(
        "query_id",
        *[
            F.transform(F.col("_cb"), _tab(i)).alias(f"t{i}")
            for i in range(m)
        ],
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
            m: int = PQ_M, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ ANN via ADC: corpus vectors are replaced by their M codes; each
    query precomputes an M×K distance table against the codebook and
    scores a candidate with M array lookups — no full-dimension math per
    pair. The table frame is |queries|·K rows collapsed to one row per
    query (arrays indexed by centroid_id), broadcast against the coded
    corpus: per-pair cost is O(M) element_at calls. Output contract
    matches cosine_topk (rank by approx distance asc, id asc)."""
    cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, cb, dim, m=m, id_col=id_col, vec_col=vec_col)
    qtable = pq_query_tables(
        queries, cb, dim, m=m, id_col=id_col, vec_col=vec_col
    )
    scored = codes.withColumnRenamed(id_col, "neighbor_id").crossJoin(
        F.broadcast(qtable)
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    approx = None
    for i in range(m):
        term = F.element_at(F.col(f"t{i}"), F.col(f"code{i}") + 1)
        approx = term if approx is None else approx + term
    scored = scored.select(
        "query_id", "neighbor_id", approx.alias("approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_dist")
    )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
               dim: int, k: int = 5, nprobe: int = 2, m: int = PQ_M,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ: the production warehouse-ANN composition. IVF restricts
    WHICH candidates are scored (each query probes its ``nprobe`` nearest
    coarse lists — the scan shrinks to |corpus|·nprobe/|lists|); PQ
    restricts WHAT scoring costs (M table lookups against byte codes
    instead of a full-dimension distance). The probe is an equi-join on
    ``centroid_id``; the ADC tables broadcast; nothing in the plan grows
    with the corpus except the coded list store itself."""
    corpus_lists = assign_clusters(
        corpus, centroids, id_col=id_col, vec_col=vec_col, n_assign=1
    ).drop("crank")
    probes = assign_clusters(
        queries, centroids, id_col=id_col, vec_col=vec_col, n_assign=nprobe
    ).select(F.col(id_col).alias("query_id"), "centroid_id")

    cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, cb, dim, m=m, id_col=id_col, vec_col=vec_col)
    qtable = pq_query_tables(
        queries, cb, dim, m=m, id_col=id_col, vec_col=vec_col
    )

    cand = probes.join(
        corpus_lists.select(
            F.col(id_col).alias("neighbor_id"), "centroid_id"
        ),
        "centroid_id",
    ).select("query_id", "neighbor_id")
    scored = (
        cand.join(
            codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(qtable), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    approx = None
    for i in range(m):
        term = F.element_at(F.col(f"t{i}"), F.col(f"code{i}") + 1)
        approx = term if approx is None else approx + term
    scored = scored.select(
        "query_id", "neighbor_id", approx.alias("approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_dist")
    )
