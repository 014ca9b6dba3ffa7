"""Batch-38 queries: Fellegi-Sunter record-linkage weights, a
randomized-response privacy estimator, and the MinHash-LSH S-curve
planner.

Families (each entry hash-oracled; determinism per the established
recipes):

- Fellegi-Sunter (JASA 1969): per-feature m/u agreement probabilities
  on labeled match vs non-match pairs, and the log-odds agreement /
  disagreement weights a probabilistic matcher sums per candidate
  pair. Matches are synthesized deterministically (a re-entered twin
  per 4th customer with a name typo and a balance drift), non-matches
  are adjacent-key pairs — both labels exact by construction.
- Randomized response (Warner 1965): per-stratum purchase rates
  estimated from hash-flipped reports (p=3/4 truth), debiased by the
  closed form (obs − (1−p))/(2p−1), with the true rate carried in the
  same row so the estimator's error is part of the output — the
  local-DP collection twin of ``dp_noisy_histogram`` (central DP).
- LSH S-curve planner: collision probability 1 − (1 − s^r)^b on a
  similarity grid for the (bands, rows) configurations the MinHash
  family uses, all powers by EXPLICIT multiplication chains (fixed
  IEEE op trees — no pow(), which is not correctly rounded), plus
  each configuration's 0.5-crossing threshold. The tuning table that
  says which (b, r) to deploy for a target Jaccard cutoff.

Reference parity: extends the reference's validation/report lane with
the linkage-tuning, private-collection, and dedup-planning reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.operators.dedup import hash64_seeded
from series_tiempo_ar_scraping_spark.registry import register
from series_tiempo_ar_scraping_spark.session import load_table
from series_tiempo_ar_scraping_spark.sqlfrags import _hex60_seeded

# ---------------------------------------------------------------------------
# Fellegi-Sunter m/u weights
# ---------------------------------------------------------------------------

# CENTS of deterministic balance drift on the re-entered twin; every
# 16th customer also moves nation so nation-m stays below 1
_FS_DRIFT = 137


def _fs_pairs_sql() -> str:
    return f"""
    matches AS (
      SELECT c_nationkey AS na,
             CASE WHEN c_custkey % 16 = 0
                  THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nb,
             c_name AS ca,
             CASE WHEN c_custkey % 3 = 0
                  THEN substr(c_name, 1, length(c_name) - 1) || 'X'
                  ELSE c_name END AS cb,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS ba,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               + {_FS_DRIFT} * (c_custkey % 7) AS bb
      FROM customer WHERE c_custkey % 4 = 0
    ),
    nonmatches AS (
      SELECT a.c_nationkey AS na, b.c_nationkey AS nb,
             a.c_name AS ca, b.c_name AS cb,
             CAST(CAST(a.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS ba,
             CAST(CAST(b.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS bb
      FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    )
    """


def _fs_agree_sql(side: str) -> str:
    return f"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN na = nb THEN 1 ELSE 0 END) AS BIGINT)
               AS a_nation,
             CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END)
                  AS BIGINT) AS a_name,
             CAST(SUM(CASE WHEN ba // 100000 = bb // 100000
                           THEN 1 ELSE 0 END) AS BIGINT) AS a_band
      FROM {side}
    """


@register(
    "fellegi_sunter_weights",
    oracle=f"""
    WITH {_fs_pairs_sql()},
    m AS ({_fs_agree_sql('matches')}),
    u AS ({_fs_agree_sql('nonmatches')}),
    feat AS (
      SELECT 'nation' AS feature,
             m.a_nation * 1000000 // NULLIF(m.n, 0) AS m_micro,
             greatest(u.a_nation * 1000000 // NULLIF(u.n, 0), 1) AS u_micro
      FROM m CROSS JOIN u
      UNION ALL
      SELECT 'name_exact',
             m.a_name * 1000000 // NULLIF(m.n, 0),
             greatest(u.a_name * 1000000 // NULLIF(u.n, 0), 1)
      FROM m CROSS JOIN u
      UNION ALL
      SELECT 'balance_band',
             m.a_band * 1000000 // NULLIF(m.n, 0),
             greatest(u.a_band * 1000000 // NULLIF(u.n, 0), 1)
      FROM m CROSS JOIN u
    )
    SELECT feature,
           CAST(m_micro AS BIGINT) AS m_micro,
           CAST(u_micro AS BIGINT) AS u_micro,
           CAST(FLOOR(ln(CAST(m_micro AS DOUBLE) / u_micro) * 1000000
                      + 0.5) AS BIGINT) AS agree_weight_micro,
           CAST(CASE WHEN m_micro < 1000000 AND u_micro < 1000000
                THEN FLOOR(ln(CAST(1000000 - m_micro AS DOUBLE)
                              / (1000000 - u_micro)) * 1000000 + 0.5)
                END AS BIGINT) AS disagree_weight_micro
    FROM feat
    """,
)
def fellegi_sunter_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969): for
    three comparison features (same nation, exact name, $1000
    balance band), estimate m = P(agree | match) on deterministic
    re-entered twins (every 4th customer, with a trailing-char name
    typo on every 3rd twin, a custkey-dependent balance drift, and a
    nation move on every 16th — so no feature is a perfect separator
    on either side, keeping every weight finite) and
    u = P(agree | non-match) on adjacent-key pairs, then publish the
    log-odds agreement weight ln(m/u) and disagreement weight
    ln((1−m)/(1−u)) — the per-feature scores a matcher sums and
    thresholds. u is floored at 1 micro so a zero-agreement feature
    yields a large finite weight instead of ±inf.

    Scale shape: the match side is MAP-ONLY (the twin is derived in
    the same row — no join); the non-match side is one equi-join on
    custkey+1 (co-partitioned); each side collapses to ONE 4-counter
    aggregate, and the weight table is built from two 1-row frames.
    Determinism: exact counts, integer micro rates, micro-floored ln
    on fixed op trees (the zipf recipe)."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (
        F.col("c_acctbal").cast("decimal(12,2)") * 100
    ).cast("bigint")
    matches = cust.filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_nationkey").alias("na"),
        F.when(
            F.col("c_custkey") % 16 == 0,
            (F.col("c_nationkey") + 1) % 25,
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nb"),
        F.col("c_name").alias("ca"),
        F.expr(
            "CASE WHEN c_custkey % 3 = 0"
            " THEN substr(c_name, 1, length(c_name) - 1) || 'X'"
            " ELSE c_name END"
        ).alias("cb"),
        cents.alias("ba"),
        (cents + _FS_DRIFT * (F.col("c_custkey") % 7)).alias("bb"),
    )
    a = cust.alias("a")
    b = cust.alias("b")
    nonmatches = a.join(
        b, F.col("b.c_custkey") == F.col("a.c_custkey") + 1
    ).select(
        F.col("a.c_nationkey").alias("na"),
        F.col("b.c_nationkey").alias("nb"),
        F.col("a.c_name").alias("ca"),
        F.col("b.c_name").alias("cb"),
        (F.col("a.c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("ba"),
        (F.col("b.c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("bb"),
    )

    def agree(side: DataFrame) -> DataFrame:
        return side.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("na") == F.col("nb"), 1).otherwise(0))
            .cast("long")
            .alias("a_nation"),
            F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
            .cast("long")
            .alias("a_name"),
            F.sum(
                F.when(
                    F.expr("ba DIV 100000 = bb DIV 100000"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("a_band"),
        )

    m = agree(matches)
    u = agree(nonmatches).select(
        F.col("n").alias("un"),
        F.col("a_nation").alias("u_nation"),
        F.col("a_name").alias("u_name"),
        F.col("a_band").alias("u_band"),
    )
    # the 1-row (m, u) counter frame feeds one union branch per
    # feature — checkpoint it so the match scan and the non-match join
    # run once, not once per feature
    mu = m.crossJoin(F.broadcast(u)).localCheckpoint(eager=False)
    feat = None
    for name, mc, uc in (
        ("nation", "a_nation", "u_nation"),
        ("name_exact", "a_name", "u_name"),
        ("balance_band", "a_band", "u_band"),
    ):
        row = mu.select(
            F.lit(name).alias("feature"),
            F.expr(f"{mc} * 1000000 DIV NULLIF(n, 0)").alias("m_micro"),
            F.expr(
                f"greatest({uc} * 1000000 DIV NULLIF(un, 0), 1)"
            ).alias(
                "u_micro"
            ),
        )
        feat = row if feat is None else feat.unionAll(row)
    return feat.select(
        "feature",
        F.col("m_micro").cast("long").alias("m_micro"),
        F.col("u_micro").cast("long").alias("u_micro"),
        F.floor(
            F.log(
                F.col("m_micro").cast("double") / F.col("u_micro")
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("agree_weight_micro"),
        F.when(
            (F.col("m_micro") < 1000000) & (F.col("u_micro") < 1000000),
            F.floor(
                F.log(
                    (F.lit(1000000) - F.col("m_micro")).cast("double")
                    / (F.lit(1000000) - F.col("u_micro"))
                )
                * 1000000
                + F.lit(0.5)
            ),
        )
        .cast("bigint")
        .alias("disagree_weight_micro"),
    )


# ---------------------------------------------------------------------------
# Randomized response (Warner 1965) — local-DP rate estimation
# ---------------------------------------------------------------------------

_RR_SEED = 8383
_RR_TRUTH_NUM = 3  # answer truthfully with prob 3/4
_RR_TRUTH_DEN = 4


@register(
    "randomized_response_estimate",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS INTEGER) AS y,
             least(CAST(COUNT(*) AS BIGINT) // 20, 4) AS stratum,
             CAST({_hex60_seeded(str(_RR_SEED),
                                 'CAST(user_id AS VARCHAR)')}
                  % {_RR_TRUTH_DEN} AS INTEGER) AS coin
      FROM events GROUP BY 1
    ),
    reported AS (
      SELECT stratum, y,
             CASE WHEN coin < {_RR_TRUTH_NUM} THEN y ELSE 1 - y END
               AS r
      FROM per_user
    ),
    agg AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(y) AS BIGINT) AS true_pos,
             CAST(SUM(r) AS BIGINT) AS reported_pos
      FROM reported GROUP BY 1
    )
    SELECT stratum, n_users,
           CAST(true_pos * 1000000 // n_users AS BIGINT)
             AS true_rate_micro,
           CAST(reported_pos * 1000000 // n_users AS BIGINT)
             AS reported_rate_micro,
           CAST((reported_pos * 1000000 // n_users - 250000) * 2
                AS BIGINT) AS estimated_rate_micro,
           CAST(ABS((reported_pos * 1000000 // n_users - 250000) * 2
                    - true_pos * 1000000 // n_users) AS BIGINT)
             AS abs_error_micro
    FROM agg
    """,
)
def randomized_response_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized response (Warner 1965; the local-DP collection
    mechanism): each user's purchase indicator is reported truthfully
    with probability 3/4 (a seeded-hash coin) and FLIPPED otherwise,
    giving every individual plausible deniability; the collector
    debiases the observed rate with the closed form
    π = (obs − (1−p)) / (2p − 1), which at p = 3/4 is
    (obs − 1/4) · 2. Because this is a fixture, the TRUE rate rides in
    the same row, so the estimator's absolute error is part of the
    output — the empirical privacy-utility readout. The local twin of
    ``dp_noisy_histogram`` (central Laplace) in the privacy lane.

    Scale shape: one per-user rollup, one per-stratum aggregate —
    two shuffles of shrinking frames, everything else map-side.
    Determinism: hash coin, exact counts, integer micro debias (the
    ×2 form avoids a second division entirely)."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("int")
        .alias("y"),
        F.expr("least(CAST(COUNT(*) AS BIGINT) DIV 20, 4)").alias(
            "stratum"
        ),
        (
            hash64_seeded(F.col("user_id").cast("string"), _RR_SEED)
            % _RR_TRUTH_DEN
        )
        .cast("int")
        .alias("coin"),
    )
    reported = per_user.select(
        "stratum",
        "y",
        F.when(F.col("coin") < _RR_TRUTH_NUM, F.col("y"))
        .otherwise(1 - F.col("y"))
        .alias("r"),
    )
    agg = reported.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("y").cast("long").alias("true_pos"),
        F.sum("r").cast("long").alias("reported_pos"),
    )
    return agg.select(
        "stratum",
        "n_users",
        F.expr("CAST(true_pos * 1000000 DIV n_users AS BIGINT)").alias(
            "true_rate_micro"
        ),
        F.expr(
            "CAST(reported_pos * 1000000 DIV n_users AS BIGINT)"
        ).alias("reported_rate_micro"),
        F.expr(
            "CAST((reported_pos * 1000000 DIV n_users - 250000) * 2"
            " AS BIGINT)"
        ).alias("estimated_rate_micro"),
        F.expr(
            "CAST(ABS((reported_pos * 1000000 DIV n_users - 250000)"
            " * 2 - true_pos * 1000000 DIV n_users) AS BIGINT)"
        ).alias("abs_error_micro"),
    )


# ---------------------------------------------------------------------------
# LSH S-curve planner
# ---------------------------------------------------------------------------

# (bands, rows) configurations to sweep; b in {8,16,32} so 1-(1-s^r)^b
# resolves by explicit repeated squaring (t8/t16/t32 columns below)
_LSH_CONFIGS = [(8, 4), (16, 4), (32, 4), (8, 8), (16, 8)]


@register(
    "lsh_scurve_planner",
    oracle=f"""
    WITH grid AS (
      SELECT unnest(generate_series(5, 95, 5)) AS s_pct
    ),
    cfg AS (
      SELECT * FROM (VALUES {', '.join(f'({b}, {r})'
                                       for b, r in _LSH_CONFIGS)})
        AS t(bands, rws)
    ),
    base AS (
      SELECT s_pct, bands, rws,
             CAST(s_pct AS DOUBLE) / 100.0 AS s
      FROM grid CROSS JOIN cfg
    ),
    tt AS (
      SELECT s_pct, bands, rws,
             1.0 - CASE WHEN rws = 4 THEN s * s * s * s
                        ELSE s * s * s * s * s * s * s * s END AS t
      FROM base
    ),
    sq AS (
      SELECT s_pct, bands, rws, t,
             t * t AS t2 FROM tt
    ),
    sq2 AS (SELECT *, t2 * t2 AS t4 FROM sq),
    sq3 AS (SELECT *, t4 * t4 AS t8 FROM sq2),
    sq4 AS (SELECT *, t8 * t8 AS t16 FROM sq3),
    sq5 AS (SELECT *, t16 * t16 AS t32 FROM sq4),
    p AS (
      SELECT s_pct, bands, rws,
             CAST(FLOOR((1.0 - CASE bands WHEN 8 THEN t8
                                          WHEN 16 THEN t16
                                          ELSE t32 END) * 1000000
                        + 0.5) AS BIGINT) AS collision_micro
      FROM sq5
    )
    SELECT s_pct, bands, rws AS rows_per_band, collision_micro,
           CAST(MIN(CASE WHEN collision_micro >= 500000 THEN s_pct END)
                  OVER (PARTITION BY bands, rws) AS BIGINT)
             AS threshold_s_pct
    FROM p
    """,
)
def lsh_scurve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH S-curve planner: for each (bands b, rows-per-band r)
    configuration, the candidate-collision probability
    1 − (1 − s^r)^b over a Jaccard-similarity grid, plus the 0.5
    crossing (the configuration's effective similarity threshold,
    ~ (1/b)^(1/r)). ALL powers are explicit multiplication chains
    (s^r left-associated, (1−s^r)^b by repeated squaring through
    t2..t32 columns) — fixed IEEE op trees both engines execute
    bit-identically, where a pow() call would only be faithfully
    rounded. This is the tuning table that justifies the (b, r)
    choices hard-coded in ``dedup_minhash_lsh`` and siblings: pick
    the row family whose threshold brackets the target cutoff.

    Scale shape: a 19×5 generated grid — no table scan at all; the
    planner is free at any corpus size (that is the point: tune the
    curve BEFORE the 100 TB shingle pass, not by re-running it).
    Determinism: integer grid, explicit multiplication chains,
    micro-floor, window MIN over exact integers."""
    grid = spark.range(1, 20).select(
        (F.col("id") * 5).cast("long").alias("s_pct")
    )
    cfg = spark.createDataFrame(
        [(b, r) for b, r in _LSH_CONFIGS], "bands int, rws int"
    )
    base = grid.crossJoin(F.broadcast(cfg)).select(
        "s_pct",
        "bands",
        "rws",
        (F.col("s_pct").cast("double") / 100.0).alias("s"),
    )
    tt = base.select(
        "s_pct",
        "bands",
        "rws",
        (
            1.0
            - F.when(
                F.col("rws") == 4,
                F.expr("s * s * s * s"),
            ).otherwise(F.expr("s * s * s * s * s * s * s * s"))
        ).alias("t"),
    )
    sq = (
        tt.withColumn("t2", F.expr("t * t"))
        .withColumn("t4", F.expr("t2 * t2"))
        .withColumn("t8", F.expr("t4 * t4"))
        .withColumn("t16", F.expr("t8 * t8"))
        .withColumn("t32", F.expr("t16 * t16"))
    )
    p = sq.select(
        "s_pct",
        "bands",
        "rws",
        F.floor(
            (
                1.0
                - F.when(F.col("bands") == 8, F.col("t8"))
                .when(F.col("bands") == 16, F.col("t16"))
                .otherwise(F.col("t32"))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("collision_micro"),
    )
    w = Window.partitionBy("bands", "rws")
    return p.select(
        "s_pct",
        "bands",
        F.col("rws").alias("rows_per_band"),
        "collision_micro",
        F.min(
            F.when(
                F.col("collision_micro") >= 500000, F.col("s_pct")
            )
        )
        .over(w)
        .cast("long")
        .alias("threshold_s_pct"),
    )
