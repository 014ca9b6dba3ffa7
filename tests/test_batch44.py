"""Batch-44 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _hash60(seed: int, val: str) -> int:
    return int(
        hashlib.md5(f"{seed}|{val}".encode()).hexdigest()[:15], 16
    )


def test_bandit_replay_walk_replays(spark):
    """The greedy policy's matched steps and rewards replay exactly in
    Python with the no-lookahead frame; the matched share sits near
    1/2 (the uniform log can't favor any policy's choices)."""
    rows = {
        r.policy: r
        for r in QUERIES["bandit_replay_eval"](spark, SF).collect()
    }
    assert set(rows) == {"greedy", "logged"}
    users = sorted(
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y")
        )
        .collect(),
        key=lambda u: u.user_id,
    )
    n0 = s0 = n1 = s1 = 0
    matched = rewards = 0
    for u in users:
        arm = _hash60(2929, str(u.user_id)) % 2
        if n0 == 0:
            pick = 0
        elif n1 == 0:
            pick = 1
        elif s1 * 1_000_000 // n1 > s0 * 1_000_000 // n0:
            pick = 1
        else:
            pick = 0
        if pick == arm:
            matched += 1
            rewards += u.y
        if arm == 0:
            n0 += 1
            s0 += u.y
        else:
            n1 += 1
            s1 += u.y
    g = rows["greedy"]
    assert g.n_steps == len(users)
    assert g.n_matched == matched
    assert g.n_rewards == rewards
    assert g.reward_rate_micro == rewards * 1_000_000 // max(matched, 1)
    lg = rows["logged"]
    assert lg.n_rewards == s0 + s1
    assert lg.n_matched == len(users)
    # uniform logging matches any deterministic policy ~half the time
    assert abs(g.n_matched - len(users) / 2) < len(users) * 0.2


def test_secure_agg_masks_cancel_and_hide(spark):
    """Per stratum the masked sum equals the true sum EXACTLY; every
    stratum has an even user count (complete pairs only); the mean
    mask dwarfs any individual count (the privacy property)."""
    rows = QUERIES["secure_agg_masking_proof"](spark, SF).collect()
    assert rows
    users = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y")
        )
        .collect()
    )
    pairs = defaultdict(list)
    for u in users:
        pairs[u.user_id // 2].append(u)
    true_by_stratum = defaultdict(int)
    n_by_stratum = defaultdict(int)
    for pid, members in pairs.items():
        if len(members) != 2:
            continue
        for m in members:
            true_by_stratum[pid % 5] += m.y
            n_by_stratum[pid % 5] += 1
    for r in rows:
        assert r.sums_equal == 1
        assert r.masked_sum == r.true_sum == true_by_stratum[r.stratum]
        assert r.n_users == n_by_stratum[r.stratum]
        assert r.n_users % 2 == 0
        # masks average ~500k; per-user purchase counts are tiny
        assert r.mean_mask > 100_000
