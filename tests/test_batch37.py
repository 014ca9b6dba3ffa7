"""Batch-37 semantics: invariants ABOVE the hash oracles (the
same-bug-both-engines guard, per tests/test_semantics_batch14.py)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from series_tiempo_ar_scraping_spark.registry import load_queries
from series_tiempo_ar_scraping_spark.session import load_table

QUERIES = load_queries()

SF = "/root/testdata/sf0.001"


def _py_dhash_from_pattern(pat: int) -> int:
    phash = 0
    for y in range(8):
        for x in range(7):
            a = (pat * 17 + x * x * 3 + y * 29) % 256
            b = (pat * 17 + (x + 1) * (x + 1) * 3 + y * 29) % 256
            if a > b:
                phash |= 1 << (y * 7 + x)
    return phash


def test_dhash_clusters_partition_corpus(spark):
    """Every document lands in exactly one cluster; cluster hashes are
    the closed-form pattern hashes; canonical ids carry the pattern
    residue; nothing touches the sign bit."""
    rows = QUERIES["multimodal_dhash_dedup"](spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n_images for r in rows) == n_docs
    expect = {_py_dhash_from_pattern(p) for p in range(16)}
    assert {r.phash for r in rows} == expect
    for r in rows:
        assert 0 <= r.phash < (1 << 56)
        # each cluster's canonical id must map back to its own hash
        assert _py_dhash_from_pattern(r.canonical_media_id % 16) == r.phash


def test_dhash_kernel_block_average_and_garbage(spark):
    """The kernel block-averages a 16x16 image to the same hash as its
    8x8 source, and flags undecodable payloads instead of throwing."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        dhash_media,
        encode_ppm,
    )

    y, x = np.mgrid[0:8, 0:8]
    g8 = ((5 * 17 + x * x * 3 + y * 29) % 256).astype(np.uint8)
    px8 = np.stack([g8, g8, g8], axis=2)
    px16 = np.repeat(np.repeat(px8, 2, axis=0), 2, axis=1)
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2, 3],
            "content": [
                encode_ppm(px8),
                encode_ppm(px16),
                b"not an image",
            ],
        }
    )
    media = spark.createDataFrame(pdf)
    out = {r.media_id: r for r in dhash_media(media).collect()}
    assert out[1].decodable and out[2].decodable
    assert out[1].phash == out[2].phash == _py_dhash_from_pattern(5)
    assert not out[3].decodable and out[3].phash is None


def _hex60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_merkle_levels_recompute_and_localize(spark):
    """Row counts are conserved up the tree; every parent signature is
    the md5 of its children's signatures in key order; leaf sigs
    recompute from raw rows."""
    rows = QUERIES["merkle_range_fingerprints"](spark, SF).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.level, {})[r.node_id] = r
    assert set(by_level) == {0, 1, 2}
    orders = load_table(spark, SF, "orders").collect()
    n = len(orders)
    for lv in (0, 1, 2):
        assert sum(r.n_rows for r in by_level[lv].values()) == n
    # leaf recompute
    leaves: dict[int, int] = {}
    for o in orders:
        cents = round(o.o_totalprice * 100)
        h = _hex60(
            f"{o.o_orderkey}|{o.o_orderstatus}|{cents}|{o.o_orderpriority}"
        )
        leaves[o.o_orderkey // 512] = (
            leaves.get(o.o_orderkey // 512, 0) + h % 1000000007
        )
    assert {k: v for k, v in leaves.items()} == {
        k: r.sig for k, r in by_level[0].items()
    }
    # parent recompute (both internal levels)
    for child_lv in (0, 1):
        parents: dict[int, list[tuple[int, int]]] = {}
        for nid, r in by_level[child_lv].items():
            parents.setdefault(nid // 8, []).append((nid, r.sig))
        for pid, kids in parents.items():
            s = ",".join(
                str(sig) for _, sig in sorted(kids, key=lambda t: t[0])
            )
            assert by_level[child_lv + 1][pid].sig == _hex60(s)
