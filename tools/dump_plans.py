#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans for flagship queries with
the scale-relevant properties called out. Run from the repo root:

    python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

from series_tiempo_ar_scraping_spark.registry import load_queries  # noqa: E402
from series_tiempo_ar_scraping_spark.session import get_spark  # noqa: E402

QUERIES = load_queries()

# query -> what to look for in its plan (rendered as a checklist)
SHOWCASE = {
    "q01_pricing_summary": [
        ("PushedFilters", "shipdate predicate reaches the parquet scan"),
        ("partial_sum", "map-side partial aggregation before the exchange"),
        ("ReadSchema", "column pruning (no l_comment in the scan schema)"),
    ],
    "q05_region_revenue": [
        ("BroadcastHashJoin", "dimension joins broadcast (no dim shuffle)"),
    ],
    "q03_revenue_topk": [
        ("TakeOrderedAndProject", "top-k without a global sort"),
    ],
    "semi_orders_with_big_lineitem": [
        ("LeftSemi", "existence check as a semi join (no row multiplication)"),
    ],
    "skyline_orders_pareto": [
        ("Window", "single running-max window — no O(n^2) dominance join"),
    ],
    "weighted_avg_discount_udaf": [
        ("ArrowAggregatePython", "Arrow-batched grouped-aggregate UDF"),
    ],
    "dedup_minhash_lsh": [
        ("Generate", "band expansion is a generator, not a self-join"),
        ("HashAggregate", "bucket collection in one shuffle"),
    ],
    "sliding_window_rates": [
        ("Expand", "window set per row (generator), not a self-join"),
    ],
    "zorder_bucket_stats": [
        ("HashAggregate", "bounded (<=1024 group) aggregate after map-side bit math"),
        ("BroadcastNestedLoopJoin", "1-row bounds frame broadcast back (no fact shuffle)"),
    ],
    "incremental_dedup": [
        # NOTE: the exact-stage LeftAnti executes inside the eager shingle
        # checkpoint, so it is not part of the final displayed plan.
        ("LeftOuter", "verdict assembly via left joins on the new batch"),
        ("Generate", "band expansion is a generator on each side"),
    ],
    # round 7 (batch 11)
    "vocab_oov_rate": [
        ("BroadcastHashJoin", "top-N vocab broadcast onto the token stream"),
        ("HashAggregate", "per-doc rollup with map-side partials"),
    ],
    "bigram_logprob_score": [
        ("Generate", "bigram extraction is a generator, not a self-join"),
        ("BroadcastHashJoin", "corpus total and context counts broadcast"),
    ],
    "join_size_cms_estimate": [
        ("BroadcastNestedLoopJoin",
         "1-row exact and estimate frames cross-joined (no data-plane cartesian)"),
        ("HashAggregate", "sketch cells via map-side-combinable grouped sums"),
    ],
    "prefix_filter_jaccard_join": [
        # NOTE: the per-document prefix ranking Window executes inside
        # the eager prefix checkpoint, so it is not part of the final
        # displayed plan (same as incremental_dedup's exact stage).
        ("BroadcastHashJoin", "shingle lists broadcast onto candidates"),
        ("HashAggregate", "candidate distinct as one grouped aggregate"),
    ],
    # round 7 (batch 12)
    "bloom_filter_join_prune": [
        ("BroadcastHashJoin",
         "the <=4096-row bit frame broadcasts; probe rows drop map-side"),
        ("LeftSemi", "ground-truth membership as a semi join"),
    ],
    "quality_weighted_sampling": [
        ("HashAggregate",
         "quality+hash+accept are ONE map-side projection; the per-source "
         "report is the only exchange"),
    ],
    "rank_fusion_rrf": [
        ("WindowGroupLimit", "top-5 pushes down before the final window"),
        ("Window", "three rankings share one query_id shuffle"),
    ],
    # round 7 (batch 14)
    "inventory_clamped_balance": [
        ("Window", "reflected-walk clamp = two windows over ONE sort"),
        ("HashAggregate", "per-supplier rollup with map-side partials"),
    ],
    "asof_nearest_click_to_purchase": [
        ("Window", "backward+forward carries — JOIN-FREE nearest as-of"),
    ],
    "markov_removal_attribution": [
        ("Scan ExistingRDD",
         "checkpointed channel-sized transition frame drives every round"),
        ("BroadcastHashJoin", "the ~12-row p frame broadcast per round"),
    ],
    "golden_record_survivorship": [
        ("Generate", "3-source fan-out is an explode of ONE scan"),
        ("HashAggregate", "field survivorship as max_by in one aggregate"),
    ],
    "fifo_cogs_matching": [
        ("Window", "per-part cumulative-quantity axes from prefix sums"),
        ("HashAggregate", "COGS rollup with map-side partials"),
    ],
    # round 8: the de-cartesianed label-noise pass — k-means-cell
    # blocking replaced the r7 all-pairs cross join (the training +
    # cell-assignment stages run inside eager localCheckpoints, so the
    # displayed plan starts at the checkpointed cells frame)
    "label_noise_knn_disagreement": [
        ("Window", "per-vector 5-NN ranking within blocked candidates"),
        ("HashAggregate", "per-class suspect rollup with partials"),
    ],
    # round 10: the gap-tolerant SLO window — RANGE frame on the
    # epoch-hour index (an empty hour contributes nothing instead of
    # silently stretching the window to the last 6 OBSERVED hours)
    "slo_burn_rate_alerts": [
        ("RangeFrame, -5", "time-based trailing frame on h_idx"),
        ("HashAggregate", "one hourly rollup of the fact table"),
    ],
}


def main() -> None:
    sf_dir = "/root/testdata/sf0.001"
    spark = get_spark("dump-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — formatted physical plans for the flagship queries",
        "",
        "Generated by `tools/dump_plans.py` (sf0.001, local[4]; the plan",
        "SHAPE is scale-independent — sizes/AQE decisions are not shown).",
        "Each query lists the scale-relevant properties the plan must keep;",
        "`tests/test_plans.py` asserts them in CI.",
        "",
    ]
    for name, checks in SHOWCASE.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + the first scan detail block
        tree = plan.split("\n\n")[0]
        out.append(f"## {name}")
        out.append("")
        for marker, why in checks:
            present = "x" if marker in plan else " "
            out.append(f"- [{present}] `{marker}` — {why}")
        out.append("")
        out.append("```")
        out.append(tree.rstrip())
        out.append("```")
        out.append("")
    with open("PLANS.md", "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} queries)")


if __name__ == "__main__":
    main()
