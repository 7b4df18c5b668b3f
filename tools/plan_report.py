"""Dump the optimized physical plans of the bench queries (plus the
similarity kernels) to PLANS.md — the plan-quality evidence the 100 TB
grade rests on: pushed filters, pruned scans, broadcast vs shuffle
joins, partial aggregates, TakeOrderedAndProject, Arrow stages.

Usage: python tools/plan_report.py [sf_dir]
"""
from __future__ import annotations

import sys

import os

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from spark_streaming_join_example_spark import get_spark
from spark_streaming_join_example_spark.plans.registry import REGISTRY, queries_dict

SHOWCASE = [
    "q_pricing_summary",
    "q_revenue_join3",
    "q_window_rank",
    "q_events_tumbling",
    "q_stream_static_join",
    "q_distinct_users",
    "q_text_tokens",
    "q_cosine_topk",
    "q_knn_search",
    "q_market_join6",
    "q_salted_join",
    "q_top_orders",
    "q_pagerank",
    "q_zorder_stats",
    "q_winsorized_agg",
    "q_triangle_count",
    "q_context_windows",
    "q_target_encoding",
    "q_attribution",
    "q_collab_filter",
    "q_bm25_search",
    "q_top_paths",
    "q_max_concurrency",
    "q_global_rank_distributed",
    "q_ohlc_bars",
    "q_bigram_lm_score",
    "q_forecast_revenue",
    "q_min_cost_supplier",
    "q_important_stock",
    "q_market_share",
    "q_lexicon_sentiment",
    "q_holt_winters",
    "q_event_pattern",
    "q_reconcile_totals",
    "q_active_users_rolling",
    "q_cross_doc_ngram_dup",
    "q_gopher_rules",
    "q_pq_topk",
    # round-8: the retuned shingled MinHash LSH (band equi-join +
    # pinned verify barrier) and the bitset duplicate-cluster edge
    # build — the two plans this round's perf items changed
    "q_minhash_neardup",
    "q_dup_clusters",
    # round-10: the new conversion-join and tolerance-asof shapes plus
    # the shingle-unit SimHash pair relation (one-pass fingerprint
    # kernel + pigeonhole chunk equi-join)
    "q_click_purchase",
    "q_asof_tolerance",
    "q_simhash_shingle_pairs",
    # round-11/13: the debounce gaps-and-islands twin (one shuffle,
    # both windows + final agg reuse the (user_id, ts) partitioning)
    # and the composite-key sketch top-k (single partial-aggregable
    # sketch, no groupBy shuffle of the concat key)
    "q_debounce",
    "q_approx_topk_flags",
    # round-15 (r11 second session): the span-dedup posting/coverage
    # shapes (gram-key groupBy, LeftSemi probe, doc-bounded window)
    # and the SemDeDup corpus fold (outer equi-join over materialized
    # CC labels)
    "q_repeated_grams",
    "q_span_coverage",
    "q_semdedup_keep",
    # round-12 (round17/18 stock): the date-bucket band-join rewrite
    # (inequality band → (priority, bucket) equi join + 3-probe
    # explode), the salted exact-distinct (two disjoint-shard
    # aggregations, no single-reducer hot key), and the 3-stage
    # funnel chain (two interval joins sharing the user-key shuffle)
    "q_contained_orders",
    "q_salted_distinct",
    "q_view_click_purchase_chain",
    # round-12 second session (round19 stock): the joined-key top-k
    # (WindowGroupLimit over the supplier-nation revenue agg), the
    # dimension-preserving RIGHT outer join, and the expiring
    # backward as-of (one user-key shuffle, no join)
    "q_top_parts_per_nation",
    "q_unsold_parts_right",
    "q_asof_backward_tol",
    # round-13 (round20 stock): the UNBOUNDED forward as-of as a pure
    # window carry (one user-key shuffle, zero joins — SCALE.md
    # §Round-13/14 measures the pair-join alternative degrading 1.9x→3.8x with
    # per-user depth), the prefix-blocked containment join (candidates
    # 0.02% of all-pairs at sf0.01), and the 3-dim snowflake chain
    # (three back-to-back BroadcastHashJoins, fact never shuffles
    # before the final aggregate)
    "q_asof_next_purchase",
    "q_word_containment_pairs",
    "q_stream_static_region",
    # round-14 (round22 stock): the date-scoped anti join (shipdate
    # filter pushed into the fact scan BELOW the LeftAnti — the
    # absence-of-recent-activity shape), the dual-extremes union (two
    # TakeOrderedAndProject branches, no range exchange anywhere),
    # and the sketch-band second pass (3-row quantile relation
    # broadcast back over the fact, two partial aggregates total)
    "q_parts_never_recent",
    "q_global_extremes",
    "q_approx_midband",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-report")
    qd = queries_dict()
    out = [
        "# Physical plans (generated by tools/plan_report.py — do not edit)",
        "",
        f"Scale: `{sf_dir}`, local[32], AQE on. Things to look for: "
        "`PushedFilters`/`ReadSchema` (scan-level pruning), "
        "`BroadcastHashJoin` on dims vs `SortMergeJoin` on facts, "
        "`HashAggregate` pairs (map-side partials), "
        "`TakeOrderedAndProject` (top-k without global sort), "
        "`FlatMapGroupsInPandas`/`MapInPandas` (Arrow-batched Python "
        "confined to the vector kernels).",
        "",
    ]
    for name in SHOWCASE:
        if name not in qd:
            continue
        df = qd[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md: {len(SHOWCASE)} plans")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
