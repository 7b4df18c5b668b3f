#!/usr/bin/env python3
"""A/B q_pagerank's r15 iteration restructure (guide §2.4 / §2.3):

Arm A (old, inlined): per iteration the EDGE relation is joined twice
— once against the rank vector r (on src) and once against the degree
table deg (on src) — before the dst-keyed contribution aggregate; deg
itself is re-derived from edges per reference, and `nodes` costs its
own distinct shuffle over edges.

Arm B (new, the shipped plan): one persisted groupBy("src") yields
deg AND the node set (the graph is symmetric, so every node appears
as src) — the separate nodes-distinct shuffle disappears — and the
per-src quotient ``r div outdeg`` is computed at NODE cardinality
(r ⋈ deg, both node-sized) BEFORE touching edges, so each iteration
joins the edge relation exactly ONCE (broadcast of the node-sized
quotient under AQE) into the dst-keyed sum.  Per-edge addends are the
same integers (r div outdeg depends only on src), so the result is
bit-identical.

Both arms run the full standalone query (no persisted edge build —
the honest per-query build, same as the correctness driver); identity asserted
on the first run; arms interleaved, noop-sink materialization.

Usage: python tools/ab_pagerank.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from spark_streaming_join_example_spark import get_spark, load_table
from spark_streaming_join_example_spark.plans.registry import queries_dict

_PR_SCALE = 1_000_000_000_000


def build_old(spark, sf_dir):
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
        .persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    r = nodes.crossJoin(nn).select(
        "node", F.expr(f"{_PR_SCALE} div n_nodes").alias("r")
    )
    for _ in range(2):
        contrib = (
            edges.join(r, edges.src == r.node)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div outdeg")).alias("c"))
        )
        r = (
            nodes.crossJoin(nn)
            .join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                F.expr(
                    f"(15 * ({_PR_SCALE} div n_nodes)) div 100"
                    " + (85 * coalesce(c, 0)) div 100"
                ).alias("r"),
            )
        )
    return (
        r.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select(
            F.col("node").alias("p_partkey"), F.col("r").alias("rank_e12")
        )
    )


def build_new(spark, sf_dir):
    return queries_dict()["q_pagerank"](spark, sf_dir)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark()
    arms = {"A_old": build_old, "B_new": build_new}

    rows = {}
    for name, build in arms.items():
        rows[name] = [tuple(r) for r in build(spark, sf_dir).collect()]
        spark.catalog.clearCache()
    assert rows["A_old"] == rows["B_new"], (
        f"arms diverge:\nA={rows['A_old']}\nB={rows['B_new']}"
    )
    print(f"identity ok: {len(rows['A_old'])} rows")

    t: dict[str, list[float]] = {k: [] for k in arms}
    for _ in range(n_runs):
        for name, build in arms.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t[name].append(time.perf_counter() - t0)
    med = statistics.median
    for name, xs in t.items():
        print(
            f"{name} median {med(xs):.3f}s  [{min(xs):.3f}, {max(xs):.3f}]"
        )
    print(f"B/A = {med(t['B_new']) / med(t['A_old']):.3f}")


if __name__ == "__main__":
    main()
