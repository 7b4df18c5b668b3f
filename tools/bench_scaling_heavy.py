#!/usr/bin/env python3
"""Heavy-tier scaling capture (VERDICT r15 item 7).

The driver's scaling block only covers the headline queries, which sit
at the per-query scheduling floor at sf0.1 — every ratio reads < 1
(8 cores beats 32) and says nothing about operator parallelism.  This
tool runs the COMPUTE-BOUND heavy subset at two core counts in fresh
subprocesses (master local[N] via SPARK_GRAFT_CPUS, the bench's own
mechanism) and reports t_low / t_high per query, so §2 parallelism
claims (scan fan-out, edge-build width, kernel distribution) get
ratio evidence: a compute-bound distributed kernel should degrade
toward core_ratio when cores shrink; a fixed-cost-bound one stays
near 1.

Method per child: bench.py's heavy tier (``bench.heavy_tier``), three
timed runs per query.

Writes plans/r16/SCALING_heavy_r16.json and prints a table.

Usage: python tools/bench_scaling_heavy.py [sf_dir] [hi_cpus] [lo_cpus]
       python tools/bench_scaling_heavy.py --child <sf_dir>   (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

HEAVY = ["q_dup_clusters", "q_cosine_topk", "q_cross_doc_ngram_dup",
         "q_rfm_segments", "q_collab_filter", "q_pq_topk",
         "q_minhash_neardup", "q_prefix_shingle_join",
         "q_simhash_shingle_pairs", "q_pagerank", "q_triangle_count",
         "q_bfs_hops", "q_kcore", "q_assortativity"]


def child(sf_dir: str) -> None:
    from bench import heavy_tier
    from spark_streaming_join_example_spark import get_spark

    spark = get_spark("scaling-heavy")
    spark.sparkContext.setLogLevel("ERROR")
    tier = heavy_tier(spark, sf_dir, HEAVY, 3)
    out = {
        **tier["heavy"],
        "shingle_build": tier["shingle_build"],
        "graph_edge_build": tier["graph_edge_build"],
    }
    print("RESULT " + json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    hi = sys.argv[2] if len(sys.argv) > 2 else "32"
    lo = sys.argv[3] if len(sys.argv) > 3 else "8"
    res = {}
    for cpus in (hi, lo):
        env = {**os.environ, "SPARK_GRAFT_CPUS": cpus}
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", sf_dir],
            capture_output=True, text=True, cwd=REPO, env=env,
        )
        line = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
        assert line, f"cpus={cpus}: child failed\n{r.stderr[-2000:]}"
        res[cpus] = json.loads(line[0][7:])
    ratios = {
        n: round(res[lo][n] / res[hi][n], 3)
        for n in res[hi]
        if res[hi].get(n)
    }
    payload = {
        "sf_dir": sf_dir, "cpus_hi": int(hi), "cpus_lo": int(lo),
        "hi": res[hi], "lo": res[lo], "ratio_lo_over_hi": ratios,
    }
    out_path = os.path.join(REPO, "plans", "r16", "SCALING_heavy_r16.json")
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}")
    for n, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        print(f"{n:28s} {hi}c {res[hi][n]:7.3f}s  {lo}c {res[lo][n]:7.3f}s"
              f"  ratio {r}")


if __name__ == "__main__":
    main()
