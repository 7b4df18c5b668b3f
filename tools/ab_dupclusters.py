#!/usr/bin/env python3
"""Break q_dup_clusters' heavy-bench wall time into its two phases and
A/B the bench-sharing question the r13 VERDICT asked.

Phases (timed with variants INTERLEAVED within each run, plans rebuilt
from the DSL per timed run — the ab_tumbling protocol):

  full   — the registered query end-to-end (edge build + connected
           components), exactly what bench.py times;
  edges  — the _dup_edges build alone, materialized by count();
  cc     — connected_components over a PRE-materialized edge relation
           (localCheckpoint built once outside the timers), i.e. what
           the kernel would cost if the bench shared the edge build
           the way the co-purchase graph tier shares its edges.

`full - (edges + cc)` ≈ 0 sanity-checks the decomposition;
`cc` vs `full` is the headroom a persisted, shared dup-edge build
could claim.  Outputs asserted identical between the full
query and the split pipeline on the first run.

Usage: python tools/ab_dupclusters.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_join_example_spark import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark()

    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )
    from spark_streaming_join_example_spark.plans.advanced import (
        _dup_edges,
        q_dup_clusters,
    )

    # correctness: split pipeline == registered query (one check)
    pre = _dup_edges(spark, sf_dir).localCheckpoint(eager=True)
    a = sorted(
        tuple(r)
        for r in connected_components(pre).select("node", "component").collect()
    )
    b = sorted(tuple(r) for r in q_dup_clusters(spark, sf_dir).collect())
    assert a == b, f"split pipeline diverges ({len(a)} vs {len(b)} rows)"
    n_edges = pre.count()

    t_full, t_edges, t_cc = [], [], []
    for _ in range(n_runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        q_dup_clusters(spark, sf_dir).count()
        t_full.append(time.perf_counter() - t0)

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _dup_edges(spark, sf_dir).count()
        t_edges.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        connected_components(pre).select("node", "component").count()
        t_cc.append(time.perf_counter() - t0)

    med = statistics.median
    print(
        f"edges={n_edges}\n"
        f"full  median {med(t_full):.3f}s (min {min(t_full):.3f})\n"
        f"edges median {med(t_edges):.3f}s (min {min(t_edges):.3f})\n"
        f"cc    median {med(t_cc):.3f}s (min {min(t_cc):.3f})\n"
        f"edges+cc = {med(t_edges) + med(t_cc):.3f}s vs full "
        f"{med(t_full):.3f}s; shared-edges headroom "
        f"{med(t_full) - med(t_cc):.3f}s "
        f"({100 * (med(t_full) - med(t_cc)) / med(t_full):.0f}% of full)",
        flush=True,
    )


if __name__ == "__main__":
    main()
