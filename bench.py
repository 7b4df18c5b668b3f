#!/usr/bin/env python3
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is a compact JSON summary (total, per-headline-
query warm medians, vs_baseline, heavy_total with the worst five heavy
kernels, streaming rows/s), kept at most 1900 characters because a
harness that records only the last ~2000 characters of stdout must
still find a whole, parseable line.  The full payload goes to
BENCH_FULL.json next to this script (file only: a long stdout line
would leave a truncated JSON fragment inside that tail window).  A run
reports only what it measured plus its ratio to the DuckDB baseline;
same-box comparisons between two commits are tools/ab.py's job.

Method mirrors BASELINE.md: one shared SparkSession (Spark's per-query
fixed overhead dominates at this scale); each query's DataFrame is
built once, then executed once cold — warming code paths, file
listings and the JIT — and five more times warm; the reported
per-query number is the MEDIAN of the five warm runs (robust to a
single scheduler hiccup, unlike min which under-reports or mean which
over-reports). Per-query min/max across the warm runs go out in
"spread" so a reader can tell a real regression from machine noise.
Timing the execution of an analyzed plan (rather than re-running the
Python DSL each time) isolates engine throughput from the ~0.3 s
driver-side Py4J/Catalyst analysis constant, which is amortized noise
in any long-lived deployment. `value` is the sum of warm medians.

Materialization is `df.toArrow()` — a FULL driver-side result fetch
over Spark's Arrow path, the production materialization for any
Python consumer.  `collect()` decodes every row through Py4J
pickling, which at 3-15k result rows measures the bridge (~25-140 ms)
instead of the engine; the DuckDB baseline's fetch is a native
columnar read that never pays an equivalent cost, so Arrow is the
apples-to-apples fetch.

Section order: headline → STREAMING → heavy.  The streaming drains run
before the heavy tier, whose GC pressure would otherwise turn their
rows/s into a box-condition band.  The probe runs three times: the
canonical ``streaming`` section is the last probe; the first probe (a
declared warmup) plus per-job agreement ratios (the two warmest
probes, and probe1 against the last as ``agreement_cold``) land in
``streaming_probe1``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_join_example_spark import get_spark
from spark_streaming_join_example_spark.plans.registry import (
    REGISTRY,
    queries_dict,
)


#: DuckDB-oracle WARM seconds at sf0.1 from BASELINE.md's table (the
#: 2× bar the driver grades against); embedded so the artifact
#: self-reports its ratio instead of making the reader cross-reference.
BASELINE_WARM_SF01 = {
    "q_pricing_summary": 0.238,
    "q_revenue_join3": 0.255,
    "q_window_rank": 0.325,
    "q_events_tumbling": 0.037,
    "q_stream_static_join": 0.055,
    "q_distinct_users": 0.066,
    "q_text_tokens": 0.108,
    "q_cosine_topk": 0.185,
}

#: streaming probes per run: probe1 is the declared warmup, the last is
#: canonical, and `agreement` compares the last two
N_STREAM_PROBES = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("spark-graft-bench")
    qd = queries_dict()
    names = [n for n, s in sorted(REGISTRY.items()) if s.bench]

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # Global warmup pass FIRST: JVM JIT of the shuffle/codegen/Arrow
    # machinery is shared across queries, so per-query-local warmup
    # makes the alphabetically-first query pay the whole JIT bill
    # (q_cosine_topk measured 0.28-0.42s for an identical plan
    # depending on session warmth). One cold pass over every query,
    # then the timed runs, removes the run-order dependence.
    dfs = {name: qd[name](spark, sf_dir) for name in names}

    # full driver materialization over the Arrow path (see module
    # docstring)
    for df in dfs.values():
        df.toArrow()

    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        df = dfs[name]
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df.toArrow()
            samples.append(time.perf_counter() - t0)
        times[name] = round(statistics.median(samples), 4)
        spread[name] = [round(min(samples), 4), round(max(samples), 4)]

    # ------------------------------------------------------------------
    # Streaming throughput: end-to-end rows/s for the five core
    # streaming jobs (enrich, stream-stream join, tumbling agg, dedup,
    # temporal join) draining the chunked events fixture under
    # trigger(availableNow) into a noop sink — batched mode only here
    # (~25 s/probe; the chunked sustained-latency mode stays in
    # tools/stress_stream.py).  Runs BEFORE the heavy tier (see module
    # docstring).
    # ------------------------------------------------------------------
    streaming = None
    streaming_probe1 = None
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        try:
            from tools.stress_stream import probe as stream_probe

            # Probe1 still carries first-drain warmup (checkpoint dir
            # creation, state-store class loading, sink codegen), so it
            # is a DECLARED warmup: the canonical number is the LAST
            # probe and `agreement` compares the two WARMEST probes
            # (probe2/probe3), the in-session reproducibility claim.
            # The cold-warm gap stays visible as `agreement_cold`
            # (probe1/probe3).
            probes = [
                stream_probe(spark, sf_dir, modes=("batched",))
                for _ in range(N_STREAM_PROBES)
            ]
            streaming = probes[-1]

            # job payload shape: {job: {mode: {"s":…, "rows_per_s":…}}}
            def _rps(probe):
                flat = {}
                for job, modes in (probe.get("jobs") or {}).items():
                    if isinstance(modes, dict):
                        for payload in modes.values():
                            if isinstance(payload, dict) and payload.get(
                                "rows_per_s"
                            ):
                                flat[job] = payload["rows_per_s"]
                                break
                return flat

            rn = _rps(streaming)
            r_prev = _rps(probes[-2])
            r_cold = _rps(probes[0])
            streaming_probe1 = {
                "jobs": probes[0].get("jobs"),
                # warmest-pair rows-per-sec ratio per job: a value
                # near 1.0 means the number is reproducible in-session
                "agreement": {
                    k: round(r_prev[k] / rn[k], 3) for k in r_prev if rn.get(k)
                },
                # first-drain warmup gap (probe1 / canonical)
                "agreement_cold": {
                    k: round(r_cold[k] / rn[k], 3) for k in r_cold if rn.get(k)
                },
            }
        except Exception as e:  # never let the probe sink the artifact
            streaming = {"error": f"{type(e).__name__}: {e}"}

    # ------------------------------------------------------------------
    # Heavy kernels: the expensive distributed paths (graph joins,
    # connected components, O(n²) vector top-k, global-window ranking,
    # shingle dedup) whose regressions the cheap headline set cannot
    # see.  Reported separately — NOT added to `value`.
    # ------------------------------------------------------------------
    heavy_names = [
        n
        for n in (
            "q_pagerank",
            "q_triangle_count",
            "q_dup_clusters",
            "q_cosine_topk",
            "q_bfs_hops",
            "q_kcore",
            "q_collab_filter",
            "q_assortativity",
            # two-phase global windows (ntile/rank/cumsum via
            # operators/ranking): multi-stage, scale-safe plans
            "q_equi_depth_histogram",
            "q_rrf_fusion",
            "q_shard_assign",
            "q_rfm_segments",
            "q_auc_ranksum",
            "q_calibration_bins",
            "q_pr_curve",
            "q_ks_statistic",
            # build the derived partsupp catalog (a |lineitem| groupBy)
            "q_min_cost_supplier",
            "q_important_stock",
            # corpus-wide shingle dedup and vector candidate+rerank
            "q_cross_doc_ngram_dup",
            "q_pq_topk",
            "q_minhash_neardup",
            "q_prefix_shingle_join",
            "q_simhash_shingle_pairs",
        )
        if n in qd
    ]
    n_heavy_runs = int(os.environ.get("SPARK_GRAFT_HEAVY_RUNS", "3"))
    tier = heavy_tier(spark, sf_dir, heavy_names, n_heavy_runs)

    value = round(sum(times.values()), 4)
    out = {
        "metric": "warm_total_headline_queries",
        "value": value,
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "runs": n_runs,
        "heavy": tier["heavy"],
        "heavy_spread": tier["heavy_spread"],
        "heavy_runs": n_heavy_runs,
        "graph_shared_edges": tier["graph_shared_edges"],
        "graph_edge_build": tier["graph_edge_build"],
        "shingle_shared": tier["shingle_shared"],
        "shingle_build": tier["shingle_build"],
        "streaming": streaming,
        "streaming_probe1": streaming_probe1,
        "streaming_method": (
            f"pre-heavy, canonical=probe{N_STREAM_PROBES}-of-"
            f"{N_STREAM_PROBES}, agreement=probe{N_STREAM_PROBES - 1}/"
            f"probe{N_STREAM_PROBES}, probe1=warmup"
        ),
        "sf": sf,
    }
    if sf == 0.1 and set(BASELINE_WARM_SF01) <= set(times):
        base_total = round(sum(BASELINE_WARM_SF01.values()), 4)
        out["baseline_total"] = base_total
        out["vs_baseline"] = round(value / base_total, 3)
        out["vs_baseline_per_query"] = {
            q: round(times[q] / b, 3) for q, b in BASELINE_WARM_SF01.items()
        }
    _emit(out)


#: heavy kernels over the co-purchase edge relation (plans/copurchase.py)
GRAPH_SHARED = frozenset(
    {"q_pagerank", "q_triangle_count", "q_bfs_hops", "q_kcore", "q_assortativity"}
)
#: shingle-unit dedup pipelines over the corpus (doc_id, toks) relation,
#: measured at 54 % of q_minhash_neardup's wall time at sf0.1
#: (SCALE.md §Round-12)
SHINGLE_SHARED = frozenset(
    {"q_minhash_neardup", "q_prefix_shingle_join", "q_simhash_shingle_pairs"}
)


def heavy_tier(spark, sf_dir: str, names: list[str], n_runs: int) -> dict:
    """Time the heavy kernels ``names``: one warm run, then the median
    of ``n_runs`` timed runs, each rebuilding the DataFrame from the
    DSL.  The DSL build is inside the timer, because the iterative
    kernels (connected components, k-core, PageRank) run their driver
    loops at build time.

    Every run starts with ``clearCache()``, so no run reads what an
    earlier run of the same kernel persisted (PageRank's edge and
    degree tables, BFS's edges).  The GRAPH_SHARED kernels and the
    SHINGLE_SHARED pipelines each read one shared build, the way a
    deployment runs them: the build is persisted and counted once,
    timed as ``graph_edge_build`` / ``shingle_build``, and after each
    clear it is persisted and counted again, untimed, so Spark's
    CacheManager serves it to the run.  The build times get their own
    keys, not heavy entries: a build is not a query and must not take a
    ``heavy_worst5`` slot.  The shared kernels' ``heavy_spread`` entries
    carry a third element, ``shared_edges`` / ``shared_shingles``, so a
    reader cannot mistake a shared-build number for an unshared one.
    Results are value-identical either way (pytest-pinned)."""
    from spark_streaming_join_example_spark.operators.dedup import (
        corpus_shingle_toks,
    )
    from spark_streaming_join_example_spark.plans.copurchase import (
        copurchase_edges_undirected,
    )

    qd = queries_dict()
    heavy: dict[str, float] = {}
    spread: dict[str, list] = {}

    def time_one(name: str, builder=None) -> None:
        def fresh() -> None:
            spark.catalog.clearCache()
            if builder is not None:
                builder(spark, sf_dir).persist().count()

        fresh()
        qd[name](spark, sf_dir).toArrow()  # warm code paths once
        samples = []
        for _ in range(n_runs):
            fresh()
            t0 = time.perf_counter()
            qd[name](spark, sf_dir).toArrow()
            samples.append(time.perf_counter() - t0)
        heavy[name] = round(statistics.median(samples), 4)
        spread[name] = [round(min(samples), 4), round(max(samples), 4)]

    def time_shared(builder, group, tag: str):
        members = [n for n in names if n in group]
        if not members:
            return members, None
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        builder(spark, sf_dir).persist().count()
        build_s = round(time.perf_counter() - t0, 4)
        for name in members:
            time_one(name, builder)
            spread[name].append(tag)
        spark.catalog.clearCache()
        return sorted(members), build_s

    for name in names:
        if name not in GRAPH_SHARED and name not in SHINGLE_SHARED:
            time_one(name)
    shingle_names, shingle_build = time_shared(
        corpus_shingle_toks, SHINGLE_SHARED, "shared_shingles"
    )
    graph_names, graph_edge_build = time_shared(
        copurchase_edges_undirected, GRAPH_SHARED, "shared_edges"
    )
    return {
        "heavy": heavy,
        "heavy_spread": spread,
        "graph_shared_edges": graph_names,
        "graph_edge_build": graph_edge_build,
        "shingle_shared": shingle_names,
        "shingle_build": shingle_build,
    }


def _emit(out: dict) -> None:
    """Write the full payload to BENCH_FULL.json next to this script
    (file ONLY — see module docstring), then print the compact summary
    as the FINAL stdout line, at most 1900 characters."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        f.write(json.dumps(out) + "\n")

    heavy = out.get("heavy") or {}
    worst5 = dict(
        sorted(heavy.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    streaming = out.get("streaming")
    stream_compact = None
    if isinstance(streaming, dict):
        # probe shape: {"rows": N, "n_chunks": K,
        #               "jobs": {job: {mode: {"rows_per_s": N, ...}}}}
        stream_compact = {}
        for job, modes in (streaming.get("jobs") or {}).items():
            if isinstance(modes, dict):
                for payload in modes.values():
                    if isinstance(payload, dict) and "rows_per_s" in payload:
                        stream_compact[job] = round(payload["rows_per_s"])
                        break
        if not stream_compact:  # probe errored or shape changed
            stream_compact = {"note": str(streaming)[:120]}
    compact = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "runs",
            "sf",
            "baseline_total",
            "vs_baseline",
            "vs_baseline_per_query",
            "graph_edge_build",
            "shingle_build",
        )
        if k in out
    }
    compact["heavy_total"] = round(sum(heavy.values()), 3)
    compact["heavy_worst5"] = worst5
    compact["streaming_rows_s"] = stream_compact
    compact["full"] = "BENCH_FULL.json"
    line = json.dumps(compact)
    # hard guarantee the artifact window: drop payload in priority
    # order rather than ship an unparseable line — and if the
    # always-kept maps ever outgrow the window anyway (a larger
    # headline panel), fall back to a minimal parseable line instead
    # of crashing a bench whose measurements all succeeded
    for victim in (
        "vs_baseline_per_query",
        "streaming_rows_s",
        "heavy_worst5",
    ):
        if len(line) <= 1900:
            break
        compact.pop(victim, None)
        line = json.dumps(compact)
    if len(line) > 1900:
        line = json.dumps(
            {
                "metric": out["metric"],
                "value": out["value"],
                "unit": out["unit"],
                "sf": out["sf"],
                "vs_baseline": out.get("vs_baseline"),
                "full": "BENCH_FULL.json",
            }
        )
    print(line)


if __name__ == "__main__":
    main()
