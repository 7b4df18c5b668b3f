"""The benchmark's three workloads.

``batch_scaled`` and ``graph_dedup`` are closed loops with one client:
passes over six registry queries, each call building a fresh plan from
``queries_dict()`` and fetching it with ``toArrow()``, with
``spark.catalog.clearCache()`` between calls.  Re-fetching one
DataFrame reuses its shuffle stages and times only the last stage
(q_pricing_summary at sf0.1: 0.06 s reused against 0.81 s fresh), so
no DataFrame is ever fetched twice.

``stream_join`` is an open loop: a generator thread publishes seeded
event chunks, by atomic rename, into the directory a file stream
watches, on a fixed schedule that does not slow when the engine does.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import check, gen, stats, trace

BATCH_QUERIES = (
    "q_pricing_summary",
    "q_revenue_join3",
    "q_window_rank",
    "q_stream_static_join",
    "q_events_tumbling",
    "q_distinct_users",
)
#: q_kcore is left out to keep a run inside the time budget: its peel
#: loop runs on the same co-purchase graph build as q_pagerank.
GRAPH_QUERIES = (
    "q_dup_clusters",
    "q_pagerank",
    "q_collab_filter",
    "q_rfm_segments",
    "q_cross_doc_ngram_dup",
)
#: tables each query scans, for the rows a pass reads.
QUERY_TABLES = {
    "q_pricing_summary": ("lineitem",),
    "q_revenue_join3": ("customer", "orders", "lineitem"),
    "q_window_rank": ("orders",),
    "q_stream_static_join": ("events", "customer"),
    "q_events_tumbling": ("events",),
    "q_distinct_users": ("events",),
    "q_dup_clusters": ("documents",),
    "q_pagerank": ("lineitem",),
    "q_collab_filter": ("lineitem",),
    "q_rfm_segments": ("events",),
    "q_cross_doc_ngram_dup": ("documents",),
}

#: batch_scaled: the sf0.1-sized base, replicated K times.
BATCH_SCALE, BATCH_K = 1.0, 2
#: untimed passes before timing.  Scan-heavy passes keep speeding up
#: for two passes as the JIT compiles the scan and aggregation loops
#: (measured: the first timed pass after one warm-up ran 25-40% slower
#: than the third); the driver-bound graph pass does not.
BATCH_WARM_PASSES, GRAPH_WARM_PASSES = 2, 1
#: graph_dedup: the sf0.005-sized base.  The loops' job counts, not
#: the data, set its time, and its oracles (recursive-CTE closure and
#: peel in DuckDB) grow much faster than the Spark side: at sf0.1 they
#: alone take about a minute.
GRAPH_SCALE = 0.05

#: stream_join schedule.  Each chunk carries one minute of event time.
CHUNK_ROWS = 125
CHUNKS_PER_S = 20.0
MIN_CHUNKS = 100
WARM_CHUNKS = 8
EVENT_STEP_US = 60_000_000
LATE_FRAC = 0.05
LATE_MAX_US = 20 * 60_000_000  # inside the join's 1-hour watermark
ZIPF_A = 1.2
STREAM_USERS = 15_000  # the customer table's keys
UNKNOWN_FRAC = 0.05  # events whose user is not a customer
LATENCY_LIMIT_S = 30.0


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    mismatches: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# closed loops: batch_scaled, graph_dedup
# ---------------------------------------------------------------------------


def _timed_call(spark, fn, data_dir: str, group: str | None):
    """Build a fresh plan and fetch it; returns (table, Call span)."""
    rdd_floor = -1
    if group is not None:
        spark.sparkContext.setJobGroup(group, group)
        # RDD ids only grow: every RDD this call makes gets a larger id
        rdd_floor = spark.sparkContext._jsc.sc().newRddId()
    t0 = time.time()
    df = fn(spark, data_dir)
    t_built = time.time()
    table = df.toArrow()
    t_end = time.time()
    call = trace.Call(group or "", rdd_floor, t0, t_built, t_end, table.num_rows)
    if group is not None:
        call.phases_ms = trace.catalyst_phases(df)
        # the group is a thread-local property: clear it, or the next
        # plain pass's jobs would carry it
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return table, call


def closed_loop(ctx, queries: tuple[str, ...], tables: dict, warm_passes: int) -> Result:
    from spark_streaming_join_example_spark.plans.registry import (
        oracle_sql_dict,
        queries_dict,
    )

    spark = ctx.spark
    qd = queries_dict()
    data_dir = ctx.path("data")
    gen.write_tables(tables, data_dir, ctx.seed, 2 * ctx.nproc)
    ctx.log("inputs written")
    # the untimed warm-up passes run on the measured inputs: a pass on
    # smaller inputs leaves the JIT cold for the large scans
    warm_s = []
    for _ in range(warm_passes):
        t = time.time()
        for name in queries:
            _timed_call(spark, qd[name], data_dir, None)
            spark.catalog.clearCache()
        warm_s.append(round(time.time() - t, 3))
    ctx.setup_done()

    passes: list[float] = []
    traced: list[list[trace.Call]] = []
    untraced: list[float] = []
    outputs: list[tuple[str, object]] = []
    call_s: dict[str, list[float]] = {name: [] for name in queries}
    mismatches: list[str] = []
    failed = 0
    t_start = time.time()
    i = 0
    while time.time() - t_start < ctx.seconds or (ctx.trace and len(traced) < 2):
        # traced runs alternate plain and traced passes, two of each at
        # least, so the tracing cost is measured inside one session
        tracing = ctx.trace and i % 2 == 1
        calls = []
        p0 = time.time()
        for name in queries:
            group = f"{name}#{i}" if tracing else None
            try:
                table, call = _timed_call(spark, qd[name], data_dir, group)
                outputs.append((name, table))
                calls.append(call)
                call_s[name].append(call.t_end - call.t0)
            except Exception as e:  # a failing query is a failed operation
                failed += 1
                mismatches.append(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
            spark.catalog.clearCache()
        wall = time.time() - p0
        passes.append(wall)
        if tracing:
            traced.append(calls)
        else:
            untraced.append(wall)
        i += 1

    ctx.log(f"{len(passes)} passes done")
    # every output is checked against its DuckDB twin, outside the
    # timed region
    con = check.duckdb_over(data_dir, tuple(tables))
    oracle_sql = oracle_sql_dict()
    want = {name: check.oracle(con, oracle_sql[name]) for name in queries}
    for name, table in outputs:
        why = check.mismatch(table, want[name])
        if why:
            failed += 1
            mismatches.append(f"{name}: {why}")

    ctx.log("outputs checked")
    rows_per_pass = sum(tables[t].num_rows for q in queries for t in QUERY_TABLES[q])
    ms = [p * 1000.0 for p in passes]
    tail = stats.tail_percentile(ms)
    e2e = {
        "latency_p50_ms": statistics.median(ms),
        "latency_tail_ms": tail[1] if tail else max(ms),
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        layers = trace.batch_layers(trace.read_event_log(ctx.stop_for_event_log()), traced)
        layers["trace.overhead_frac"] = statistics.median(
            c[-1].t_end - c[0].t0 for c in traced
        ) / statistics.median(untraced)
        if layers["exec.skipped_stages"]:
            failed += 1
            mismatches.append(f"{layers['exec.skipped_stages']:.0f} skipped stages: a plan was reused")
    notes = {
        "passes": len(passes),
        "pass_s": [round(p, 4) for p in passes],
        "call_s": {k: round(statistics.median(v), 4) for k, v in call_s.items() if v},
        "rows_per_pass": rows_per_pass,
        "rows_per_s": round(rows_per_pass / statistics.median(passes), 1),
        "warm_s": warm_s,
        "tail_percentile": tail[0] if tail else "max",
    }
    return Result(e2e, layers, len(queries) * len(passes), failed, mismatches, notes)


def batch_scaled(ctx) -> Result:
    used = ("customer", "orders", "lineitem", "events")
    tables = gen.replicate(gen.base_tables(BATCH_SCALE, used), BATCH_K, ctx.seed)
    return closed_loop(ctx, BATCH_QUERIES, tables, BATCH_WARM_PASSES)


def graph_dedup(ctx) -> Result:
    used = ("lineitem", "events", "documents")
    return closed_loop(ctx, GRAPH_QUERIES, gen.base_tables(GRAPH_SCALE, used), GRAPH_WARM_PASSES)


# ---------------------------------------------------------------------------
# open loop: stream_join
# ---------------------------------------------------------------------------


def _start_stream(spark, data_dir: str, watch: str, sink: str, ckpt: str):
    """Click events enriched with ``customer`` (stream-static broadcast
    join), joined to purchases within 30 minutes (stream-stream join),
    written to parquet with a checkpoint, default trigger."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.schemas import EVENTS
    from spark_streaming_join_example_spark.sources import sinks
    from spark_streaming_join_example_spark.streaming import jobs

    events = spark.readStream.schema(EVENTS).parquet(watch)
    enriched = jobs.enrich_stream(events, load_table(spark, data_dir, "customer"))
    joined = jobs.stream_stream_join(
        enriched.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    return sinks.to_parquet(joined, sink, ckpt, available_now=False)


def _progress(query, seen: dict[int, dict]) -> None:
    """Merge the query's recent progress into ``seen`` (batch id →
    record), keeping only batches that executed."""
    for p in query.recentProgress:
        rec = json.loads(p.json)
        if "addBatch" in rec.get("durationMs", {}):
            seen[rec["batchId"]] = rec


def _drain(query, seen: dict[int, dict], ckpt: str, names: list[str], deadline: float) -> None:
    """Poll progress until the batches that read ``names`` committed."""
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        _progress(query, seen)
        try:
            offsets = stats.read_file_source_log(ckpt)
        except FileNotFoundError:
            offsets = {}
        read = stats.file_batches(offsets, list(seen.values()))
        if all(n in read for n in names):
            return
        time.sleep(0.25)
    raise TimeoutError(f"stream did not commit {len(names)} chunks in time")


def _await_idle(query, deadline: float) -> None:
    """Wait until no trigger is running, so the open loop starts from
    the same phase every run (a watermark-only batch may follow the
    warm-up)."""
    idle = 0
    while idle < 3:
        if time.time() > deadline:
            raise TimeoutError("stream did not go idle after warm-up")
        idle = 0 if query.status["isTriggerActive"] else idle + 1
        time.sleep(0.1)


def _write_chunks(chunks, stage: str, first: int) -> list[str]:
    os.makedirs(stage, exist_ok=True)
    paths = []
    for i, t in enumerate(chunks, start=first):
        p = os.path.join(stage, f"chunk-{i:05d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def stream_layers(recs: list[dict], rows_per_batch: list[float], busy_s: float, wall_s: float) -> dict[str, float]:
    def dur(k: str) -> list[float]:
        return [r["durationMs"].get(k, 0.0) for r in recs]

    def state(k: str) -> list[float]:
        return [sum(op.get(k, 0) for op in r.get("stateOperators", [])) for r in recs]

    last = recs[-1]
    return {
        "stream.batches": float(len(recs)),
        "stream.rows_per_batch_p50": _p50(rows_per_batch),
        "stream.trigger_ms_p50": _p50(dur("triggerExecution")),
        "stream.trigger_ms_p90": stats.percentile(dur("triggerExecution"), 90),
        "stream.add_batch_ms_p50": _p50(dur("addBatch")),
        "stream.wal_commit_ms_p50": _p50(dur("walCommit")),
        "stream.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "stream.query_planning_ms_p50": _p50(dur("queryPlanning")),
        "stream.busy_frac": busy_s / wall_s,
        "sources.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "sources.get_batch_ms_p50": _p50(dur("getBatch")),
        "state.commit_ms_p50": _p50(state("commitTimeMs")),
        "state.update_ms_p50": _p50(state("allUpdatesTimeMs")),
        "state.removal_ms_p50": _p50(state("allRemovalsTimeMs")),
        "state.rows_total_end": float(sum(op.get("numRowsTotal", 0) for op in last.get("stateOperators", []))),
        "state.memory_mb_end": sum(op.get("memoryUsedBytes", 0) for op in last.get("stateOperators", [])) / 2**20,
        "state.rows_dropped_by_watermark": float(sum(state("numRowsDroppedByWatermark"))),
    }


STREAM_TWIN = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value
FROM ev c
JOIN customer cu ON c.user_id = cu.c_custkey
JOIN ev p ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def stream_join(ctx) -> Result:
    spark = ctx.spark
    data_dir = ctx.path("data")
    gen.write_tables(gen.base_tables(BATCH_SCALE, ("customer",)), data_dir, ctx.seed, 2 * ctx.nproc)
    n_chunks = max(MIN_CHUNKS, math.ceil(ctx.seconds * CHUNKS_PER_S))
    chunks = gen.event_chunks(
        ctx.seed, WARM_CHUNKS + n_chunks, CHUNK_ROWS, STREAM_USERS, UNKNOWN_FRAC,
        EVENT_STEP_US, LATE_FRAC, LATE_MAX_US, ZIPF_A,
    )
    warm_paths = _write_chunks(chunks[:WARM_CHUNKS], ctx.path("stage"), 0)
    paths = _write_chunks(chunks[WARM_CHUNKS:], ctx.path("stage"), WARM_CHUNKS)
    watch, sink, ckpt = ctx.path("watch"), ctx.path("sink"), ctx.path("ckpt")
    os.makedirs(watch)

    t_build = time.time()
    q = _start_stream(spark, data_dir, watch, sink, ckpt)
    build_s = time.time() - t_build
    due: dict[str, float] = {}
    published: dict[str, float] = {}
    seen: dict[int, dict] = {}

    def publish() -> None:
        for i, p in enumerate(paths):
            name = os.path.basename(p)
            due[name] = t0 + i / CHUNKS_PER_S
            time.sleep(max(0.0, due[name] - time.time()))
            os.rename(p, os.path.join(watch, name))
            published[name] = time.time()

    gen_thread = threading.Thread(target=publish, name="chunk-generator", daemon=True)
    try:
        # warm-up: the first batches of the same query read a burst of
        # chunks published at once; they are not timed
        warm_names = [os.path.basename(p) for p in warm_paths]
        for p in warm_paths:
            os.rename(p, os.path.join(watch, os.path.basename(p)))
        _drain(q, seen, ckpt, warm_names, time.time() + 120)
        _await_idle(q, time.time() + 60)
        _progress(q, seen)
        warm_batches = set(seen)
        ctx.setup_done()
        t0 = time.time() + 0.5
        gen_thread.start()
        while gen_thread.is_alive():
            _progress(q, seen)
            time.sleep(0.5)
        _drain(q, seen, ckpt, list(due), time.time() + 60 + LATENCY_LIMIT_S)
    finally:
        if gen_thread.is_alive():
            gen_thread.join(timeout=60)
        q.stop()
    t_end = time.time()
    ctx.log("stream drained")

    recs = [seen[b] for b in sorted(seen) if b not in warm_batches]
    commits = stats.batch_commit_times(recs)
    file_batch = stats.file_batches(stats.read_file_source_log(ckpt), list(seen.values()))
    attributed = stats.attribute_chunks(due, file_batch, commits)
    lat = [ms for _, ms in attributed.values()]
    failed = sum(1 for ms in lat if ms > LATENCY_LIMIT_S * 1000.0)
    # the source feeds both join sides, so numInputRows counts each row
    # twice; rows per batch come from the chunk attribution instead
    reading = Counter(b for b, _ in attributed.values())
    busy_s = sum(r["durationMs"]["triggerExecution"] for r in recs if r["batchId"] in reading) / 1000.0
    rows = n_chunks * CHUNK_ROWS

    # the sink must hold exactly the batch twin over all published
    # events: a multiset difference both ways, computed in DuckDB
    con = check.duckdb_over(data_dir, ("customer",))
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{watch}/*.parquet')")
    con.execute(f"CREATE VIEW want AS {STREAM_TWIN}")
    con.execute(
        "CREATE VIEW got AS SELECT click_id, purchase_id, user_id, "
        "CAST(c_ts AS TIMESTAMP) AS c_ts, CAST(p_ts AS TIMESTAMP) AS p_ts, p_value "
        f"FROM read_parquet('{sink}/*.parquet')"
    )
    sink_rows, missing, extra = con.execute(
        "SELECT (SELECT COUNT(*) FROM got), "
        "(SELECT COUNT(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)), "
        "(SELECT COUNT(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
    ).fetchone()
    mismatches = []
    if missing or extra:
        failed = len(lat)
        mismatches.append(f"stream sink: {missing} twin rows missing, {extra} extra")

    tail = stats.tail_percentile(lat)
    e2e = {
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail[1],
    }
    layers = stream_layers(recs, [n * CHUNK_ROWS for n in reading.values()], busy_s, t_end - t0)
    layers["stream.capacity_rows_per_s"] = rows / busy_s
    layers["stream.backlog_chunks_max"] = float(stats.backlog_max(published, attributed, commits))
    layers["gen.lag_ms_max"] = max(published[n] - due[n] for n in due) * 1000.0
    sink_files = glob.glob(os.path.join(sink, "*.parquet"))
    layers["sink.files"] = float(len(sink_files))
    layers["sink.mb"] = sum(os.path.getsize(f) for f in sink_files) / 2**20
    layers["plans.build_s"] = build_s
    if ctx.trace:
        log = trace.read_event_log(ctx.stop_for_event_log())
        layers.update(trace.exec_layers(log, trace.jobs_in_window(log, t0, t_end), t0, t_end))
    notes = {
        "chunks": n_chunks,
        "chunk_rows": CHUNK_ROWS,
        "chunks_per_s": CHUNKS_PER_S,
        "tail_percentile": tail[0],
        "sink_rows": sink_rows,
    }
    return Result(e2e, layers, len(lat), failed, mismatches, notes)


WORKLOADS = {
    "stream_join": stream_join,
    "batch_scaled": batch_scaled,
    "graph_dedup": graph_dedup,
}
