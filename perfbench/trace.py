"""Per-layer numbers for the traced run (``--trace 1``).

Spans are recorded only here, around the benchmark's own calls into the
engine (registry builder, ``toArrow()``); everything below them comes
from outside the program:

- an uncompressed Spark event log (jobs, stages, task metrics), with
  each timed call in its own job group so jobs map back to calls;
- Catalyst phase times from ``queryExecution().tracker().phases()`` of
  the DataFrame a call returned.

Event-log times are JVM wall-clock milliseconds and spans are Python
``time.time()``; both read the same system clock.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

def event_log_args(log_dir: str) -> str:
    """spark-submit flags that turn the event log on; passed at JVM
    launch in traced runs only, so untraced runs keep the engine's
    session untouched."""
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{log_dir}"
    )


@dataclass
class Call:
    """One timed call: build span then fetch span, in epoch seconds."""

    group: str
    rdd_floor: int
    t0: float
    t_built: float
    t_end: float
    rows: int
    phases_ms: dict[str, float] = field(default_factory=dict)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the query a DataFrame ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


@dataclass
class EventLog:
    jobs: dict[int, dict]
    stages: dict[int, dict]
    tasks: list[dict]


def _log_files(log_dir: str) -> list[str]:
    """The event files of the one application log in ``log_dir``: a
    single file, or a rolling log directory of ``events_<n>_<app>``
    files read in index order."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one application log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in _log_files(log_dir):
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                for info in e.get("Stage Infos", ()):
                    rdds = [r["RDD ID"] for r in info.get("RDD Info", ())]
                    stages.setdefault(info["Stage ID"], {"tasks": []})["rdds"] = rdds
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000.0,
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "stage_ids": list(e["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stages.setdefault(sid, {"tasks": []}).setdefault("groups", set()).add(group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"tasks": []})
                st["start"] = info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                t = {
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sum(
                        (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                        for k in ("Remote Bytes Read", "Local Bytes Read")
                    ),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "dur_ms": info["Finish Time"] - info["Launch Time"],
                }
                tasks.append(t)
                stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append(t)
    return EventLog(jobs, stages, tasks)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(ivs: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in ivs if e > lo and s < hi]


def exec_layers(
    log: EventLog, jobs: list[dict], t_lo: float, t_hi: float, rdd_floor: dict[str, int] | None = None
) -> dict[str, float]:
    """Scheduler, execution and scan numbers for ``jobs``, which ran
    inside the window ``[t_lo, t_hi]``.

    A listed stage its job group never submitted was skipped: its
    output existed already.  With ``rdd_floor`` (job group → first RDD
    id of that call) only stages over RDDs made before the call count:
    inside one call, AQE's final job re-lists each materialized query
    stage under a new stage id, and checkpoints are read back the same
    way; output an earlier call made is the reused-plan trap."""
    stage_ids: set[int] = set()
    skipped = 0
    for j in jobs:
        listed = set(j["stage_ids"])
        ran = {s for s in listed if j["group"] in log.stages.get(s, {}).get("groups", ())}
        for s in listed - ran:
            rdds = log.stages.get(s, {}).get("rdds")
            if rdd_floor is None or not rdds or max(rdds) < rdd_floor[j["group"]]:
                skipped += 1
        stage_ids |= ran
    job_wall = _union(_clip([(j["start"], j["end"]) for j in jobs], t_lo, t_hi))
    stages = [log.stages[s] for s in stage_ids]
    tasks = [t for st in stages for t in st["tasks"]]
    return {
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(len(tasks)),
        "exec.skipped_stages": float(skipped),
        "exec.job_wall_s": job_wall,
        "exec.driver_gap_s": (t_hi - t_lo) - job_wall,
        "exec.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "exec.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 2**20,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "exec.task_skew": task_skew(stages),
        "sources.input_rows": float(sum(t["in_rows"] for t in tasks)),
        "sources.input_mb": sum(t["in_bytes"] for t in tasks) / 2**20,
        "sources.scan_tasks": float(sum(1 for t in tasks if t["in_rows"] > 0)),
    }


def jobs_in_window(log: EventLog, t_lo: float, t_hi: float) -> list[dict]:
    return [j for j in log.jobs.values() if t_lo <= j["start"] <= t_hi and "end" in j]


def batch_layers(log: EventLog, passes: list[list[Call]]) -> dict[str, float]:
    """Per-layer sums over a pass, median over the traced passes, for
    the closed batch workloads.  A call's wall time splits into
    disjoint parts: build self time, Catalyst phases, job wall time and
    fetch self time; ``trace.reconcile_frac`` is their sum over the
    pass wall time (the rest is the benchmark's own bookkeeping between
    calls).  ``exec.skipped_stages`` is the total over all passes."""
    per_pass = []
    for calls in passes:
        acc: dict[str, float] = {}
        pass_jobs = []
        for c in calls:
            jobs = [j for j in log.jobs.values() if j["group"] == c.group]
            pass_jobs += jobs
            ivs = [(j["start"], j["end"]) for j in jobs]
            in_build = _union(_clip(ivs, c.t0, c.t_built))
            in_fetch = _union(_clip(ivs, c.t_built, c.t_end))
            ana, opt, plan = (
                c.phases_ms.get(k, 0.0) / 1000.0 for k in ("analysis", "optimization", "planning")
            )
            for k, v in (
                ("plans.build_s", max(0.0, (c.t_built - c.t0) - in_build - ana)),
                ("catalyst.analysis_ms", ana * 1000.0),
                ("catalyst.optimization_ms", opt * 1000.0),
                ("catalyst.planning_ms", plan * 1000.0),
                ("fetch.s", max(0.0, (c.t_end - c.t_built) - in_fetch - opt - plan)),
                ("fetch.result_rows", float(c.rows)),
            ):
                acc[k] = acc.get(k, 0.0) + v
        t_lo, t_hi = calls[0].t0, calls[-1].t_end
        acc.update(exec_layers(log, pass_jobs, t_lo, t_hi, {c.group: c.rdd_floor for c in calls}))
        catalyst_s = sum(acc[f"catalyst.{p}_ms"] for p in ("analysis", "optimization", "planning")) / 1000.0
        acc["trace.reconcile_frac"] = (
            acc["plans.build_s"] + catalyst_s + acc["exec.job_wall_s"] + acc["fetch.s"]
        ) / (t_hi - t_lo)
        per_pass.append(acc)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["exec.skipped_stages"] = sum(p["exec.skipped_stages"] for p in per_pass)
    return out


def task_skew(stages: list[dict]) -> float:
    """Max over median task duration in the slowest stage."""
    timed = [s for s in stages if s.get("tasks") and "end" in s]
    if not timed:
        return 1.0
    slow = max(timed, key=lambda s: s["end"] - s["start"])
    durs = [t["dur_ms"] for t in slow["tasks"]]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0
