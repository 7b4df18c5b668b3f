"""Engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {stream_join,batch_scaled,graph_dedup}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  It generates its inputs from ``--seed``
under ``.perfbench_work/``, starts the engine's session through
``get_spark()`` with the engine's defaults, runs the workload for
about ``--seconds``, checks every output against a DuckDB twin, and
prints the result.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones.  The lines before it name every metric with its unit, the box
record, and the per-workload detail.  Exit code is 0 only when every
output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "spark_streaming_join_example_spark")
sys.path.insert(0, ROOT)

from perfbench import box, trace, workloads  # noqa: E402

#: units of every metric a workload may print.
UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "error_rate": "frac",
}


#: per-layer metrics every workload measures; the workload-specific
#: ones (catalyst, fetch, stream, state, sink) are printed above the
#: result line only, because a layer a workload does not exercise has
#: no value to report there.
PER_LAYER = (
    "plans.build_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.skipped_stages",
    "exec.job_wall_s",
    "exec.driver_gap_s",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.task_skew",
    "sources.input_rows",
    "sources.input_mb",
    "sources.scan_tasks",
    "box.steal_pct",
    "box.peak_rss_mb",
)


#: unit by metric-name suffix, first match wins.
SUFFIX_UNITS = (
    ("rows_per_s", "rows/s"),
    ("_ms_p50", "ms"),
    ("_ms_p90", "ms"),
    ("_ms_max", "ms"),
    ("_ms", "ms"),
    ("_mb_end", "MB"),
    ("_mb", "MB"),
    (".mb", "MB"),
    ("_s", "s"),
    (".s", "s"),
    ("_frac", "frac"),
    ("_pct", "%"),
    ("task_skew", "ratio"),
)


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in SUFFIX_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


class Context:
    """Per-run state handed to a workload: the session, the seed and
    run length, a scratch directory inside the checkout, and the
    set-up clock."""

    def __init__(self, args, t_start: float) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = os.cpu_count() or 1
        self.t_start = t_start
        self.setup_s = None
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.work)
        self.event_log_dir = os.path.join(self.work, "eventlog")
        # scratch space (shuffle and block files, JVM and Python temp
        # files) stays inside the checkout with the rest of the run
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tmp
        submit = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        if self.trace:
            os.makedirs(self.event_log_dir)
            submit += " " + trace.event_log_args(self.event_log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
        from spark_streaming_join_example_spark import get_spark

        self.spark = get_spark("perfbench")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.stopped = False
        self.box = box.box_record(self.spark, self.seed)
        self.log("session started")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.log("set-up done")

    def stop_for_event_log(self) -> str:
        """Stop the session so the event log is complete; returns its
        directory."""
        self.stop()
        return self.event_log_dir

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if not self.stopped:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.stopped = True
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on end of input
            gateway.proc.wait(timeout=60)

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_join", "batch_scaled", "graph_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    cpu0 = box.cpu_times()
    ctx = Context(args, t_start)
    try:
        with box.PeakRss(ctx.jvm_pid) as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
        steal = box.steal_pct(cpu0, box.cpu_times())
        record = {**ctx.box, "steal_pct": round(steal, 3), "load_avg": [round(x, 2) for x in os.getloadavg()]}
    finally:
        ctx.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:  # another run still has its directory there
            pass
    ctx.log("session stopped")

    e2e = {"setup_s": ctx.setup_s, **res.e2e}
    layers = {**res.layers, "box.steal_pct": steal, "box.peak_rss_mb": rss.peak_mb}
    print(f"box {json.dumps(record, sort_keys=True)}")
    print(f"notes {json.dumps(res.notes, sort_keys=True)}")
    for m in res.mismatches:
        print(f"MISMATCH {m}")
    for name, v in {**e2e, "error_rate": res.failed / res.attempted}.items():
        print(f"{args.workload} {name} {v:.6g} {unit_of(name)}")
    for name, v in sorted(layers.items()):
        print(f"{args.workload} layer {name} {v:.6g} {unit_of(name)}")
    chosen = {k: layers[k] for k in PER_LAYER} if ctx.trace else e2e
    out = {
        "correct": not res.mismatches,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in chosen.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if not res.mismatches else 1


if __name__ == "__main__":
    sys.exit(main())
