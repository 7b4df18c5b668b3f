#!/usr/bin/env python3
"""A/B two git refs of the engine on one perfbench workload.

    python3 tools/ab.py --workload W --a REF --b REF|. --seeds 9101-9110 [--trace 0|1]

Each ref is checked out with ``git worktree add --detach`` into a
temporary directory; ``.`` is this checkout as it stands, uncommitted
edits included.  For each seed both arms run

    python3 perfbench/run.py --workload W --seed S --seconds 5 --trace T

from their own checkout, A first on the 1st, 3rd, ... seed and B first
on the others, so neither arm always runs second on a warmer box.
Before the pairs, each arm runs the first seed once and the result is
discarded.  A run that exits non-zero or reports ``"correct": false``
stops the A/B.

Per metric it prints each arm's median, B/A, B's wins out of N pairs
(``better`` from BENCHMARK.json; ties count for neither), the
inter-quartile range of A's runs and the verdict against the metric's
``bound``:

- gain: B wins at least 9 of every 10 pairs over at least 10 pairs, and
  the medians differ by more than A's IQR;
- unresolved: A's IQR exceeds the bound (relative to A's median) and
  not every B run reads better than every A run;
- regression: B's median is worse than A's by more than the bound;
- within bound: otherwise.

Per-layer metrics (``--trace 1``) have no bound and get no verdict.
The steal range of each arm comes from perfbench's ``box`` line.  The
last stdout line is one JSON summary.  Worktrees are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.stats import percentile  # noqa: E402

ARMS = ("A", "B")


def parse_seeds(spec: str) -> list[int]:
    """``"9101-9110"`` or ``"5,7,9"`` (or a mix) to a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_order(i: int) -> tuple[str, str]:
    """Arms in the order they run for the ``i``-th seed (0-based)."""
    return ARMS if i % 2 == 0 else ARMS[::-1]


def parse_run(stdout: str, returncode: int, label: str) -> dict:
    """The result of one perfbench run: its metric values and the steal
    from its ``box`` line.  Raises ``RuntimeError`` on a failed or
    incorrect run."""
    lines = stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    if returncode != 0 or out.get("correct") is not True:
        raise RuntimeError(f"{label}: exit {returncode}, correct={out.get('correct')}")
    box = next(json.loads(ln[4:]) for ln in lines if ln.startswith("box "))
    return {"steal_pct": box["steal_pct"], "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def iqr(xs: list[float]) -> float:
    return percentile(xs, 75) - percentile(xs, 25)


def verdict(a: list[float], b: list[float], wins: int, better: str, bound: float) -> str:
    """The simplicity-review verdict for one metric (see module docstring)."""
    sign = 1.0 if better == "lower" else -1.0
    ma, mb = statistics.median(a), statistics.median(b)
    spread = iqr(a)
    if len(a) >= 10 and wins >= 0.9 * len(a) and sign * (ma - mb) > spread:
        return "gain"
    if spread > bound * abs(ma) and not all(sign * (y - x) < 0 for x in a for y in b):
        return "unresolved"
    if sign * (mb - ma) > bound * abs(ma):
        return "regression"
    return "within bound"


def summarize(pairs: list[dict], spec: dict) -> dict:
    """Per-metric summary of ``pairs`` (one ``{"A": run, "B": run}`` per
    seed, as ``parse_run`` returns them) against ``spec``, BENCHMARK.json's
    ``{name: {"better", "bound"?}}``."""
    metrics = {}
    for name in pairs[0]["A"]["metrics"]:
        a = [p["A"]["metrics"][name] for p in pairs]
        b = [p["B"]["metrics"][name] for p in pairs]
        m = spec.get(name, {})
        better = m.get("better", "lower")
        sign = 1.0 if better == "lower" else -1.0
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
        ma, mb = statistics.median(a), statistics.median(b)
        metrics[name] = {
            "a": ma,
            "b": mb,
            "ratio": round(mb / ma, 4) if ma else None,
            "wins": wins,
            "n": len(pairs),
            "a_iqr": iqr(a),
            "verdict": verdict(a, b, wins, better, m["bound"]) if "bound" in m else None,
        }
    steal = {arm: [min(p[arm]["steal_pct"] for p in pairs), max(p[arm]["steal_pct"] for p in pairs)] for arm in ARMS}
    return {"metrics": metrics, "steal_pct": steal}


def metric_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def git(*args: str) -> str:
    return subprocess.run(["git", "-C", REPO, *args], check=True, capture_output=True, text=True).stdout


def run_arm(checkout: str, label: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "5", "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
    return parse_run(r.stdout, r.returncode, f"{label} seed {seed}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_join", "batch_scaled", "graph_dedup"))
    ap.add_argument("--a", required=True, help="git ref of arm A, or . for this checkout")
    ap.add_argument("--b", required=True, help="git ref of arm B, or . for this checkout")
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 9101-9110 or 5,7,9")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    refs = {"A": args.a, "B": args.b}
    try:
        pairs = run_pairs(args, refs)
    except RuntimeError as e:
        print(f"ab: {e}", file=sys.stderr)
        return 1
    s = summarize(pairs, metric_spec())
    print(f"{'metric':24} {'A median':>12} {'B median':>12} {'B/A':>7} {'wins':>6} {'A IQR':>10}  verdict")
    for name, m in s["metrics"].items():
        ratio = f"{m['ratio']:.3f}" if m["ratio"] is not None else "-"
        print(f"{name:24} {m['a']:12.6g} {m['b']:12.6g} {ratio:>7} {m['wins']:>3}/{m['n']:<2} {m['a_iqr']:10.4g}  {m['verdict'] or '-'}")
    print(f"steal % A {s['steal_pct']['A']}  B {s['steal_pct']['B']}")
    print(json.dumps({"workload": args.workload, "a": args.a, "b": args.b, "seeds": args.seeds, "trace": args.trace, **s}))
    return 0


def run_pairs(args: argparse.Namespace, refs: dict[str, str]) -> list[dict]:
    """Check out both arms and run every seed in both, order alternated."""
    tmp = tempfile.mkdtemp(prefix="ab-")
    trees: list[str] = []
    try:
        checkout = {}
        for arm, ref in refs.items():
            if ref == ".":
                checkout[arm] = REPO
            else:
                path = os.path.join(tmp, arm)
                git("worktree", "add", "--detach", path, ref)
                trees.append(path)
                checkout[arm] = path
        # one discarded run per arm first: the first run after a
        # worktree is made read slowest, and without this it is always A's
        for arm in ARMS:
            run_arm(checkout[arm], f"{arm} ({refs[arm]}) warm-up", args.workload, args.seeds[0], args.trace)
        pairs = []
        for i, seed in enumerate(args.seeds):
            pair = {}
            for arm in run_order(i):
                pair[arm] = run_arm(checkout[arm], f"{arm} ({refs[arm]})", args.workload, seed, args.trace)
                print(f"seed {seed} {arm}: steal {pair[arm]['steal_pct']}% {json.dumps(pair[arm]['metrics'])}", flush=True)
            pairs.append(pair)
    finally:
        for path in trees:
            subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", path], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        git("worktree", "prune")
    return pairs


if __name__ == "__main__":
    sys.exit(main())
