"""tools/ab.py's pure parts: seed order, run parsing and the per-metric
summary and verdict (no Spark session, no subprocess)."""

from __future__ import annotations

import json

import pytest

from perfbench.stats import percentile
from tools import ab

SPEC = {
    "latency_p50_ms": {"better": "lower", "bound": 0.25},
    "rows_per_s": {"better": "higher", "bound": 0.25},
    "exec.jobs": {"better": "lower"},
}


def _run(steal=1.0, **metrics):
    return {"steal_pct": steal, "metrics": metrics}


def _pairs(a, b, name="latency_p50_ms"):
    return [{"A": _run(**{name: x}), "B": _run(**{name: y})} for x, y in zip(a, b)]


def _stdout(correct=True, steal=0.5):
    box = {"nproc": 4, "steal_pct": steal}
    out = {"correct": correct, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 30.0, "unit": "s"}}}
    return f"box {json.dumps(box)}\nnotes {{}}\n{json.dumps(out)}\n"


def test_seeds_and_order_alternate_per_seed():
    assert ab.parse_seeds("9101-9104") == [9101, 9102, 9103, 9104]
    assert ab.parse_seeds("5,7-8") == [5, 7, 8]
    assert [ab.run_order(i) for i in range(4)] == [("A", "B"), ("B", "A")] * 2


def test_parse_run_reads_metrics_and_steal():
    assert ab.parse_run(_stdout(steal=2.5), 0, "A") == _run(2.5, setup_s=30.0)


@pytest.mark.parametrize("stdout, rc", [(_stdout(correct=False), 1), (_stdout(correct=False), 0), (_stdout(), 1), ("", 1)])
def test_parse_run_refuses_failed_or_incorrect_runs(stdout, rc):
    with pytest.raises(RuntimeError, match="seed 7"):
        ab.parse_run(stdout, rc, "B seed 7")


def test_ratio_wins_and_iqr_honour_better():
    a = [100.0, 110.0, 120.0, 130.0]
    b = [90.0, 115.0, 100.0, 120.0]
    pairs = [
        {"A": _run(latency_p50_ms=x, rows_per_s=x), "B": _run(latency_p50_ms=y, rows_per_s=y)}
        for x, y in zip(a, b)
    ]
    s = ab.summarize(pairs, SPEC)["metrics"]
    lat, rps = s["latency_p50_ms"], s["rows_per_s"]
    assert lat["a"] == 115.0 and lat["b"] == 107.5
    assert lat["ratio"] == pytest.approx(107.5 / 115.0, abs=1e-4)
    assert lat["wins"] == 3 and lat["n"] == 4  # lower is better
    assert rps["wins"] == 1  # higher is better: only 115 > 110
    assert lat["a_iqr"] == percentile(a, 75) - percentile(a, 25) == 20.0


def test_ties_count_for_neither_arm():
    s = ab.summarize(_pairs([5.0, 5.0], [5.0, 4.0]), SPEC)["metrics"]["latency_p50_ms"]
    assert s["wins"] == 1


def test_steal_range_per_arm():
    pairs = [{"A": _run(0.2, x=1.0), "B": _run(3.0, x=1.0)}, {"A": _run(1.5, x=1.0), "B": _run(0.1, x=1.0)}]
    assert ab.summarize(pairs, SPEC)["steal_pct"] == {"A": [0.2, 1.5], "B": [0.1, 3.0]}


def _verdict(a, b, name="latency_p50_ms"):
    return ab.summarize(_pairs(a, b, name), SPEC)["metrics"][name]["verdict"]


def test_verdict_gain_needs_ten_pairs_nine_wins_and_a_gap_beyond_the_iqr():
    a = [100.0 + i for i in range(10)]
    assert _verdict(a, [x - 20 for x in a]) == "gain"
    # nine pairs: never a gain, however clear
    assert _verdict(a[:9], [x - 20 for x in a[:9]]) == "within bound"
    # 8 of 10 wins
    assert _verdict(a, [x - 20 for x in a[:8]] + [x + 1 for x in a[8:]]) == "within bound"
    # 10/10 wins but the medians are closer than A's IQR (5)
    assert _verdict(a, [x - 1 for x in a]) == "within bound"
    # higher is better: the gain goes the other way
    assert _verdict(a, [x + 20 for x in a], "rows_per_s") == "gain"


def test_verdict_regression_beyond_the_bound():
    a = [100.0, 101.0, 102.0]
    assert _verdict(a, [130.0, 131.0, 132.0]) == "regression"
    assert _verdict(a, [120.0, 121.0, 122.0]) == "within bound"
    assert _verdict(a, [70.0, 71.0, 72.0], "rows_per_s") == "regression"


def test_verdict_unresolved_when_a_spread_exceeds_the_bound():
    a = [60.0, 100.0, 140.0, 100.0]  # IQR 40 > 0.25 × median 100
    assert _verdict(a, [100.0, 105.0, 110.0, 95.0]) == "unresolved"
    assert _verdict(a, [200.0, 210.0, 220.0, 200.0]) == "unresolved"
    # unless every B run reads better than every A run
    assert _verdict(a, [50.0, 40.0, 45.0, 55.0]) == "within bound"


def test_per_layer_metrics_get_no_verdict():
    s = ab.summarize(_pairs([10.0], [12.0], "exec.jobs"), SPEC)["metrics"]["exec.jobs"]
    assert s["verdict"] is None and s["ratio"] == 1.2
