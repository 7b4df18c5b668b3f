"""bench.py artifact-contract tests (no Spark session needed).

The compact summary line must always parse and fit the 1900-character
window, even when its maps outgrow it, and a run writes exactly one
file: BENCH_FULL.json next to bench.py.
"""

from __future__ import annotations

import contextlib
import io
import json

import bench


def _emit_line(out: dict) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench._emit(dict(out))
    return buf.getvalue().strip().splitlines()[-1]


def test_emit_compact_line_fits_and_parses(tmp_path, monkeypatch):
    # keep the real BENCH_FULL.json out of harm's way: _emit writes
    # next to bench.__file__
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    base = {
        "metric": "warm_total_headline_queries",
        "value": 1.23,
        "unit": "sec",
        "queries": {f"q_{i}": 0.1 for i in range(8)},
        "runs": 5,
        "sf": 0.1,
        "heavy": {f"h_{i}": float(i) for i in range(20)},
        "streaming": None,
    }
    line = _emit_line(base)
    assert len(line) <= 1900
    assert json.loads(line)["value"] == 1.23
    # the run leaves exactly one file behind, the full payload
    assert sorted(p.name for p in tmp_path.iterdir()) == ["BENCH_FULL.json"]
    assert json.loads((tmp_path / "BENCH_FULL.json").read_text()) == base

    # adversarial payload: maps the priority-dropper never removes,
    # grown past the window — must FALL BACK, not assert
    big = dict(base)
    big["queries"] = {f"q_very_long_query_name_{i:04d}": 0.1234 for i in range(200)}
    line = _emit_line(big)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 1.23
    assert parsed["full"] == "BENCH_FULL.json"
