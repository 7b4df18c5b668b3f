"""bench.py artifact-contract tests (no Spark session needed).

The r8 lesson: BENCH_r07.json's compact line was head-truncated inside
the driver's ~2000-char tail window, bench.py silently skipped it, and
r8's drift quietly compared to r6.  These pin the fixes: artifacts
that yield no total are NAMED, never silently lost, and the compact
emitter can never crash a bench whose measurements succeeded.
"""

from __future__ import annotations

import contextlib
import io
import json
import pathlib
import shutil

import pytest

import bench

REPO = pathlib.Path(bench.__file__).parent
FIXTURES = REPO / "tests" / "data" / "bench_artifacts"


@pytest.fixture
def artifact_sandbox(tmp_path, monkeypatch):
    """A repo-shaped sandbox holding ONLY the fixture artifacts, so the
    rolling _recorded_totals window never depends on how many rounds
    the driver has run (the r10 lesson: asserting a live artifact name
    inside the max_n=3 window aged out the moment BENCH_r10.json
    landed and slid the window)."""
    for p in FIXTURES.glob("BENCH_r*.json"):
        shutil.copy(p, tmp_path / p.name)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    return tmp_path


def test_recovers_plain_and_truncated_artifacts(artifact_sandbox):
    recovered, skipped = bench._recorded_totals()
    # the newest fixture (plain bench.py format) recovers directly
    assert recovered == [("BENCH_r99.json", 0.42)]
    # an unrecoverable artifact is NAMED, never silently lost (r8
    # compared itself to r6 because r7 was dropped traceless)
    assert skipped == ["BENCH_r98.json"]


def test_live_artifacts_all_recoverable():
    """Every committed driver artifact but r7's head-truncated one
    yields a total, and r7's is named in ``skipped`` — with the window
    sized to the artifact count, so this can never age out as rounds
    accumulate."""
    arts = sorted(REPO.glob("BENCH_r*.json"))
    recovered, skipped = bench._recorded_totals(max_n=len(arts))
    assert skipped == ["BENCH_r07.json"]
    assert len(recovered) == len(arts) - 1
    assert recovered[0][0] == arts[-1].name


def test_total_from_artifact_handles_garbage(tmp_path):
    p = tmp_path / "BENCH_rXX.json"
    p.write_text("not json at all")
    assert bench._total_from_artifact(str(p)) is None
    p.write_text(json.dumps({"tail": "progress noise only"}))
    assert bench._total_from_artifact(str(p)) is None
    p.write_text(json.dumps({"value": "n/a"}))
    assert bench._total_from_artifact(str(p)) is None


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

    # adversarial payload: maps the priority-dropper never removes,
    # grown past the window — must FALL BACK, not assert (r9 ADVICE)
    big = dict(base)
    big["queries"] = {f"q_very_long_query_name_{i:04d}": 0.1234 for i in range(200)}
    line = _emit_line(big)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 1.23
    assert parsed["full"] == "BENCH_FULL.json"


def test_heavy_total_comparable_tracks_tier_changes(tmp_path, monkeypatch):
    """heavy_total is not cross-round comparable when the heavy tier
    changes mid-round (r10: q_simhash_shingle_pairs).  The ledger-backed
    heavy_total_comparable excludes names the PREV artifact cannot
    contain, names them under heavy_new, and reports removals under
    heavy_dropped — so the next drift read needs no manual subtraction."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    # round N: a, b existed before BENCH_r01.json; fresh ledger means
    # both look first-seen at the current prev — i.e. new
    comp = bench._heavy_comparability(
        {"a": 1.0, "b": 2.0}, "BENCH_r01.json", str(tmp_path)
    )
    assert comp["heavy_total_comparable"] == 0.0
    assert comp["heavy_new"] == ["a", "b"]

    # driver records BENCH_r02.json; a and b's first-seen artifact
    # (r01) now differs from prev (r02) → comparable; c lands mid-round
    comp = bench._heavy_comparability(
        {"a": 1.0, "b": 2.0, "c": 4.0}, "BENCH_r02.json", str(tmp_path)
    )
    assert comp["heavy_total_comparable"] == 3.0
    assert comp["heavy_new"] == ["c"]
    assert "heavy_dropped" not in comp

    # a second run inside the SAME round keeps c excluded (its
    # first-seen artifact is still the current prev)
    comp = bench._heavy_comparability(
        {"a": 1.0, "b": 2.0, "c": 4.0}, "BENCH_r02.json", str(tmp_path)
    )
    assert comp["heavy_total_comparable"] == 3.0

    # next round: c becomes comparable; dropping b is REPORTED (prev's
    # total contained it) and trimmed from the ledger
    comp = bench._heavy_comparability(
        {"a": 1.0, "c": 4.0}, "BENCH_r03.json", str(tmp_path)
    )
    assert comp["heavy_total_comparable"] == 5.0
    assert "heavy_new" not in comp
    assert comp["heavy_dropped"] == ["b"]

    # re-adding b after the trim treats it as new again
    comp = bench._heavy_comparability(
        {"a": 1.0, "b": 2.0, "c": 4.0}, "BENCH_r03.json", str(tmp_path)
    )
    assert comp["heavy_new"] == ["b"]
    assert comp["heavy_total_comparable"] == 5.0

    ledger = json.loads((tmp_path / "BENCH_HEAVY_NAMES.json").read_text())
    assert set(ledger) == {"a", "b", "c"}


def test_emit_carries_comparability_into_compact_line(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    (tmp_path / "BENCH_HEAVY_NAMES.json").write_text(
        json.dumps({"h_old": "BENCH_r01.json", "h_new": "BENCH_r02.json"})
    )
    line = _emit_line(
        {
            "metric": "warm_total_headline_queries",
            "value": 1.0,
            "unit": "sec",
            "sf": 0.1,
            "queries": {"q": 1.0},
            "runs": 1,
            "heavy": {"h_old": 2.0, "h_new": 3.0},
            "prev_artifact": "BENCH_r02.json",
        }
    )
    parsed = json.loads(line)
    assert parsed["heavy_total"] == 5.0
    assert parsed["heavy_total_comparable"] == 2.0
    assert parsed["heavy_new"] == ["h_new"]
