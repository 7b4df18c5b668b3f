"""Tests for the benchmark's own logic; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, stats, trace


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict[str, str]:
    tables = gen.replicate(gen.base_tables(0.01, ("customer", "orders", "lineitem", "events")), 2, seed)
    tables["documents"] = gen.base_tables(0.01, ("documents",))["documents"]
    gen.write_tables(tables, os.path.join(root, "tables"), seed, 3)
    for i, t in enumerate(gen.event_chunks(seed, 3, 50, 100, 0.05, 60_000_000, 0.1, 600_000_000, 1.2)):
        os.makedirs(os.path.join(root, "chunks"), exist_ok=True)
        pq.write_table(t, os.path.join(root, "chunks", f"{i}.parquet"))
    return _digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert a and a == b


def test_different_seed_gives_different_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 8)
    assert a != b


def test_seed_moves_layout_not_content():
    """The replica's key shifts change with the seed, its multiset of
    per-replica rows does not (so the work per pass stays put)."""
    base = gen.base_tables(0.01, ("customer", "orders", "lineitem", "events"))
    a = gen.replicate(base, 3, 1)["lineitem"]
    b = gen.replicate(base, 3, 2)["lineitem"]
    assert a.num_rows == b.num_rows == 3 * base["lineitem"].num_rows
    assert sorted(a["l_partkey"].to_pylist()) == sorted(b["l_partkey"].to_pylist())
    assert a["l_orderkey"].to_pylist() != b["l_orderkey"].to_pylist()


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_has_ten_samples_beyond(n, want):
    samples = [float(i) for i in range(n)]
    got = stats.tail_percentile(samples)
    if want is None:
        assert got is None
        return
    p, v = got
    assert p == want
    assert sum(1 for x in samples if x > v) >= 10


def test_tail_percentile_counts_ties_as_not_beyond():
    assert stats.tail_percentile([1.0] * 91 + [2.0] * 9) is None
    assert stats.tail_percentile([1.0] * 95 + [2.0] * 10) == (90.0, 1.0)


def _write_log(d, name: str, entries: list[tuple[str, int]]) -> None:
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n")
        for path, off in entries:
            f.write(json.dumps({"path": f"file:///w/{path}", "timestamp": 0, "batchId": off}) + "\n")


def _progress(batch: int, start: int | None, end: int, t: str, trigger_ms: int) -> dict:
    return {
        "batchId": batch,
        "timestamp": t,
        "numInputRows": 0,
        "durationMs": {"addBatch": 1, "triggerExecution": trigger_ms},
        "sources": [
            {
                "startOffset": None if start is None else {"logOffset": start},
                "endOffset": {"logOffset": end},
            }
        ],
    }


def test_chunks_attributed_through_source_offsets(tmp_path):
    """Source log offsets are not batch ids: batch 2 reads no file (a
    watermark-only batch), so the file at offset 2 belongs to batch 3.
    Offsets 0-2 sit in a compacted log file, as Spark writes them."""
    log_dir = tmp_path / "ckpt" / "sources" / "0"
    log_dir.mkdir(parents=True)
    _write_log(log_dir, "2.compact", [("c0", 0), ("c1", 0), ("c2", 1), ("c3", 2)])
    _write_log(log_dir, "3", [("c4", 3), ("c5", 3)])
    (log_dir / ".3.crc").write_text("ignored")
    progress = [
        _progress(0, None, 0, "2024-01-01T00:00:01.000Z", 500),
        _progress(1, 0, 1, "2024-01-01T00:00:02.000Z", 1000),
        _progress(2, 1, 1, "2024-01-01T00:00:03.000Z", 100),
        _progress(3, 1, 3, "2024-01-01T00:00:04.000Z", 2000),
    ]
    offsets = stats.read_file_source_log(str(tmp_path / "ckpt"))
    assert offsets == {"c0": 0, "c1": 0, "c2": 1, "c3": 2, "c4": 3, "c5": 3}
    file_batch = stats.file_batches(offsets, progress)
    assert file_batch == {"c0": 0, "c1": 0, "c2": 1, "c3": 3, "c4": 3, "c5": 3}

    t0 = stats.parse_progress_time("2024-01-01T00:00:00.000Z")
    due = {"c2": t0 + 1.5, "c3": t0 + 2.5, "c4": t0 + 3.5}
    commits = stats.batch_commit_times(progress)
    got = stats.attribute_chunks(due, file_batch, commits)
    assert got["c2"] == (1, pytest.approx(1500.0))  # batch 1 ends at 3.0 s
    assert got["c3"] == (3, pytest.approx(3500.0))  # batch 3 ends at 6.0 s
    assert got["c4"] == (3, pytest.approx(2500.0))
    # just before batch 3 commits, c3 and c4 are both waiting
    assert stats.backlog_max(due, got, commits) == 2


def test_unread_chunk_is_not_attributed():
    progress = [_progress(0, None, 0, "2024-01-01T00:00:01.000Z", 500)]
    file_batch = stats.file_batches({"c0": 0, "c1": 1}, progress)
    assert file_batch == {"c0": 0}
    with pytest.raises(KeyError):
        stats.attribute_chunks({"c1": 0.0}, file_batch, stats.batch_commit_times(progress))


def _event(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def test_reused_stage_counts_as_skipped(tmp_path):
    """A job that lists a stage whose shuffle another call computed ran
    on that call's leftovers: the reused-plan trap.  AQE's own re-listing
    of a stage computed earlier in the same call is not."""

    def props(group):
        return {"spark.jobGroup.id": group}

    def start(job, t, stages, group):
        infos = [{"Stage ID": sid, "RDD Info": [{"RDD ID": r} for r in rdds]} for sid, rdds in stages]
        return _event(
            "SparkListenerJobStart",
            **{"Job ID": job, "Submission Time": t, "Stage IDs": [sid for sid, _ in stages],
               "Stage Infos": infos, "Properties": props(group)},
        )

    def submit(sid, group):
        return _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": sid}, "Properties": props(group)})

    def end(job, t):
        return _event("SparkListenerJobEnd", **{"Job ID": job, "Completion Time": t})

    lines = [
        # call a: a map-stage job (stage 0), then AQE's result job
        # re-lists that shuffle as stage 1 and runs only stage 2
        start(0, 1000, [(0, [0, 1])], "a"), submit(0, "a"), end(0, 1500),
        start(1, 1500, [(1, [0, 1]), (2, [2, 3])], "a"), submit(2, "a"), end(1, 2000),
        # call b: lists a stage over call a's shuffle and runs only stage 4
        start(2, 3000, [(3, [0, 1]), (4, [4, 5])], "b"), submit(4, "b"), end(2, 3500),
    ]
    (tmp_path / "app-1").write_text("\n".join(lines) + "\n")
    log = trace.read_event_log(str(tmp_path))
    a = trace.exec_layers(log, [log.jobs[0], log.jobs[1]], 0.5, 2.5, {"a": 0})
    b = trace.exec_layers(log, [log.jobs[2]], 2.5, 4.0, {"b": 4})
    assert a["exec.skipped_stages"] == 0 and a["exec.stages"] == 2
    assert b["exec.skipped_stages"] == 1 and b["exec.stages"] == 1
    assert a["exec.job_wall_s"] == pytest.approx(1.0)
    assert b["exec.driver_gap_s"] == pytest.approx(1.0)
    # without call boundaries every re-listed stage counts
    assert trace.exec_layers(log, [log.jobs[1]], 0.5, 2.5)["exec.skipped_stages"] == 1
