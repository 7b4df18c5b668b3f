"""Pure helpers for the workloads: the percentile rule and the
chunk-to-batch attribution for ``stream_join``.

Nothing here touches Spark, so the unit tests run without a session.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os

#: percentiles the tail rule may report, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie beyond a reported tail percentile.
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(samples: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile on ``LADDER`` that has at least
    ``min_beyond`` samples strictly above it, as ``(p, value)``;
    ``None`` when not even the median qualifies."""
    best = None
    for p in LADDER:
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= min_beyond:
            best = (p, v)
    return best


def parse_progress_time(ts: str) -> float:
    """Epoch seconds of a StreamingQueryProgress ``timestamp``
    (ISO-8601, UTC, millisecond precision, ``Z`` suffix)."""
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_file_source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Map each file name the file stream source consumed to the source
    log offset that listed it, from ``<checkpoint>/sources/<source>/``.
    Compacted log files carry every earlier entry with its own
    ``batchId`` (the log offset), so entries are keyed by that field
    rather than by log file name.  The log offset is not the
    micro-batch id: batches that read no new file (watermark-only
    batches) advance the one and not the other."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line: log version
                if line.strip():
                    e = json.loads(line)
                    base = os.path.basename(e["path"])
                    out[base] = min(out.get(base, e["batchId"]), e["batchId"])
    return out


def batch_commit_times(progress: list[dict]) -> dict[int, float]:
    """Batch id → epoch seconds at which the batch finished
    (trigger start + ``triggerExecution``), from progress records."""
    return {
        p["batchId"]: parse_progress_time(p["timestamp"])
        + p["durationMs"]["triggerExecution"] / 1000.0
        for p in progress
        if "triggerExecution" in p.get("durationMs", {})
    }


def offset_batches(progress: list[dict], source: int = 0) -> dict[int, int]:
    """Source log offset → id of the micro-batch that read it, from the
    ``startOffset``/``endOffset`` of each progress record's source."""
    out: dict[int, int] = {}
    for p in progress:
        src = p["sources"][source]
        end = (src.get("endOffset") or {}).get("logOffset")
        if end is None:
            continue
        start = (src.get("startOffset") or {}).get("logOffset", -1)
        for off in range(start + 1, end + 1):
            out.setdefault(off, p["batchId"])
    return out


def file_batches(file_offset: dict[str, int], progress: list[dict]) -> dict[str, int]:
    """File name → id of the committed micro-batch that read it; files
    no reported batch has read yet are left out."""
    batch_of = offset_batches(progress)
    return {f: batch_of[o] for f, o in file_offset.items() if o in batch_of}


def attribute_chunks(
    due: dict[str, float], file_batch: dict[str, int], commits: dict[int, float]
) -> dict[str, tuple[int, float]]:
    """Chunk file name → (batch id, latency ms), latency measured from
    the chunk's due time to the commit of the batch that read it.
    Raises ``KeyError`` for a chunk no committed batch read."""
    return {
        name: (file_batch[name], (commits[file_batch[name]] - t) * 1000.0)
        for name, t in due.items()
    }


def backlog_max(published: dict[str, float], attributed: dict[str, tuple[int, float]], commits: dict[int, float]) -> int:
    """Largest number of chunks published but not yet committed, seen
    just before any batch commit."""
    worst = 0
    for b, c in commits.items():
        waiting = sum(
            1 for n, t in published.items() if t <= c and attributed[n][0] >= b
        )
        worst = max(worst, waiting)
    return worst
