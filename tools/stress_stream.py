#!/usr/bin/env python3
"""Streaming throughput probe: drain the events fixture through the
core streaming jobs and report end-to-end rows/second.

bench.py covers the batch engine; this is the streaming half's
recorded evidence.  Method: chunk events.parquet into K files, run
each job with trigger(availableNow) into a noop sink (sink cost ~0,
so the number is the operator pipeline's throughput, checkpoint I/O
included), and time the full drain wall-clock.  Two replay modes:

- ``batched``  (maxFilesPerTrigger unset): the whole fixture in few
  micro-batches — peak throughput;
- ``chunked``  (maxFilesPerTrigger=1): K micro-batches — includes
  per-batch planning/commit overhead, the sustained-latency regime.

Writes nothing outside /tmp.  Usage:
    python tools/stress_stream.py [sf_dir] [n_chunks]
Prints one JSON line {"rows": N, "jobs": {name: {mode: {"s":…,"rows_per_s":…}}}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from spark_streaming_join_example_spark import get_spark, load_table
from spark_streaming_join_example_spark.streaming import (
    chunk_events,
    jobs,
    read_event_stream,
)
from spark_streaming_join_example_spark.streaming.temporal import (
    temporal_join_events,
)


def probe(
    spark,
    sf_dir: str,
    n_chunks: int = 8,
    modes: tuple[str, ...] = ("batched", "chunked"),
) -> dict:
    """Run the five core streaming jobs over the chunked events fixture
    and return ``{"rows": N, "n_chunks": K, "shuffle": S, "jobs":
    {...}}``.

    Importable so bench.py can embed a streaming-throughput section in
    the per-round artifact (batched mode only there, to bound bench
    wall-clock); the CLI below runs both modes.

    State is sharded by the session's ``spark.sql.shuffle.partitions``,
    which ``get_spark`` sets to ``defaultParallelism`` (reported as
    ``shuffle``).  The count FREEZES into the checkpoint at first
    start, so each probe drain uses a fresh checkpoint dir."""
    work = tempfile.mkdtemp(prefix="stress_stream_")
    replay = os.path.join(work, "replay")
    chunk_events(spark, sf_dir, replay, n_chunks=n_chunks)
    n_rows = load_table(spark, sf_dir, "events").count()
    customer = load_table(spark, sf_dir, "customer")

    def j_enrich(stream):
        return jobs.enrich_stream(stream, customer)

    def j_ss_join(stream):
        clicks = stream.filter(F.col("event_type") == "click")
        buys = stream.filter(F.col("event_type") == "purchase")
        return jobs.stream_stream_join(clicks, buys)

    def j_tumbling(stream):
        return jobs.tumbling_counts(stream)

    def j_dedup(stream):
        return jobs.dedup_stream(stream)

    def j_temporal(stream):
        return temporal_join_events(stream)

    def drain(job, mode: str) -> float:
        mf = None if mode == "batched" else 1
        stream = read_event_stream(spark, replay, max_files_per_trigger=mf)
        ck = os.path.join(work, f"ck_{job.__name__}_{mode}")
        t0 = time.perf_counter()
        q = (
            job(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t0

    out: dict[str, dict] = {}
    try:
        for job in (j_enrich, j_ss_join, j_tumbling, j_dedup, j_temporal):
            name = job.__name__[2:]
            out[name] = {}
            for mode in modes:
                s = drain(job, mode)
                out[name][mode] = {
                    "s": round(s, 3),
                    "rows_per_s": int(n_rows / s),
                }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "rows": n_rows,
        "n_chunks": n_chunks,
        "shuffle": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "jobs": out,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("stress-stream")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(probe(spark, sf_dir, n_chunks)))


if __name__ == "__main__":
    main()
