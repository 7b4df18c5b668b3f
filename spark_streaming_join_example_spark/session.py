"""SparkSession factory + mandatory runtime confs.

The ``events`` fixture has stored its event-time column two ways
across driver refreshes: parquet ``timestamp[ns]`` — which Spark 4.x
rejects by default (PARQUET_TYPE_ILLEGAL) — and plain
``timestamp[us]``.  ``spark.sql.legacy.parquet.nanosAsLong`` is a
runtime-settable SQL conf (verified in this environment) kept on so the
nanos encoding stays readable; the loader sniffs the footer and picks
the right normalization (sources/batch.py).  ``ensure_runtime_confs``
can repair *any* session — including one the test driver created
without our configs — before a read happens.

Scale notes (100 TB design, SURVEY.md §7 step 6):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  ``events.user_id`` is zipf-ish; at cluster scale AQE splits the hot
  keys without manual salting.
- Two shuffle widths, the two numbers Spark already separates:
  - batch: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
    (``get_spark``'s ``shuffle_partitions``, else ``SPARK_GRAFT_SHUFFLE``,
    else 32).  Every AQE batch shuffle starts this wide and AQE
    coalesces it down at runtime; on a 1000-executor cluster set it to
    ~2-3× total cores.
  - state: ``spark.sql.shuffle.partitions`` = the session's
    ``sparkContext.defaultParallelism`` (N for ``local[N]``, the
    executor core count on a cluster).  AQE is off for stateful
    streams, so this is the number of state-store shards — each
    committed on EVERY micro-batch (4 stores per shard for a
    stream-stream join) — and one wave of tasks per batch.  Only
    stateful streams and non-AQE plans read it.
- The state width freezes into a streaming checkpoint at first start;
  a restart keeps the checkpoint's count whatever the session says.
  Under dynamic allocation ``defaultParallelism`` is whatever cores
  are up at session start, so set ``spark.default.parallelism`` to the
  intended steady-state core count before a stream's first start.
- Checkpoint files go through Hadoop's ``FileSystem`` API
  (``spark.sql.streaming.checkpointFileManagerClass`` =
  ``FileSystemBasedCheckpointFileManager``).  Spark's default,
  ``FileContextBasedCheckpointFileManager``, resolves every path
  through ``FileContext``; with no native libhadoop loaded each
  resolve forks a ``readlink`` shell, and every state delta, offset
  and commit log entry of every micro-batch resolves paths.  Both
  managers write a temp file and rename it into place, so what a
  reader sees is unchanged:
  - local file system: both check that the destination is absent,
    then rename;
  - HDFS: ``FileSystem.rename`` never overwrites; when it returns
    false over an existing destination the manager raises
    ``SparkFileAlreadyExistsException`` itself;
  - object stores (S3, GCS, ABFS): rename is not atomic under either
    manager — point checkpoints at HDFS or a store-specific manager.
  Checkpoint checksums (``spark.sql.streaming.checkpoint.fileChecksum
  .enabled``) stay at their default, on: every state delta keeps its
  ``<v>.delta.crc`` beside it.  What remains per created file is the
  ``chmod`` fork of ``RawLocalFileSystem.setPermission`` and Hadoop's
  own ``.crc`` sidecar.
- Generated-code cache: ``spark.sql.codegen.cache.maxEntries`` is
  2000, up from Spark's 100.  One ``graph_dedup`` benchmark pass
  (perfbench) uses about 290 distinct generated classes and one
  ``batch_scaled`` pass about 62; with 100 entries the LRU evicted a
  ``graph_dedup`` pass's own classes before they came round again, so
  every pass recompiled about 288 of them in Janino on the driver.
  Why 2000: it is about 7× the largest working set measured, so a
  session that alternates the benchmark's workloads or a handful of
  heavy queries keeps them all compiled, while the cap still bounds
  memory — generated classes are a few KB of bytecode each, so a full
  cache is tens of MB of the 8 GB driver.  (The registry-wide test
  loops compile thousands of classes and still cycle it.)  Every
  executor JVM keeps its own cache, so at 100 TB the cap is per
  executor, and each executor compiles a class once per JVM, not once
  per task.  It is a static conf: a session the engine did not build
  keeps its own cap.
- Persisted relations coalesce:
  ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on,
  so AQE coalesces what ``persist()`` / ``cache()`` stores as it does
  every other shuffle.  Spark's default keeps a cached plan's output
  at the full batch width, so a persisted 7 MB relation stayed 32
  partitions and every loop round over it ran 32 tasks
  (``q_pagerank``: 652 of a ``graph_dedup`` pass's 955 tasks).  At
  100 TB coalescing targets AQE's 64 MB advisory partition size, so a
  large persisted relation keeps about one partition per 64 MB.  A
  coalesced relation no longer advertises the batch width, so a
  downstream join keyed the same way can need an extra shuffle to
  repartition it; none appeared in ``graph_dedup`` (its jobs, stages
  and shuffle MB all fell).  It is a runtime conf, so
  ``ensure_runtime_confs`` sets it on foreign sessions too.
- Broadcast threshold raised to 64 MiB: every TPC-H-style dimension
  (region/nation/supplier/customer at these SFs) broadcast-joins, which
  removes the shuffle on the fact side entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: runtime-settable confs, also applied to sessions the engine did not
#: build (``ensure_runtime_confs``).
RUNTIME_CONFS: dict[str, str] = {
    # events.ts is INT64 TIMESTAMP(NANOS) parquet — illegal in Spark
    # without this; read as LongType then converted (sources/batch.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the DuckDB oracle returns naive UTC timestamps; pin the session
    # so collected datetimes agree bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # AQE coalesces persisted relations too (module docstring)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

#: build-time confs (need a fresh session to change).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalescePartitions.minPartitionSize stays at its 1 MB default:
    # lowering it was A/B'd in r15 and rejected (ROADMAP, Closed list)
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # static conf; holds a graph_dedup pass's ~290 generated classes
    # across passes (module docstring)
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # without native libhadoop Spark's FileContext default forks
    # `readlink` per checkpoint path resolve; same temp-file + rename
    # protocol and checksum files (module docstring)
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply required runtime confs to an existing session.

    Called by every loader so the engine works on sessions it did not
    create (e.g. the verification driver's).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized/settable on this build — reads will surface it
    return spark


def get_spark(
    app_name: str = "spark-graft",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default all cores).
    ``shuffle_partitions`` / ``SPARK_GRAFT_SHUFFLE`` is the BATCH shuffle
    width, AQE's initial partition number (default 32 — sized so sf0.1
    partitions stay ~10-50 MB; at 100 TB you'd scale this to ~2-3×
    total executor cores and let AQE coalesce).  Stateful streams get
    ``defaultParallelism`` shards instead (module docstring).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(shuffle_partitions),
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    # Executor Python workers must import this package: cloudpickle
    # serializes module-level pandas-UDF kernels BY REFERENCE, so a
    # worker whose sys.path lacks the repo root raises
    # ModuleNotFoundError on the first vector kernel.  Launching from
    # the repo root hides this (cwd is on sys.path); launching from
    # anywhere else broke.  Pin the repo root onto the workers'
    # PYTHONPATH explicitly — on a real cluster the equivalent is
    # shipping the package via --py-files/archives.
    repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        joined = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        # local mode: workers fork from the driver-launched JVM and
        # read the driver's process env — set it BEFORE getOrCreate
        os.environ["PYTHONPATH"] = joined
    else:
        joined = existing
    # cluster mode: ALWAYS pin the per-executor env — a driver whose
    # own PYTHONPATH already carries the repo root would otherwise
    # skip the executor pin exactly when the local env masks the
    # problem (executors on a non-local deployment don't inherit the
    # driver's process env)
    builder = builder.config("spark.executorEnv.PYTHONPATH", joined)
    spark = builder.getOrCreate()
    # the state width needs the live context's core count, so it is set
    # after getOrCreate (a runtime SQL conf)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    return ensure_runtime_confs(spark)
