"""Streaming query builders — the reference's core surface
(SURVEY.md §2.3 J1/J2, §2.4 A5-A8, §2.9 T1/T2).

Each builder takes streaming (and static) DataFrames and returns the
transformed *streaming* DataFrame; callers pick the sink/trigger
(tests use the memory sink via replay.run_to_memory; production would
use Kafka/parquet sinks with checkpointing — sinks.py).

State-at-scale notes:
- every stateful op here is watermark-bounded: join state is evicted
  once the watermark passes the range bound; windowed agg state once
  it passes window end; dedup state via dropDuplicatesWithinWatermark;
- state keys partition by `spark.sql.shuffle.partitions`, which
  `get_spark` sets to the session's `defaultParallelism` (batch
  shuffles start from AQE's `initialPartitionNum` instead).  The count
  is frozen into the checkpoint at first run — size the cluster, or
  under dynamic allocation `spark.default.parallelism`, BEFORE launch
  (T5 footgun);
- every micro-batch writes one delta per state store (4 per shard for
  a stream-stream join), plus an offset and a commit log entry.
  `get_spark` routes these through Hadoop's `FileSystem` API
  (`FileSystemBasedCheckpointFileManager`): Spark's `FileContext`
  default forks a `readlink` per path resolve when no native
  libhadoop is loaded, and that put ~1.5 s of state commit (summed
  over the state tasks) into every `stream_join` batch on a 4-core
  box.  What remains per created file is a `chmod` fork
  (`RawLocalFileSystem.setPermission`) and a Hadoop `.crc` sidecar:
  16 forks per stateful join task per batch (4 stores × (delta +
  checksum file) × (file + `.crc`));
- for 100 TB streams use the RocksDB state store provider
  (`spark.sql.streaming.stateStore.providerClass`) so state spills
  beyond heap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def enrich_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """J1 stream-static join: enrich events against the customer
    dimension. Non-stateful — the static side is (re)broadcast per
    micro-batch; inner join needs no watermark."""
    return events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_mktsegment")


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
) -> DataFrame:
    """J2 stream-stream inner join: purchases within ``horizon`` after
    a click by the same user.

    Both sides carry watermarks and the join condition bounds event
    time in both directions — that pair is exactly what lets Spark
    evict symmetric-hash join state (rows older than watermark +
    horizon can never match again).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
    )
    return c.join(p, cond).select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id"), "c_ts", "p_ts", "p_value"
    )


def stream_stream_semi_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
) -> DataFrame:
    """J2 left-semi stream-stream: emit each click exactly once iff a
    purchase by the same user lands within the horizon — no right-side
    columns ever emitted.  Same watermark + two-sided time bound as
    the inner form, so the symmetric-hash state evicts identically
    (a click older than watermark + horizon can never gain a match;
    buffered purchases older than the watermark can never satisfy a
    future click)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (
            F.col("p_ts")
            <= F.col("c_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return c.join(p, cond, "left_semi")


def tumbling_counts(
    events: DataFrame, watermark: str = "10 minutes", size: str = "1 hour"
) -> DataFrame:
    """A5/A8 windowed streaming aggregation. In append mode a window
    emits only once the watermark passes its end (finalized windows);
    rows later than the watermark are dropped (T3)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sliding_counts(
    events: DataFrame,
    watermark: str = "10 minutes",
    size: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """A6 sliding (hopping) windowed streaming aggregation: each event
    lands in size/slide overlapping windows; append mode emits a window
    once the watermark passes its end.  State per key is the set of
    open windows — bounded by size/slide × |keys|."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sessionize(
    events: DataFrame, watermark: str = "10 minutes", gap: str = "5 minutes"
) -> DataFrame:
    """A7 session windows (dynamic gap) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, within_watermark: str | None = None
) -> DataFrame:
    """T2 streaming dedup. With ``within_watermark`` set, uses
    dropDuplicatesWithinWatermark → state is bounded (the 100 TB
    answer); otherwise plain dropDuplicates keeps unbounded key state."""
    keys = keys or ["user_id", "event_type"]
    if within_watermark is not None:
        return events.withWatermark("ts", within_watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def ohlc_bars(
    events: DataFrame, watermark: str = "10 minutes", size: str = "1 hour"
) -> DataFrame:
    """A5/A8 streaming OHLC downsampling: per (event_type, tumbling
    window), open/close values picked by min_by/max_by over the
    (ts, event_id) total order — the explicit tie-break makes the bars
    deterministic.  The batch twin plans/round5b.q_ohlc_bars shares
    this AGGREGATION SPEC (min_by/max_by over the same total order),
    not the window granularity — it buckets by DAY while this job
    defaults to 1-hour windows; the streaming-vs-batch equivalence
    test builds its own same-granularity batch twin.  All values are
    micro-unit BIGINT.  min_by/max_by are declarative aggregates, so
    the state per open window is one (ordkey, value) pair per extreme —
    constant, watermark-evicted like any windowed agg (the 100 TB
    downsampling path for continuous ingest)."""
    m = events.select(
        "ts",
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v"),
    )
    ordkey = F.struct("ts", "event_id")
    return (
        m.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.min_by("v", ordkey).alias("open_e6"),
            F.max("v").alias("high_e6"),
            F.min("v").alias("low_e6"),
            F.max_by("v", ordkey).alias("close_e6"),
            F.count(F.lit(1)).alias("volume"),
            F.sum("v").alias("sum_e6"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open_e6",
            "high_e6",
            "low_e6",
            "close_e6",
            "volume",
            "sum_e6",
        )
    )


def windowed_approx_users(
    events: DataFrame, watermark: str = "10 minutes", size: str = "1 hour"
) -> DataFrame:
    """A3×A8: approximate distinct users per tumbling window — the
    fixed-memory streaming cardinality job.  approx_count_distinct
    keeps ONE HLL++ sketch per open window×type (vs a distinct-set
    that grows with users); sketches merge commutatively across
    partitions and micro-batches, so the final estimate depends only
    on the merged sketch, never on arrival order — which is why the
    streaming replay equals the batch twin bit-for-bit and both stay
    watermark-evictable at 100 TB/day ingest."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "approx_users",
            "n",
        )
    )


def hourly_then_daily_peak(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Chained stateful windowed aggregations in ONE streaming query
    (Spark ≥3.4 multiple-stateful-operator support): hourly per-type
    counts, then the DAILY PEAK hourly rate — the classic two-level
    rollup (rate monitor over a raw stream) that previously required
    two queries glued by an intermediate sink.

    ``window_time()`` turns the first aggregation's window struct back
    into an event-time column (the window's inclusive end) so the
    second ``window()`` can re-bucket it; the watermark propagates
    through both operators, so a daily row emits only after the
    watermark passes the day's end.  State = open hourly windows +
    open daily windows — both bounded by the watermark horizon.
    """
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_hour"))
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(F.max("n_hour").alias("peak_hourly"))
        .select(F.col("w2.start").alias("day_start"), "event_type", "peak_hourly")
    )
