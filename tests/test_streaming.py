"""Streaming correctness via prefix-integrity equivalence
(SURVEY.md §5.3): each streaming job, drained over the chunked replay
of the events fixture, must equal its batch twin on the same data.
Plus targeted late-data and exactly-once restart tests.
"""

from __future__ import annotations

import glob
import os
import re

import pyspark.sql.functions as F
import pytest

from spark_streaming_join_example_spark import load_table
from spark_streaming_join_example_spark.streaming import (
    chunk_events,
    jobs,
    read_event_stream,
    run_to_memory,
)
from spark_streaming_join_example_spark.sources.sinks import to_parquet

from .conftest import collect_sorted


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("replay")
    chunk_events(spark, sf_dir, str(d), n_chunks=6)
    return str(d)


def _batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_stream_static_join_equivalence(spark, sf_dir, replay_dir, tmp_path):
    customer = load_table(spark, sf_dir, "customer")
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.enrich_stream(stream, customer), str(tmp_path / "ckpt"), "append"
    )
    batch = jobs.enrich_stream(_batch_events(spark, sf_dir), customer)
    assert collect_sorted(out) == collect_sorted(batch)


def test_stream_stream_join_equivalence(spark, sf_dir, replay_dir, tmp_path):
    stream = read_event_stream(spark, replay_dir)
    s_clicks = stream.filter(F.col("event_type") == "click")
    s_buys = stream.filter(F.col("event_type") == "purchase")
    out = run_to_memory(
        jobs.stream_stream_join(s_clicks, s_buys), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    batch = jobs.stream_stream_join(
        be.filter(F.col("event_type") == "click"),
        be.filter(F.col("event_type") == "purchase"),
    )
    srows = collect_sorted(out)
    brows = collect_sorted(batch)
    assert len(srows) > 0
    assert srows == brows


def test_tumbling_agg_equivalence(spark, sf_dir, replay_dir, tmp_path):
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.tumbling_counts(stream), str(tmp_path / "ckpt"), "append"
    )
    # append mode emits only watermark-finalized windows; with
    # availableNow the final watermark is max(ts)-10min, so the last
    # window(s) are withheld. The emitted prefix must match the batch
    # result restricted to finalized windows.
    be = _batch_events(spark, sf_dir)
    full_batch = (
        be.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    finalized = full_batch.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    assert out_rows == collect_sorted(finalized)


def test_session_window_equivalence(spark, sf_dir, replay_dir, tmp_path):
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.sessionize(stream), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_dedup_stream_equivalence(spark, sf_dir, replay_dir, tmp_path):
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.dedup_stream(stream).select("user_id", "event_type"),
        str(tmp_path / "ckpt"),
        "append",
    )
    batch_keys = _batch_events(spark, sf_dir).select("user_id", "event_type").distinct()
    assert collect_sorted(out) == collect_sorted(batch_keys)


def test_late_rows_dropped(spark, sf_dir, tmp_path):
    """T3: a replay where old events arrive after the watermark has
    advanced past them must drop them from the (append) aggregation."""
    late_dir = tmp_path / "late_replay"
    # move the FIRST chronological chunk to arrive LAST
    chunk_events(spark, sf_dir, str(late_dir), n_chunks=6, reorder={0: 5, 5: 0})
    stream = read_event_stream(spark, str(late_dir), max_files_per_trigger=1)
    agg = jobs.tumbling_counts(stream, watermark="10 minutes")
    out = run_to_memory(agg, str(tmp_path / "ckpt"), "append")
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    # the streaming result must differ from the full batch result:
    # the first chunk's windows closed before its rows arrived.
    out_total = out.agg(F.sum("n")).collect()[0][0] or 0
    full_total = full.agg(F.sum("n")).collect()[0][0]
    assert out_total < full_total


def test_restart_exactly_once(spark, sf_dir, tmp_path):
    """S7: re-running a drained checkpointed query emits nothing new."""
    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_event_stream(spark, str(replay), max_files_per_trigger=None)
        q = to_parquet(stream.select("event_id", "user_id"), out_dir, ckpt)
        q.awaitTermination()

    run()
    n1 = len(glob.glob(os.path.join(out_dir, "*.parquet")))
    count1 = spark.read.parquet(out_dir).count()
    run()  # restart on the same checkpoint — no new input
    count2 = spark.read.parquet(out_dir).count()
    assert count1 == count2 == _batch_events(spark, sf_dir).count()


def test_stateful_sessionize_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """T4: custom applyInPandasWithState sessionization must agree with
    the batch session computation on sessions the watermark closed."""
    from spark_streaming_join_example_spark.streaming.stateful import (
        sessionize_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        sessionize_with_state(stream, gap_minutes=5, watermark="10 minutes"),
        str(tmp_path / "ckpt"),
        "append",
    )
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    # every emitted session must exist verbatim in the batch result...
    full_rows = set(map(repr, collect_sorted(full)))
    for r in out_rows:
        assert repr(r) in full_rows
    # ...and all batch sessions closed well before the final watermark
    # must have been emitted.
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    closed = full.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 20 MINUTES")
    )
    emitted = set(map(repr, out_rows))
    for r in collect_sorted(closed):
        assert repr(r) in emitted


def test_outer_stream_stream_join_emits_nulls(spark, sf_dir, tmp_path):
    """J2 left-outer: clicks with no purchase in the horizon must be
    emitted null-padded once the watermark passes."""
    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=6)
    stream = read_event_stream(spark, str(replay))
    clicks = stream.filter(F.col("event_type") == "click").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    buys = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = run_to_memory(
        clicks.join(buys, cond, "left_outer"), str(tmp_path / "ckpt"), "append"
    )
    matched = out.filter(F.col("p_ts").isNotNull()).count()
    unmatched = out.filter(F.col("p_ts").isNull()).count()
    assert matched > 0 and unmatched > 0
    # inner-join rows must agree with the batch inner join
    be = _batch_events(spark, sf_dir)
    bc = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    bp = be.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch_inner = bc.join(bp, cond).count()
    assert matched == batch_inner


def test_tws_running_counts(spark, sf_dir, replay_dir, tmp_path):
    """T4 (transformWithStateInPandas): the final cumulative count per
    user must equal the batch per-user count, regardless of chunking."""
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state server needs protobuf (absent in this env)",
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        running_counts_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        running_counts_tws(stream), str(tmp_path / "ckpt"), "update"
    )
    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert collect_sorted(final) == collect_sorted(batch)


def test_update_mode_tumbling(spark, sf_dir, replay_dir, tmp_path):
    """A8 (update output mode): the latest emission per window must
    equal the batch aggregate — update mode re-emits windows as rows
    arrive; the last value wins."""
    stream = read_event_stream(spark, replay_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    out = run_to_memory(agg, str(tmp_path / "ckpt"), "update")
    # later emissions for the same (ws, event_type) supersede earlier
    # ones; memory sink appends, so take the max (counts only grow).
    latest = out.groupBy("ws", "event_type").agg(F.max("n").alias("n"))
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    assert collect_sorted(latest) == collect_sorted(batch)


def test_rate_source_smoke(spark, tmp_path):
    """S4: the rate source produces rows through the full
    readStream → transform → memory-sink path."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .withColumn("bucket", F.pmod("value", F.lit(10)))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_smoke").count()
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
    finally:
        q.stop()


def test_sliding_window_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """A6/A8: sliding-window streaming agg ≡ batch over the replay."""
    stream = read_event_stream(spark, replay_dir)
    def sliding(df):
        return (
            df.groupBy(
                F.window("ts", "30 minutes", "15 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
    out = run_to_memory(
        sliding(stream.withWatermark("ts", "10 minutes")),
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = sliding(_batch_events(spark, sf_dir))
    # append emits only watermark-finalized windows: every emitted row
    # must match batch, and all but the tail must be present.
    out_rows = set(map(repr, collect_sorted(out)))
    batch_rows = set(map(repr, collect_sorted(batch)))
    assert out_rows <= batch_rows
    assert len(out_rows) >= 0.8 * len(batch_rows)


def test_streaming_semi_join(spark, sf_dir, replay_dir, tmp_path):
    """J2 left-semi stream-stream: clicks that had a purchase within
    the horizon — no right-side columns, one row per click."""
    stream = read_event_stream(spark, replay_dir)
    clicks = stream.filter(F.col("event_type") == "click").withWatermark(
        "ts", "1 hour"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    buys = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    ).select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = run_to_memory(
        clicks.join(buys, cond, "left_semi"), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    bc = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    bp = be.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    assert collect_sorted(out) == collect_sorted(bc.join(bp, cond, "left_semi"))


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """S8: foreachBatch drains every micro-batch exactly once into an
    arbitrary Python sink."""
    from spark_streaming_join_example_spark.sources.sinks import to_foreach_batch

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)
    stream = read_event_stream(spark, str(replay))
    out_dir = str(tmp_path / "out")

    def write_batch(bdf, batch_id):
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    q = to_foreach_batch(stream, write_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == _batch_events(spark, sf_dir).count()
    assert got.select("batch_id").distinct().count() >= 2


def test_agg_state_survives_restart(spark, sf_dir, tmp_path):
    """S7/T1/A5: a tumbling-window agg stopped mid-stream and restarted
    on the same checkpoint must pick up its window state and end with
    exactly the rows a single uninterrupted run produces (memory sinks
    cannot recover a checkpoint; the parquet sink is the durable
    path)."""
    _restart_equals_uninterrupted(
        spark, sf_dir, tmp_path, lambda s: jobs.tumbling_counts(s)
    )


def _restart_equals_uninterrupted(spark, sf_dir, tmp_path, job):
    """2-run checkpoint-restart harness: drain 3 of 6 chunks, restart
    on the same checkpoint with the rest, and require the union of
    emitted rows to equal a single uninterrupted run's output.

    Copies carry STRICTLY INCREASING mtimes (r12 hardening): the file
    source orders ready files by millisecond mtime with an arbitrary
    tie-break, and plain shutil.copy collapses the staggered chunk
    mtimes into one tie — scrambled delivery is survivable for the
    window/join ops this helper drives but makes watermark timing
    nondeterministic; staggering keeps the replay chronological like
    chunk_events' native writes."""
    import shutil
    import time as _time

    full_replay = tmp_path / "full"
    chunk_events(spark, sf_dir, str(full_replay), n_chunks=6)
    chunks = sorted(glob.glob(os.path.join(str(full_replay), "*.parquet")))

    part_replay = tmp_path / "partial"
    part_replay.mkdir()
    _t0 = int(_time.time())

    def _copy_staggered(cs, base):
        for _i, _c in enumerate(cs):
            _dst = os.path.join(str(part_replay), os.path.basename(_c))
            shutil.copy(_c, _dst)
            os.utime(_dst, (base + _i, base + _i))

    _copy_staggered(chunks[:3], _t0 - 600)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain(replay, out, ck):
        stream = read_event_stream(spark, str(replay))
        q = to_parquet(job(stream), out, ck)
        q.awaitTermination(180)

    drain(part_replay, out_dir, ckpt)  # phase 1: first 3 chunks
    n1 = spark.read.parquet(out_dir).count()
    _copy_staggered(chunks[3:], _t0 - 300)
    drain(part_replay, out_dir, ckpt)  # phase 2: restart, rest arrives

    ref_out = str(tmp_path / "ref_out")
    drain(full_replay, ref_out, str(tmp_path / "ckpt_ref"))

    got = spark.read.parquet(out_dir)
    ref = spark.read.parquet(ref_out)
    assert collect_sorted(got) == collect_sorted(ref)
    assert n1 > 0 and got.count() > n1  # both phases emitted rows


def test_sliding_agg_state_survives_restart(spark, sf_dir, tmp_path):
    """S7/A6: a sliding-window agg stopped mid-stream and restarted on
    the same checkpoint recovers every open (overlapping) window and
    ends with exactly the single-run output."""
    _restart_equals_uninterrupted(
        spark, sf_dir, tmp_path, lambda s: jobs.sliding_counts(s)
    )


def test_session_window_state_survives_restart(spark, sf_dir, tmp_path):
    """S7/A7: session windows (dynamic gap) must merge correctly across
    a restart — a session whose first half was buffered before the stop
    and second half after must still emit as ONE merged session,
    identical to the uninterrupted run."""
    _restart_equals_uninterrupted(
        spark, sf_dir, tmp_path, lambda s: jobs.sessionize(s)
    )


def test_stream_static_left_outer(spark, sf_dir, replay_dir, tmp_path):
    """J1 left-outer from the stream side: events whose user has no
    customer row survive null-padded; result ≡ batch left join."""
    customer = load_table(spark, sf_dir, "customer")
    # keep only a slice of customers so some events miss
    dim = customer.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_event_stream(spark, replay_dir)

    def enrich(ev):
        return ev.join(
            dim, ev.user_id == dim.c_custkey, "left_outer"
        ).select("event_id", "user_id", "c_mktsegment")

    out = run_to_memory(enrich(stream), str(tmp_path / "ckpt"), "append")
    batch = enrich(_batch_events(spark, sf_dir))
    assert out.filter(F.col("c_mktsegment").isNull()).count() > 0
    assert collect_sorted(out) == collect_sorted(batch)


def test_chained_stateful_join_then_window_agg(spark, sf_dir, replay_dir, tmp_path):
    """Multiple stateful operators in one streaming query (Spark 3.4+):
    stream-stream join feeding a tumbling-window aggregation. Emitted
    (finalized) windows must match the batch twin exactly."""
    def pipeline(clicks, buys):
        cond = (
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        joined = clicks.join(buys, cond)
        return (
            joined.groupBy(F.window("p_ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_conversions"))
            .select(F.col("w.start").alias("ws"), "n_conversions")
        )

    def sides(df, wm):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        if wm:
            c = c.withWatermark("c_ts", "30 minutes")
            p = p.withWatermark("p_ts", "30 minutes")
        return c, p

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        pipeline(*sides(stream, wm=True)), str(tmp_path / "ckpt"), "append"
    )
    batch = pipeline(*sides(_batch_events(spark, sf_dir), wm=False))
    out_rows = set(map(repr, collect_sorted(out)))
    batch_rows = set(map(repr, collect_sorted(batch)))
    assert len(out_rows) > 0
    assert out_rows <= batch_rows          # emitted windows are exact
    assert len(out_rows) >= 0.8 * len(batch_rows)  # only the tail withheld


def _fo_sides(src):
    """(clicks, buys, cond) for the J2 full-outer twin — shared by the
    equivalence and restart tests so both pin the same shape."""
    clicks = src.filter(F.col("event_type") == "click").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    buys = src.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return clicks, buys, cond


def test_full_outer_stream_stream_join(spark, sf_dir, replay_dir, tmp_path):
    """J2 full-outer: both unmatched sides emit null-padded after the
    watermark; matched rows equal the batch inner join; and (r15
    strengthening) the null-padded sets are pinned EXACTLY against the
    batch full-outer's unmatched sides — no false outer emission
    anywhere, and every batch-unmatched row whose join horizon closed
    well before the final watermark must have been emitted."""
    stream = read_event_stream(spark, replay_dir)
    clicks, buys, cond = _fo_sides(stream)
    out = run_to_memory(
        clicks.join(buys, cond, "full_outer"), str(tmp_path / "ckpt"), "append"
    )
    assert out.filter(F.col("p_ts").isNull()).count() > 0  # click-only rows
    assert out.filter(F.col("c_ts").isNull()).count() > 0  # purchase-only rows
    be = _batch_events(spark, sf_dir)
    bc = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    bp = be.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    matched = out.filter(F.col("p_ts").isNotNull() & F.col("c_ts").isNotNull())
    assert matched.count() == bc.join(bp, cond).count()

    # exact unmatched-side pins vs the batch full outer join
    batch_matched_clicks = {
        r.click_id for r in bc.join(bp, cond).select("click_id").collect()
    }
    batch_matched_buys = {
        r.purchase_id
        for r in bc.join(bp, cond).select("purchase_id").collect()
    }
    click_only = {
        r.click_id for r in out.filter(F.col("p_ts").isNull()).collect()
    }
    buy_only = {
        r.purchase_id for r in out.filter(F.col("c_ts").isNull()).collect()
    }
    # soundness: a null-padded row must be truly unmatched in batch
    assert not (click_only & batch_matched_clicks)
    assert not (buy_only & batch_matched_buys)
    # completeness in the watermark-closed region.  The FINAL global
    # watermark is the MIN across both sides' watermark nodes, and
    # each side's node only sees its own FILTERED rows — so the
    # clicks watermark stops at the last CLICK's ts, not the stream
    # max (discovered by exactly one click, the stream's final one,
    # whose own horizon never closes; multipleWatermarkPolicy=min is
    # the default).  Eviction semantics: a click emits null-padded
    # when wm passes c_ts + 30 min (its match horizon); a purchase
    # when wm passes p_ts.  A 30-min safety margin on top keeps the
    # pin robust to state-cleanup timing.
    from datetime import timedelta

    max_click = be.filter(F.col("event_type") == "click").agg(
        F.max("ts")
    ).collect()[0][0]
    max_buy = be.filter(F.col("event_type") == "purchase").agg(
        F.max("ts")
    ).collect()[0][0]
    wm = min(max_click, max_buy) - timedelta(minutes=30)
    margin = timedelta(minutes=30)
    expected_click_only = {
        r.click_id
        for r in bc.collect()
        if r.c_ts + timedelta(minutes=30) < wm - margin
    } - batch_matched_clicks
    expected_buy_only = {
        r.purchase_id for r in bp.collect() if r.p_ts < wm - margin
    } - batch_matched_buys
    assert expected_click_only <= click_only
    assert expected_buy_only <= buy_only
    assert expected_click_only and expected_buy_only  # non-vacuous


def test_full_outer_join_state_survives_restart(spark, sf_dir, tmp_path):
    """S7/J2: the full-outer stream-stream join's buffered-rows state
    (BOTH sides retained until the watermark closes their horizon)
    must survive a checkpoint restart — a click buffered before the
    stop whose matching purchase (or null-pad deadline) arrives after
    must resolve identically to the uninterrupted run."""
    _restart_equals_uninterrupted(
        spark,
        sf_dir,
        tmp_path,
        lambda s: (lambda c, b, cond: c.join(b, cond, "full_outer"))(
            *_fo_sides(s)
        ),
    )


def test_right_outer_stream_stream_join(spark, sf_dir, replay_dir, tmp_path):
    """J2 right-outer: purchases with no click in the horizon emit
    null-padded once the watermark passes; matched rows equal the
    batch inner join (completes the J2 matrix with left/full/semi)."""
    stream = read_event_stream(spark, replay_dir)
    clicks = stream.filter(F.col("event_type") == "click").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    buys = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "30 minutes"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = run_to_memory(
        clicks.join(buys, cond, "right_outer"), str(tmp_path / "ckpt"), "append"
    )
    # purchase-only rows are null-padded on the click side after the
    # watermark passes their horizon
    assert out.filter(F.col("c_ts").isNull()).count() > 0
    assert out.filter(F.col("c_ts").isNotNull()).count() > 0
    be = _batch_events(spark, sf_dir)
    bc = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    bp = be.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    # matched rows must equal the batch inner join exactly
    matched = out.filter(F.col("c_ts").isNotNull())
    assert matched.count() == bc.join(bp, cond).count()
    # null-padded purchases must be exactly those with NO matching
    # click in the batch join (no false outer emissions)
    batch_matched_purchases = {
        r.purchase_id for r in bc.join(bp, cond).select("purchase_id").collect()
    }
    unmatched_purchases = {
        r.purchase_id
        for r in out.filter(F.col("c_ts").isNull()).select("purchase_id").collect()
    }
    assert unmatched_purchases.isdisjoint(batch_matched_purchases)


def test_foreach_row_sink_exact_ids(spark, sf_dir, tmp_path):
    """S5-family: the per-row foreach sink (each row visits a Python
    callback; partition-local, at-least-once) — exact event-id-set
    equality against the batch table."""
    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=3)
    stream = read_event_stream(spark, str(replay)).select("event_id")
    out_dir = tmp_path / "rows"
    out_dir.mkdir()

    class Collector:
        def open(self, partition_id, epoch_id):
            self.pid = partition_id
            self.rows = []
            return True

        def process(self, row):
            self.rows.append(row.event_id)

        def close(self, error):
            import os
            import uuid

            if self.rows:
                p = out_dir / f"{self.pid}_{uuid.uuid4().hex}.txt"
                p.write_text("\n".join(map(str, self.rows)))

    q = (
        stream.writeStream.foreach(Collector())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = set()
    for f in out_dir.iterdir():
        seen.update(int(x) for x in f.read_text().splitlines())
    batch_ids = {r.event_id for r in _batch_events(spark, sf_dir).select("event_id").collect()}
    assert seen == batch_ids


def test_foreach_row_sink(spark, sf_dir, tmp_path):
    """S5: per-row foreach writer pushes every output row to an
    external sink callable (executor-side, at-least-once)."""
    import os

    from spark_streaming_join_example_spark.sources.sinks import to_foreach_rows

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=3)
    stream = read_event_stream(spark, str(replay))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", "n")
    )
    out_dir = tmp_path / "rows"
    os.makedirs(out_dir, exist_ok=True)

    def process_row(row):
        # idempotent per (event_type, n): fixed file name per key
        p = out_dir / f"{row.event_type}_{row.n}"
        with open(p, "w") as f:
            f.write(f"{row.event_type},{row.n}\n")

    q = to_foreach_rows(agg, process_row, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # append-mode day windows closed by the final watermark appear
    got_types = {p.name.split("_")[0] for p in out_dir.iterdir()}
    batch_types = {
        r.event_type
        for r in _batch_events(spark, sf_dir).select("event_type").distinct().collect()
    }
    assert got_types <= batch_types
    assert len(got_types) >= 3


def test_watermark_bounds_agg_state(spark, sf_dir, replay_dir, tmp_path):
    """T1/A8 scale proof: the watermark EVICTS closed windows from the
    state store — final-batch state is a small frontier, not the full
    history (the property that keeps 100 TB/day streams at O(open
    windows) state)."""
    stream = read_event_stream(spark, str(replay_dir))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("state_bound_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert progresses, "no stateful progress recorded"
    removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses)
    last_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    emitted = spark.table("state_bound_probe").count()
    # eviction happened, and the final state frontier is far smaller
    # than the emitted history
    assert removed > 0
    assert last_state < emitted


def test_session_window_dynamic_gap(spark, sf_dir, replay_dir, tmp_path):
    """A7: session_window with a per-row gap COLUMN (shorter sessions
    for clicks than purchases) — streaming result equals the batch
    computation on watermark-closed sessions."""
    gap = F.when(F.col("event_type") == "click", F.lit("2 minutes")).otherwise(
        F.lit("10 minutes")
    )

    def sessionize_dyn(df):
        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", gap).alias("w"), "user_id", "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                "event_type",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n",
            )
        )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(sessionize_dyn(stream), str(tmp_path / "ckpt"), "append")
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.session_window("ts", gap).alias("w"), "user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            "event_type",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_streaming_sql_front_door(spark, sf_dir, replay_dir, tmp_path):
    """§3.2 for streams: a streaming DataFrame registered as a temp
    view is queryable with spark.sql — same watermarked windowed agg,
    same Catalyst incremental plan, same result as the DSL twin."""
    stream = read_event_stream(spark, replay_dir)
    stream.withWatermark("ts", "10 minutes").createOrReplaceTempView("sql_events")
    agg = spark.sql(
        """
        SELECT window(ts, '1 day').start AS day, event_type, COUNT(*) AS n
        FROM sql_events
        GROUP BY window(ts, '1 day'), event_type
        """
    )
    out = run_to_memory(agg, str(tmp_path / "ckpt"), "append")
    be = _batch_events(spark, sf_dir)
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    full = (
        be.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "event_type", "n")
        .filter(
            F.col("day") + F.expr("INTERVAL 1 DAY")
            <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
        )
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(full)


def test_foreach_batch_multi_sink_fanout(spark, sf_dir, tmp_path):
    """S8: one stream, two sinks per micro-batch (parquet + a
    driver-side index), atomically keyed by batch_id — the
    similarity-index-refresh / dual-write idiom."""
    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=3)
    stream = read_event_stream(spark, str(replay))
    out_dir = str(tmp_path / "fan_parquet")
    seen_batches: dict[int, int] = {}

    def fan_out(bdf, batch_id):
        bdf.persist()
        try:
            bdf.write.mode("append").parquet(out_dir)
            seen_batches[batch_id] = bdf.count()
        finally:
            bdf.unpersist()

    q = stream.writeStream.foreachBatch(fan_out).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    total = _batch_events(spark, sf_dir).count()
    assert sum(seen_batches.values()) == total
    assert spark.read.parquet(out_dir).count() == total
    assert len(seen_batches) >= 2


def test_chained_three_way_stream_stream_join(spark, sf_dir, replay_dir, tmp_path):
    """J2 chained: view ⋈ click ⋈ purchase, two stream-stream interval
    joins back-to-back (multiple stateful operators in one append
    pipeline).  The streamed result must equal the identical batch
    3-way join — per-row, not just by count."""
    def sides(src):
        views = src.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        clicks = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        buys = src.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        return views, clicks, buys

    cond1 = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    cond2 = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )

    stream = read_event_stream(spark, replay_dir)
    sv, sc, sp = sides(stream)
    sv = sv.withWatermark("v_ts", "30 minutes")
    sc = sc.withWatermark("c_ts", "30 minutes")
    sp = sp.withWatermark("p_ts", "30 minutes")
    funnel = sv.join(sc, cond1).join(sp, cond2).select(
        "view_id", "click_id", "purchase_id"
    )
    out = run_to_memory(funnel, str(tmp_path / "ckpt"), "append")

    be = _batch_events(spark, sf_dir)
    bv, bc, bp = sides(be)
    batch = bv.join(bc, cond1).join(bp, cond2).select(
        "view_id", "click_id", "purchase_id"
    )
    assert collect_sorted(out) == collect_sorted(batch)


def test_stream_union_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """Union of two streaming branches (S-family: one source fanned
    into filtered branches, unioned back) drains to exactly the batch
    union of the same branches."""
    stream = read_event_stream(spark, replay_dir)
    a = stream.filter(F.col("event_type") == "click").select("event_id", "user_id")
    b = stream.filter(F.col("event_type") == "purchase").select("event_id", "user_id")
    out = run_to_memory(a.union(b), str(tmp_path / "ckpt"), "append")
    be = _batch_events(spark, sf_dir)
    batch = (
        be.filter(F.col("event_type") == "click")
        .select("event_id", "user_id")
        .union(
            be.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id"
            )
        )
    )
    assert collect_sorted(out) == collect_sorted(batch)


def test_stream_static_right_outer_from_static_left(spark, sf_dir, replay_dir, tmp_path):
    """J1 matrix completion: static LEFT ⋈ stream RIGHT with
    right_outer (the stream side is the preserved one — the only
    outer direction Structured Streaming allows for a static⋈stream
    join).  Equivalent to the stream-left left_outer; result ≡ batch."""
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_event_stream(spark, replay_dir)

    def enrich(ev):
        return dim.join(
            ev, ev.user_id == dim.c_custkey, "right_outer"
        ).select("event_id", "user_id", "c_mktsegment")

    out = run_to_memory(enrich(stream), str(tmp_path / "ckpt"), "append")
    batch = enrich(_batch_events(spark, sf_dir))
    assert out.filter(F.col("c_mktsegment").isNull()).count() > 0
    assert collect_sorted(out) == collect_sorted(batch)


def test_complete_mode_tumbling_agg(spark, sf_dir, replay_dir, tmp_path):
    """A8 output-mode matrix: COMPLETE re-emits the entire result table
    each trigger, so the drained final table equals the FULL batch
    aggregation — including windows append mode would withhold."""
    stream = read_event_stream(spark, replay_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    out = run_to_memory(agg, str(tmp_path / "ckpt"), "complete")
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    assert collect_sorted(out) == collect_sorted(full)


def test_rocksdb_provider_agg_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """Cross-provider equivalence (complements test_sources'
    RocksDB dedup test): the same windowed aggregation run under
    RocksDBStateStoreProvider (the 100 TB-state backend — state spills
    to disk instead of living on the JVM heap) must produce exactly
    the HDFS-backed/default-provider result."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, replay_dir)
        out = run_to_memory(
            jobs.tumbling_counts(stream), str(tmp_path / "ckpt_rocks"), "append"
        )
        out_rows = collect_sorted(out)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # default-provider twin on the same replay
    stream2 = read_event_stream(spark, replay_dir)
    base = run_to_memory(
        jobs.tumbling_counts(stream2), str(tmp_path / "ckpt_hdfs"), "append"
    )
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(base)


def test_materialized_view_maintenance(spark, sf_dir, tmp_path):
    """Incrementally-maintained MV: update-mode agg + dynamic partition
    overwrite in foreachBatch.  After draining the replay the view
    equals the batch aggregate; re-running on the same checkpoint
    changes nothing (idempotent); draining ADDITIONAL data refreshes
    only the touched groups and the view equals the new batch truth."""
    from spark_streaming_join_example_spark.streaming.matview import (
        maintain_counts_view,
        read_counts_view,
    )

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=6)
    out_dir = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = read_event_stream(spark, str(replay), max_files_per_trigger=None)
        q = maintain_counts_view(stream, out_dir, ckpt)
        q.awaitTermination()

    drain()
    be = _batch_events(spark, sf_dir)
    expect = be.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
            "sum_value_e6"
        ),
    )
    got = read_counts_view(spark, out_dir).select("event_type", "n", "sum_value_e6")
    assert collect_sorted(got) == collect_sorted(expect)

    drain()  # restart on drained checkpoint: no-op, view unchanged
    got2 = read_counts_view(spark, out_dir).select("event_type", "n", "sum_value_e6")
    assert collect_sorted(got2) == collect_sorted(expect)

    # new data arrives touching ONE group only: the update-mode batch
    # emits just that group, so only its partition is rewritten — if
    # the sink used STATIC overwrite the other groups' partitions
    # would be deleted and the final equality below would fail; this
    # pins the dynamic-overwrite semantics, not just the end state
    one_type = be.select("event_type").first().event_type
    extra_pdf = (
        spark.read.parquet(*sorted(glob.glob(str(replay / "chunk_*.parquet")))[:1])
        .filter(F.col("event_type") == one_type)
        .toPandas()
    )
    assert len(extra_pdf) > 0
    extra_pdf.to_parquet(str(replay / "zz_extra.parquet"), index=False)

    def partition_files():
        """{partition dir name: sorted (file, size, mtime_ns)} for the
        view's data files — the write-amplification ground truth."""
        import os

        snap = {}
        for part in sorted(os.listdir(out_dir)):
            pdir = os.path.join(out_dir, part)
            if not (os.path.isdir(pdir) and part.startswith("event_type=")):
                continue
            snap[part] = sorted(
                (f, os.path.getsize(os.path.join(pdir, f)),
                 os.stat(os.path.join(pdir, f)).st_mtime_ns)
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
        return snap

    before = partition_files()
    drain()
    after = partition_files()
    touched = f"event_type={one_type}"
    # file-level partition-overwrite proof: the update-mode batch holds
    # ONLY the changed group, so dynamic overwrite rewrites exactly its
    # partition; every other partition's data files are untouched on
    # disk (same names, sizes, mtimes) — write amplification tracks the
    # change rate, not the table size
    assert after[touched] != before[touched]
    untouched_before = {k: v for k, v in before.items() if k != touched}
    untouched_after = {k: v for k, v in after.items() if k != touched}
    assert untouched_after == untouched_before
    assert len(untouched_before) > 0
    extra = spark.read.parquet(str(replay / "zz_extra.parquet")).select(
        "event_type", "value"
    )
    expect3 = (
        be.select("event_type", "value")
        .unionByName(extra)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "sum_value_e6"
            ),
        )
    )
    got3 = read_counts_view(spark, out_dir).select("event_type", "n", "sum_value_e6")
    assert collect_sorted(got3) == collect_sorted(expect3)


def test_state_store_reader_exposes_watermark_frontier(spark, sf_dir, tmp_path):
    """S-surface: the `statestore` / `state-metadata` data sources read
    a checkpoint's state as DataFrames — the ops/debugging window into
    a running job's state.  Beyond the recentProgress counters
    (test_watermark_bounds_agg_state), this proves eviction ROW BY
    ROW: after the drain, every surviving state key is a window the
    final watermark has not closed, and the frontier matches the batch
    recomputation of those open windows exactly."""
    import datetime

    chunks = tmp_path / "chunks"
    chunk_events(spark, sf_dir, str(chunks), n_chunks=4)
    stream = read_event_stream(spark, str(chunks), max_files_per_trigger=None)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ckpt = tmp_path / "ckpt"
    run_to_memory(agg, str(ckpt), output_mode="update", name="state_reader_probe")

    state = spark.read.format("statestore").load(str(ckpt))
    rows = state.select(
        F.col("key.window.start").alias("ws"),
        F.col("key.window.end").alias("we"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    ).collect()
    assert rows, "state store reader returned no rows"

    batch = load_table(spark, sf_dir, "events")
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(minutes=10)
    # every surviving key is an OPEN window (end > watermark)...
    assert all(r.we > watermark for r in rows)
    # ...and the frontier equals the batch recomputation of open windows.
    expected = {
        (r.ws, r.event_type): r.n
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
                "event_type", "n")
        .collect()
        if r.we > watermark
    }
    assert {(r.ws, r.event_type): r.n for r in rows} == expected

    md = spark.read.format("state-metadata").load(str(ckpt))
    meta = md.collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    # state is sharded to the session's cores (local[4]), not to the
    # batch shuffle width...
    assert meta[0].numPartitions == spark.sparkContext.defaultParallelism
    # ...which batch aggregations still start from (shuffle_partitions=8)
    from .test_plans import plan_of

    plan = plan_of(batch.groupBy("event_type").count())
    assert re.search(r"hashpartitioning\(event_type#\d+, 8\)", plan), plan

    # checkpoint files go through Hadoop's FileSystem API (no `readlink`
    # fork per path resolve) and keep Spark's checkpoint checksums: every
    # state delta has its `<v>.delta.crc` beside it
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    deltas = sorted((ckpt / "state").rglob("*.delta"))
    assert deltas, "no state deltas written"
    missing = [d for d in deltas if not d.with_name(d.name + ".crc").is_file()]
    assert not missing, missing


def test_ewma_with_state_matches_batch(spark, sf_dir, replay_dir, tmp_path):
    """T4: the stateful streaming EWMA (bounded last-K ring per user in
    applyInPandasWithState) over a chronological replay equals the
    batch q_ewma window query bit-for-bit — the prefix-integrity
    contract extended to a custom stateful operator with real
    cross-batch state (the K-value tail crosses micro-batch
    boundaries)."""
    from spark_streaming_join_example_spark.plans.registry import queries_dict
    from spark_streaming_join_example_spark.streaming.stateful import (
        ewma_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    got = run_to_memory(
        ewma_with_state(stream),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="ewma_state_probe",
    )
    expected = queries_dict()["q_ewma"](spark, sf_dir)
    assert collect_sorted(got) == collect_sorted(expected)


def test_stream_stream_join_survives_restart(spark, sf_dir, tmp_path):
    """S7/J2: the symmetric-hash-join state (unmatched rows buffered on
    BOTH sides) must survive a checkpoint restart — a click buffered
    before the stop whose within-horizon purchase only arrives after
    the restart must still emit the joined row, and the final output
    must equal a single uninterrupted run."""
    _restart_equals_uninterrupted(
        spark,
        sf_dir,
        tmp_path,
        lambda s: jobs.stream_stream_join(
            s.filter(F.col("event_type") == "click"),
            s.filter(F.col("event_type") == "purchase"),
            # 30min finds no matches in the first-half prefix at this
            # scale; 4h yields matches on both sides of the restart
            horizon_minutes=240,
        ),
    )


def test_ohlc_bars_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """Streaming OHLC bars (min_by/max_by open/close with an explicit
    (ts, event_id) tie-break) over the chunked replay must equal the
    batch aggregation restricted to watermark-finalized windows."""
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.ohlc_bars(stream), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    m = be.select(
        "ts",
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v"),
    )
    ordkey = F.struct("ts", "event_id")
    full = (
        m.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_windowed_approx_distinct_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """Streaming HLL++ windowed distinct-user estimates over the
    chunked replay must equal the batch twin on finalized windows —
    sketch merges are commutative, so chunking/arrival order cannot
    move the estimate."""
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.windowed_approx_users(stream), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_streaming_query_listener_captures_progress(spark, sf_dir, replay_dir, tmp_path):
    """A StreamingQueryListener must receive start/progress/terminate
    callbacks with per-batch row counts — the observability hook a
    production pipeline uses for lag/throughput dashboards (the
    streaming counterpart of the batch Observation test in
    test_sources.py)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress_rows": 0, "terminated": 0}

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress_rows"] += e.progress.numInputRows

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    listener = _L()
    spark.streams.addListener(listener)
    try:
        stream = read_event_stream(spark, replay_dir)
        out = run_to_memory(
            jobs.tumbling_counts(stream), str(tmp_path / "ckpt"), "append"
        )
        assert len(collect_sorted(out)) > 0
        # listener callbacks are delivered asynchronously on the
        # listener bus — poll briefly for the terminate event
        import time as _time

        for _ in range(40):
            if events["terminated"] >= 1 and events["progress_rows"] > 0:
                break
            _time.sleep(0.25)
        assert events["started"] >= 1
        assert events["terminated"] >= 1
        # every fixture event passed through the stream exactly once
        n_events = _batch_events(spark, sf_dir).count()
        assert events["progress_rows"] == n_events
    finally:
        spark.streams.removeListener(listener)


def test_dynamic_gap_session_window(spark, sf_dir, replay_dir, tmp_path):
    """A7 variant: session_window with a DYNAMIC per-row gap (purchase
    events hold sessions open 10 minutes, others 5) — the
    per-event-class session semantics Spark supports via a gap
    EXPRESSION; streaming replay must equal the batch twin on
    watermark-finalized sessions."""
    gap = F.when(F.col("event_type") == "purchase", F.lit("10 minutes")).otherwise(
        F.lit("5 minutes")
    )

    def job(ev):
        return (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(job(stream), str(tmp_path / "ckpt"), "append")
    be = _batch_events(spark, sf_dir)
    full = (
        be.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_chained_join_window_agg_exact_finalized(spark, sf_dir, replay_dir, tmp_path):
    """TWO stateful operators in ONE streaming query (Spark ≥3.4
    multiple-stateful-operator support): stream-stream join
    (click→purchase within 4 h) feeding a tumbling windowed count of
    conversions per hour — the end-to-end attribution-rate pipeline as
    a single exactly-once query; replay must equal the batch twin on
    watermark-finalized windows."""
    stream = read_event_stream(spark, replay_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = jobs.stream_stream_join(clicks, buys, horizon_minutes=240)
    # no second withWatermark: the join's input watermarks PROPAGATE
    # through the stateful-operator chain (redefining one is an
    # AnalysisException in Spark 4's multi-stateful pipeline)
    agg = (
        joined.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .select(F.col("w.start").alias("window_start"), "n_conversions")
    )
    out = run_to_memory(agg, str(tmp_path / "ckpt"), "append")

    be = _batch_events(spark, sf_dir)
    c = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = be.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 240 MINUTES"))
    )
    full = (
        c.join(p, cond)
        .groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .select(F.col("w.start").alias("window_start"), "n_conversions")
    )
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = full.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(finalized)


def test_rocksdb_state_store_equivalence_and_restart(spark, sf_dir, tmp_path):
    """The RocksDB state-store provider — Spark's spill-to-disk
    streaming-state backend, the answer when windowed/join state
    outgrows executor heap at 100 TB/day — must produce results
    identical to the default in-memory provider, and survive a
    checkpoint restart exactly-once."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    saved = spark.conf.get(provider_conf, None)

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)

    def run(ckpt):
        stream = read_event_stream(spark, str(replay))
        return collect_sorted(
            run_to_memory(jobs.tumbling_counts(stream), ckpt, "append")
        )

    try:
        default_rows = run(str(tmp_path / "ckpt_default"))
        spark.conf.set(provider_conf, rocks)
        rocks_rows = run(str(tmp_path / "ckpt_rocks"))
        assert len(rocks_rows) > 0
        assert rocks_rows == default_rows
        # restart leg: memory sinks cannot recover a checkpoint, so
        # drive the SAME RocksDB-backed aggregation into a parquet
        # sink twice — the second (no-new-input) run must add nothing
        # (exactly-once over RocksDB snapshots + changelog)
        out_dir = str(tmp_path / "rocks_out")
        ckpt2 = str(tmp_path / "ckpt_rocks_pq")

        def run_pq():
            stream = read_event_stream(spark, str(replay))
            q = to_parquet(
                jobs.tumbling_counts(stream), out_dir, ckpt2,
                output_mode="append",
            )
            q.awaitTermination()

        run_pq()
        n1 = spark.read.parquet(out_dir).count()
        run_pq()
        n2 = spark.read.parquet(out_dir).count()
        assert n1 == n2 == len(rocks_rows)
    finally:
        if saved is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, saved)


def test_stream_stream_semi_join_survives_restart(spark, sf_dir, tmp_path):
    """S7/J2: left-semi symmetric-hash state must survive a checkpoint
    restart — a click buffered before the stop whose qualifying
    purchase only arrives after the restart must still emit exactly
    once, and the final output must equal a single uninterrupted run
    (restart coverage previously existed only for the inner form)."""
    _restart_equals_uninterrupted(
        spark,
        sf_dir,
        tmp_path,
        lambda s: jobs.stream_stream_semi_join(
            s.filter(F.col("event_type") == "click"),
            s.filter(F.col("event_type") == "purchase"),
            horizon_minutes=240,
        ),
    )


def test_rocksdb_provider_stream_stream_join_equivalence(
    spark, sf_dir, replay_dir, tmp_path
):
    """Cross-provider equivalence for symmetric-hash JOIN state
    (provider coverage previously existed only for aggregation and
    dedup state): the stream-stream inner join run under
    RocksDBStateStoreProvider — the disk-backed 100 TB-state backend —
    must produce exactly the default-provider result."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    def job(stream):
        return jobs.stream_stream_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
            horizon_minutes=240,
        )

    try:
        out = run_to_memory(
            job(read_event_stream(spark, replay_dir)),
            str(tmp_path / "ckpt_rocks_join"),
            "append",
        )
        out_rows = collect_sorted(out)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    base = run_to_memory(
        job(read_event_stream(spark, replay_dir)),
        str(tmp_path / "ckpt_hdfs_join"),
        "append",
    )
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(base)


# ---------------------------------------------------------------------------
# Streaming temporal (point-in-time) join — streaming/temporal.py
# ---------------------------------------------------------------------------
def _batch_temporal_twin(spark, sf_dir):
    """Batch as-of twin of temporal_join_events: clicks enriched with
    the latest 'view' value at-or-before the click, ties on view ts
    pre-deduped to the max event_id (the operator's tie rule)."""
    from spark_streaming_join_example_spark.operators.joins import asof_join

    be = _batch_events(spark, sf_dir)
    views = (
        be.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id").alias("d_user"), F.col("ts").alias("dim_ts"))
        .agg(F.max_by("value", "event_id").alias("dim_value"))
    )
    clicks = be.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        clicks,
        views,
        left_on="user_id",
        right_on="d_user",
        left_ts="ts",
        right_ts="dim_ts",
        how="left",
    ).select("user_id", "event_id", "ts", "value", "dim_ts", "dim_value")


def test_temporal_join_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """T4/J8 streaming: every emitted (click ⨝asof latest view) row
    must equal the batch as-of twin verbatim, and every click the
    watermark finalized must have been emitted."""
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        temporal_join_events(stream, watermark="10 minutes"),
        str(tmp_path / "ckpt"),
        "append",
    )
    twin = _batch_temporal_twin(spark, sf_dir)
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    eid_ix = sorted(out.columns).index("event_id")
    twin_by_event = {t[eid_ix]: t for t in collect_sorted(twin)}
    for r in out_rows:
        assert r == twin_by_event[r[eid_ix]], r[eid_ix]
    # completeness: clicks safely behind the final watermark all emitted
    be = _batch_events(spark, sf_dir)
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    finalized = (
        be.filter(F.col("event_type") == "click")
        .filter(F.col("ts") <= F.lit(max_ts) - F.expr("INTERVAL 20 MINUTES"))
        .count()
    )
    emitted_ids = {r[eid_ix] for r in out_rows}
    assert len(emitted_ids) == len(out_rows)  # exactly-once per click
    assert finalized > 0 and len(emitted_ids) >= finalized
    # the dimension genuinely matched on at least some rows
    dv_ix = sorted(out.columns).index("dim_value")
    assert any(r[dv_ix] is not None for r in out_rows)


def test_temporal_join_out_of_order_replay(spark, sf_dir, tmp_path):
    """The temporal join is a pure function of the input SET: replaying
    chunks out of chronological order (within the watermark bound) must
    yield the same finalized output as the in-order replay."""
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    outs = []
    for tag, reorder in (("inorder", None), ("swapped", {1: 2, 2: 1})):
        replay = tmp_path / f"replay_{tag}"
        chunk_events(spark, sf_dir, str(replay), n_chunks=6, reorder=reorder)
        stream = read_event_stream(spark, str(replay))
        out = run_to_memory(
            temporal_join_events(stream, watermark="45 minutes"),
            str(tmp_path / f"ckpt_{tag}"),
            "append",
        )
        outs.append(collect_sorted(out))
    assert outs[0] == outs[1]
    assert len(outs[0]) > 0


def test_temporal_join_state_survives_restart(spark, sf_dir, tmp_path):
    """T4/S7: version buffers and pending-event buffers live in keyed
    state — a checkpoint restart mid-stream must resume to exactly the
    single-run output."""
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    _restart_equals_uninterrupted(
        spark, sf_dir, tmp_path, lambda s: temporal_join_events(s)
    )


def test_temporal_join_rocksdb_provider_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """The temporal join's keyed version/event buffers under
    RocksDBStateStoreProvider (the 100 TB-state backend) must produce
    exactly the default-provider output."""
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, replay_dir)
        out = run_to_memory(
            temporal_join_events(stream), str(tmp_path / "ckpt_rocks"), "append"
        )
        out_rows = collect_sorted(out)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    stream2 = read_event_stream(spark, replay_dir)
    base = run_to_memory(
        temporal_join_events(stream2), str(tmp_path / "ckpt_hdfs"), "append"
    )
    assert len(out_rows) > 0
    assert out_rows == collect_sorted(base)


def test_temporal_join_edge_cases(spark, tmp_path):
    """Hand-built boundary semantics for the temporal join, pinned
    exactly: same-timestamp version ties break by max seq; a version
    AT the event's timestamp matches (inclusive as-of); events before
    any version emit null-enriched; sub-millisecond version/event
    adjacency resolves by order; version-only keys emit nothing."""
    import pandas as pd

    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    T = pd.Timestamp
    view, click = "view", "click"
    # (event_id, ts, user_id, type, value)
    chunk1 = [  # the dimension history
        (1, T("2024-01-01 10:00:00"), 1, view, 1.0),
        (2, T("2024-01-01 10:00:00"), 1, view, 2.0),  # same-ts tie → wins
        (3, T("2024-01-01 10:05:00"), 1, view, 3.0),
        (4, T("2024-01-01 10:00:00"), 3, view, 9.0),  # version-only key
    ]
    chunk2 = [  # events, delivered in a LATER micro-batch
        (100, T("2024-01-01 10:00:00"), 1, click, 10.0),  # ts == version ts
        (101, T("2024-01-01 09:59:00"), 1, click, 11.0),  # before any version
        (102, T("2024-01-01 10:05:00.000500"), 1, click, 12.0),  # sub-ms after v3
        (103, T("2024-01-01 10:00:00"), 2, click, 13.0),  # key with no versions
    ]
    chunk3 = [  # watermark pusher: far-future event on an unused key
        (999, T("2024-01-01 12:00:00"), 9, click, 0.0),
    ]
    replay = tmp_path / "edge_replay"
    replay.mkdir()
    for i, rows in enumerate((chunk1, chunk2, chunk3)):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["props"] = "{}"
        path = str(replay / f"chunk_{i:03d}.parquet")
        pdf.to_parquet(
            path,
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = read_event_stream(spark, str(replay))
    out = run_to_memory(
        temporal_join_events(stream, watermark="10 minutes"),
        str(tmp_path / "edge_ckpt"),
        "append",
    )
    got = {
        r.event_id: (r.dim_value, r.dim_ts)
        for r in out.collect()
    }
    assert got == {
        100: (2.0, T("2024-01-01 10:00:00")),  # tie at ts → max seq (2)
        101: (None, None),
        102: (3.0, T("2024-01-01 10:05:00")),
        103: (None, None),
        # 999 stays buffered (nothing pushes the watermark past noon);
        # key 3 (version-only) emits nothing
    }


def test_chained_window_agg_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """A8 (multiple stateful operators): hourly counts re-aggregated
    into daily peak hourly rates INSIDE one streaming query must match
    the batch twin on every day the watermark closed."""
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        jobs.hourly_then_daily_peak(stream), str(tmp_path / "ckpt"), "append"
    )
    be = _batch_events(spark, sf_dir)
    batch = (
        be.groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_hour"))
        .groupBy(F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type")
        .agg(F.max("n_hour").alias("peak_hourly"))
        .select(F.col("w2.start").alias("day_start"), "event_type", "peak_hourly")
    )
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    batch_rows = set(map(repr, collect_sorted(batch)))
    for r in out_rows:
        assert repr(r) in batch_rows
    # completeness: every batch day ending well before the final
    # watermark must have been emitted
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("day_start") + F.expr("INTERVAL 1 DAY")
        <= F.lit(max_ts) - F.expr("INTERVAL 20 MINUTES")
    )
    emitted = set(map(repr, out_rows))
    for r in collect_sorted(closed):
        assert repr(r) in emitted


def test_temporal_join_tolerance_equivalence(spark, sf_dir, replay_dir, tmp_path):
    """Tolerance parity with the batch asof_join: a version older than
    event.ts - 1h is stale → null-enriched, identically in both
    engines; and the tolerance must actually bite (some rows that
    matched without it go null with it)."""
    from spark_streaming_join_example_spark.operators.joins import asof_join
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        temporal_join_events(stream, watermark="10 minutes", tolerance="1 hour"),
        str(tmp_path / "ckpt"),
        "append",
    )
    be = _batch_events(spark, sf_dir)
    views = (
        be.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id").alias("d_user"), F.col("ts").alias("dim_ts"))
        .agg(F.max_by("value", "event_id").alias("dim_value"))
    )
    clicks = be.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    twin = asof_join(
        clicks,
        views,
        left_on="user_id",
        right_on="d_user",
        left_ts="ts",
        right_ts="dim_ts",
        how="left",
        tolerance=F.expr("INTERVAL 1 HOUR"),
    ).select("user_id", "event_id", "ts", "value", "dim_ts", "dim_value")
    out_rows = collect_sorted(out)
    assert len(out_rows) > 0
    eid_ix = sorted(out.columns).index("event_id")
    twin_by_event = {t[eid_ix]: t for t in collect_sorted(twin)}
    for r in out_rows:
        assert r == twin_by_event[r[eid_ix]], r[eid_ix]
    # the tolerance bites: strictly fewer matched rows than untoleranced
    dv_ix = sorted(out.columns).index("dim_value")
    n_matched = sum(1 for r in out_rows if r[dv_ix] is not None)
    full_twin = _batch_temporal_twin(spark, sf_dir)
    n_full = full_twin.filter(F.col("dim_value").isNotNull()).count()
    assert 0 < n_matched < n_full


# ---------------------------------------------------------------------------
# Chaos: crash/stop INSIDE a non-final micro-batch (every other restart
# test stops at a clean batch boundary).
# ---------------------------------------------------------------------------


def test_midbatch_crash_exactly_once(spark, sf_dir, tmp_path):
    """S7/S8 chaos: a crash AFTER the sink write but BEFORE the
    checkpoint commit of a NON-final micro-batch must neither
    duplicate nor lose rows, given an idempotent-per-batch_id sink.

    The failure is injected deterministically: batch 1's first attempt
    lands its parquet output and THEN raises — exactly the window where
    foreachBatch's at-least-once contract re-delivers the batch.  On
    restart, batch 1 re-runs with the SAME batch_id; the overwrite of
    its own subdirectory makes the retry a harmless rewrite."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from spark_streaming_join_example_spark.sources.sinks import (
        to_foreach_batch,
    )

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)
    out_dir = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "crashed_once"

    def land(batch_df, batch_id: int) -> None:
        batch_df.select("event_id", "user_id").write.mode(
            "overwrite"
        ).parquet(str(out_dir / f"batch_id={batch_id}"))
        if batch_id == 1 and not marker.exists():
            marker.write_text("crashed")
            raise RuntimeError(
                "injected crash between sink write and checkpoint commit"
            )

    def run():
        stream = read_event_stream(
            spark, str(replay), max_files_per_trigger=1
        )
        q = to_foreach_batch(stream, land, ckpt)
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    assert marker.exists()
    # batch 1's data is on disk although its commit never happened —
    # the dangerous half-written state the restart must absorb
    assert (out_dir / "batch_id=1").exists()
    run()  # restart mid-stream: re-runs batch 1, then drains 2..3
    got = spark.read.parquet(str(out_dir))
    be = _batch_events(spark, sf_dir)
    assert got.count() == be.count()
    assert collect_sorted(got.select("event_id")) == collect_sorted(
        be.select("event_id")
    )


def test_stop_midstream_file_sink_exactly_once(spark, sf_dir, tmp_path):
    """S7 chaos: q.stop() fired while micro-batches are in flight (not
    at a drained boundary) must leave the file sink consistent — the
    restarted query completes the drain with no duplicates and no
    loss, because offsets commit to the WAL before execution and the
    parquet sink's manifest only references committed files."""
    import time as _time

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=8)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = read_event_stream(
            spark, str(replay), max_files_per_trigger=1
        )
        return to_parquet(stream.select("event_id", "user_id"), out_dir, ckpt)

    q = start()
    # interrupt wherever execution happens to be — deliberately NOT
    # synchronized to a batch boundary; 8 single-file batches take
    # several seconds, so this lands mid-stream
    _time.sleep(1.5)
    q.stop()
    q2 = start()  # resume from the WAL and drain the rest
    q2.awaitTermination()
    got = spark.read.parquet(out_dir)
    be = _batch_events(spark, sf_dir)
    assert got.count() == be.count()
    assert collect_sorted(got.select("event_id")) == collect_sorted(
        be.select("event_id")
    )


def test_streaming_vector_index_equivalence(spark, sf_dir, tmp_path):
    """S8+X3: the streaming-maintained IVF index must be
    INDISTINGUISHABLE from a batch build with the same frozen
    quantizer — same (vec_id, cell) assignment for every vector, and
    identical kNN answers through the same query path; and the kNN
    read must prune to the probed cells' partitions."""
    from spark_streaming_join_example_spark.operators.similarity import (
        _assign_cells,
    )
    from spark_streaming_join_example_spark.streaming.vector_index import (
        knn_query_index,
        maintain_vector_index,
        train_quantizer,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cent = train_quantizer(emb, n_cells=8)

    # stream replay: the corpus as 4 arrival chunks
    replay = tmp_path / "replay"
    emb.repartition(4).write.mode("overwrite").parquet(str(replay))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    idx_stream = str(tmp_path / "idx_stream")
    q = maintain_vector_index(
        stream, cent, idx_stream, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    # batch build with the same quantizer
    idx_batch = str(tmp_path / "idx_batch")
    bc = spark.sparkContext.broadcast(cent)
    _assign_cells(emb, bc, 1).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(idx_batch + "/batch_id=0")

    s_assign = collect_sorted(
        spark.read.parquet(idx_stream).select("vec_id", "cell")
    )
    b_assign = collect_sorted(
        spark.read.parquet(idx_batch).select("vec_id", "cell")
    )
    assert s_assign == b_assign
    assert len(s_assign) == emb.count()

    queries = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.orderBy("vec_id").limit(3).collect()
    ]
    # OPTIMIZE: compacting the N-batch layout must not change answers,
    # and must leave exactly one data file per cell
    from spark_streaming_join_example_spark.streaming.vector_index import (
        compact_index,
    )

    idx_compact = str(tmp_path / "idx_compact")
    compact_index(spark, idx_stream, idx_compact)
    # the snapshot carries the frozen quantizer (self-contained)
    from spark_streaming_join_example_spark.streaming.vector_index import (
        load_quantizer,
    )

    assert [list(c) for c in load_quantizer(spark, idx_compact)] == [
        [float(x) for x in c] for c in cent
    ]
    import glob as _glob

    for cdir in _glob.glob(idx_compact + "/cell=*"):
        assert len(_glob.glob(cdir + "/*.parquet")) == 1, cdir

    got_s = knn_query_index(spark, idx_stream, queries, cent, k=5)
    got_b = knn_query_index(spark, idx_batch, queries, cent, k=5)
    got_c = knn_query_index(spark, idx_compact, queries, cent, k=5)
    rows_s = collect_sorted(got_s)
    assert rows_s == collect_sorted(got_b)
    assert rows_s == collect_sorted(got_c)
    assert len(rows_s) == 3 * 5
    # each query's own vector is its rank-1 neighbour (it IS indexed)
    top1 = {r[0]: r for r in rows_s if r[2] == 1}  # cols sorted: q_id, rank...
    cols = sorted(got_s.columns)
    qi, ri, vi = cols.index("q_id"), cols.index("rank"), cols.index("vec_id")
    for r in rows_s:
        if r[ri] == 1:
            assert r[vi] == r[qi]
    # partition pruning: the scan's partition filter carries the probed
    # cells, so only those directories are read
    plan = got_s._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace(
        "PartitionFilters: [isnotnull(cell", "PartitionFilters: [cell"
    ) or "cell#" in plan.split("PartitionFilters")[1].split("]")[0]


def test_vector_index_quantizer_freeze(spark, sf_dir, tmp_path):
    """r9: the IVF quantizer is FROZEN in the index itself (the same
    manifest discipline as the text indexes' _scheme): a maintenance
    restart with retrained centroids refuses with the versioned-rebuild
    hint, and load_quantizer returns exactly the frozen matrix."""
    import pytest as _pytest

    from spark_streaming_join_example_spark.streaming.vector_index import (
        load_quantizer,
        maintain_vector_index,
        train_quantizer,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = train_quantizer(emb, n_cells=8)
    replay = tmp_path / "replay"
    emb.write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "idx")

    def start(ckpt, centroids):
        stream = spark.readStream.schema(emb.schema).parquet(str(replay))
        return maintain_vector_index(
            stream, centroids, idx, str(tmp_path / ckpt)
        )

    start("ck1", cent).awaitTermination()
    frozen = load_quantizer(spark, idx)
    assert [[float(x) for x in c] for c in cent] == [
        list(c) for c in frozen
    ]

    # a DIFFERENT quantizer against the same index dir → refuse
    other = train_quantizer(emb, n_cells=8, seed=7)
    q = start("ck2", other)
    with _pytest.raises(Exception, match="versioned"):
        q.awaitTermination()

    # the frozen one (round-tripped through load_quantizer) restarts fine
    start("ck3", frozen).awaitTermination()


def test_threshold_crossings_with_state_matches_batch(
    spark, sf_dir, replay_dir, tmp_path
):
    """T4: the stateful streaming crossing counter (three scalars of
    keyed state in applyInPandasWithState) over a chronological
    replay converges to the batch q_threshold_crossings rows — the
    last-seen value crosses micro-batch boundaries, so a boundary
    straddling the threshold counts exactly once.  n_crossings is
    monotone per user, so the final state is each user's max emitted
    row."""
    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        threshold_crossings_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    got_rows = run_to_memory(
        threshold_crossings_with_state(stream),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="crossings_state_probe",
    ).collect()
    final: dict = {}
    for r in got_rows:
        cur = final.get(r.user_id)
        if cur is None or r.n_crossings > cur[0]:
            final[r.user_id] = (r.n_crossings, r.first_crossing_id)
    expected = {
        r.user_id: (r.n_crossings, r.first_crossing_id)
        for r in queries_dict()["q_threshold_crossings"](
            spark, sf_dir
        ).collect()
    }
    assert final == expected
    assert expected, "no crossings at this tier; pin vacuous"


def test_threshold_crossings_state_survives_restart(spark, sf_dir, tmp_path):
    """T4/S7: the crossing counter's three-scalar keyed state must
    survive a checkpoint restart — a user whose last pre-stop value
    sits below the threshold and whose first post-restart value sits
    above it counts exactly one crossing, which only real recovered
    state can get right.  update-mode applyInPandasWithState cannot
    drive an append parquet sink, and the memory sink cannot recover
    a checkpoint, so both phases drain through a foreachBatch
    parquet-append sink (the restart-capable escape hatch for
    update-mode operators).  The union of both phases' emissions,
    folded to each user's final (monotone) row, must equal the batch
    q_threshold_crossings output."""
    import glob as _glob
    import os as _os
    import shutil

    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        threshold_crossings_with_state,
    )

    full_replay = tmp_path / "full"
    chunk_events(spark, sf_dir, str(full_replay), n_chunks=6)
    chunks = sorted(
        _glob.glob(_os.path.join(str(full_replay), "*.parquet"))
    )
    part_replay = tmp_path / "partial"
    part_replay.mkdir()

    # The file source orders ready files by MILLISECOND mtime and
    # breaks ties arbitrarily; shutil.copy collapses the chunks into
    # one millisecond, which scrambles replay order — harmless for
    # the order-insensitive ops the shared helper drives, fatal for a
    # sequential state machine.  Stagger mtimes explicitly so the
    # chronological chunk order IS the delivery order.
    def copy_staggered(cs, base):
        for i, c in enumerate(cs):
            dst = part_replay / _os.path.basename(c)
            shutil.copy(c, dst)
            _os.utime(dst, (base + i, base + i))

    import time as _time

    t0 = int(_time.time())
    copy_staggered(chunks[:3], t0 - 600)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        stream = read_event_stream(spark, str(part_replay))
        q = (
            threshold_crossings_with_state(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # phase 1: first 3 chunks
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0, "phase 1 emitted nothing; restart leg vacuous"
    copy_staggered(chunks[3:], t0 - 300)
    drain()  # phase 2: restart on the same checkpoint

    final: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_crossings > cur[0]:
            final[r.user_id] = (r.n_crossings, r.first_crossing_id)
    expected = {
        r.user_id: (r.n_crossings, r.first_crossing_id)
        for r in queries_dict()["q_threshold_crossings"](
            spark, sf_dir
        ).collect()
    }
    assert final == expected
    assert spark.read.parquet(out_dir).count() > n1  # both phases emitted


def test_threshold_crossings_rocksdb_provider_equivalence(
    spark, sf_dir, replay_dir, tmp_path
):
    """The crossing counter's three-scalar keyed state under
    RocksDBStateStoreProvider (the 100 TB-state backend) must produce
    exactly the default-provider emissions over the same replay."""
    from spark_streaming_join_example_spark.streaming.stateful import (
        threshold_crossings_with_state,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, replay_dir)
        rocks = collect_sorted(
            run_to_memory(
                threshold_crossings_with_state(stream),
                str(tmp_path / "ckpt_rocks"),
                output_mode="update",
                name="crossings_rocks",
            )
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    stream2 = read_event_stream(spark, replay_dir)
    base = collect_sorted(
        run_to_memory(
            threshold_crossings_with_state(stream2),
            str(tmp_path / "ckpt_hdfs"),
            output_mode="update",
            name="crossings_hdfs",
        )
    )
    assert rocks and rocks == base


def test_error_bursts_with_state_matches_batch(
    spark, sf_dir, replay_dir, tmp_path
):
    """T4: the stateful chained-error detector (four scalars of keyed
    state — a TIME register instead of threshold_crossings' value
    register) over a chronological replay converges to the batch
    q_error_bursts rows: a burst straddling a micro-batch boundary
    counts exactly once.  n_errors strictly increases across a user's
    emissions, so the final state is each user's max-n_errors row."""
    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        error_bursts_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    got_rows = run_to_memory(
        error_bursts_with_state(stream),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="bursts_state_probe",
    ).collect()
    final: dict = {}
    for r in got_rows:
        cur = final.get(r.user_id)
        if cur is None or r.n_errors > cur[0]:
            final[r.user_id] = (r.n_errors, r.n_chained, r.first_chained_id)
    expected = {
        r.user_id: (r.n_errors, r.n_chained, r.first_chained_id)
        for r in queries_dict()["q_error_bursts"](spark, sf_dir).collect()
    }
    assert final == expected
    assert any(v[1] > 0 for v in expected.values()), (
        "no chained errors at this tier; pin vacuous"
    )


def test_error_bursts_state_survives_restart(spark, sf_dir, tmp_path):
    """T4/S7: the burst detector's TIME register must survive a
    checkpoint restart — a user whose last pre-stop error and first
    post-restart error sit inside the 12 h gap counts exactly one
    chained pair, which only real recovered state can get right.
    Same foreachBatch-parquet drain discipline (and staggered-mtime
    copy) as the crossings restart test; the union of both phases'
    emissions folded to each user's final (max n_errors) row must
    equal the batch q_error_bursts output."""
    import glob as _glob
    import os as _os
    import shutil
    import time as _time

    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        error_bursts_with_state,
    )

    full_replay = tmp_path / "full"
    chunk_events(spark, sf_dir, str(full_replay), n_chunks=6)
    chunks = sorted(
        _glob.glob(_os.path.join(str(full_replay), "*.parquet"))
    )
    part_replay = tmp_path / "partial"
    part_replay.mkdir()

    def copy_staggered(cs, base):
        for i, c in enumerate(cs):
            dst = part_replay / _os.path.basename(c)
            shutil.copy(c, dst)
            _os.utime(dst, (base + i, base + i))

    t0 = int(_time.time())
    copy_staggered(chunks[:3], t0 - 600)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        stream = read_event_stream(spark, str(part_replay))
        q = (
            error_bursts_with_state(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # phase 1: first 3 chunks
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0, "phase 1 emitted nothing; restart leg vacuous"
    copy_staggered(chunks[3:], t0 - 300)
    drain()  # phase 2: restart on the same checkpoint

    final: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_errors > cur[0]:
            final[r.user_id] = (r.n_errors, r.n_chained, r.first_chained_id)
    expected = {
        r.user_id: (r.n_errors, r.n_chained, r.first_chained_id)
        for r in queries_dict()["q_error_bursts"](spark, sf_dir).collect()
    }
    assert final == expected
    assert spark.read.parquet(out_dir).count() > n1  # both phases emitted


def test_locf_with_state_matches_batch_window(
    spark, sf_dir, replay_dir, tmp_path
):
    """J8/T4: the streaming LOCF carry (one flag + one double of keyed
    state, per-row ENRICHMENT output) over a chronological replay
    reproduces the batch ignore-nulls window per event — including
    NULLs before a user's first purchase, and a purchase row seeing
    the PREVIOUS purchase (exclusive frame end).  Values pass through
    untouched in both paths, so doubles compare exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from spark_streaming_join_example_spark.sources.batch import load_table
    from spark_streaming_join_example_spark.streaming.stateful import (
        locf_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    got = {
        r.event_id: r.locf_value
        for r in run_to_memory(
            locf_with_state(stream),
            str(tmp_path / "ckpt"),
            output_mode="update",
            name="locf_state_probe",
        ).collect()
    }

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    expected = {
        r.event_id: r.locf_value
        for r in e.withColumn(
            "locf_value",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w),
        ).select("event_id", "locf_value").collect()
    }
    assert got == expected
    n_null = sum(1 for v in expected.values() if v is None)
    assert 0 < n_null < len(expected), "imputation legs vacuous"


def _batch_purchase_sessions(spark, sf_dir):
    be = _batch_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return (
        be.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def test_purchase_sessions_with_state_matches_batch(
    spark, sf_dir, replay_dir, tmp_path
):
    """T4/A7: the purchase-session twin (q_purchase_session_stats'
    per-session relation) must agree with the batch session_window
    computation — and BOTH emission paths must fire: 'event' (closed
    by a later same-user purchase) and 'timer' (event-time timeout),
    proving the setTimeoutTimestamp -> hasTimedOut API is exercised,
    which no other stateful twin touches."""
    from spark_streaming_join_example_spark.streaming.stateful import (
        purchase_sessions_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        purchase_sessions_with_state(stream),
        str(tmp_path / "ckpt"),
        "append",
    )
    out_rows = out.collect()
    assert len(out_rows) > 0
    markers = {r.closed_by for r in out_rows}
    assert markers == {"event", "timer"}, markers

    full = _batch_purchase_sessions(spark, sf_dir)
    full_rows = set(map(repr, collect_sorted(full)))
    stripped = collect_sorted(out.drop("closed_by"))
    # every emitted session must exist verbatim in the batch result...
    for r in stripped:
        assert repr(r) in full_rows
    # ...and all batch sessions closed well before the final watermark
    # (45 min delay + margin) must have been emitted.
    be = _batch_events(spark, sf_dir)
    max_ts = be.agg(F.max("ts")).collect()[0][0]
    closed = full.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 90 MINUTES")
    )
    emitted = set(map(repr, stripped))
    for r in collect_sorted(closed):
        assert repr(r) in emitted


def test_purchase_sessions_state_survives_restart(spark, sf_dir, tmp_path):
    """S7/T4: a purchase session whose first half was buffered before a
    mid-stream stop must merge with its second half after the restart —
    the interrupted run's closed-session set must equal an
    uninterrupted run's.  closed_by is dropped for the comparison:
    WHICH path closes a session depends on micro-batch composition;
    the session values do not."""
    from spark_streaming_join_example_spark.streaming.stateful import (
        purchase_sessions_with_state,
    )

    _restart_equals_uninterrupted(
        spark,
        sf_dir,
        tmp_path,
        lambda s: purchase_sessions_with_state(s).drop("closed_by"),
    )


def test_type_runs_with_state_matches_batch(
    spark, sf_dir, replay_dir, tmp_path
):
    """T4: the stateful equality-chain run tracker (a CATEGORICAL
    register — the open run's type — plus its length) over a
    chronological replay converges to the batch q_longest_type_run
    rows: a run straddling a micro-batch boundary counts as ONE run.
    n_events strictly increases across a user's emissions, so the
    final state is each user's max-n_events row."""
    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        type_runs_with_state,
    )

    stream = read_event_stream(spark, replay_dir)
    got_rows = run_to_memory(
        type_runs_with_state(stream),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="type_runs_probe",
    ).collect()
    final: dict = {}
    for r in got_rows:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.longest_run, r.n_runs)
    got = {u: v[1:] for u, v in final.items()}
    expected = {
        r.user_id: (r.longest_run, r.n_runs)
        for r in queries_dict()["q_longest_type_run"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected
    assert any(v[0] > 1 for v in expected.values()), (
        "no run longer than 1 at this tier; pin vacuous"
    )


def test_type_runs_state_survives_restart(spark, sf_dir, tmp_path):
    """T4/S7: the open-run register must survive a checkpoint restart —
    a run whose first half was drained before the stop and second half
    arrives after it must count as ONE run, which only real recovered
    state can get right.  Same foreachBatch-parquet drain discipline
    (and staggered-mtime copy) as the other update-mode twins."""
    import glob as _glob
    import os as _os
    import shutil
    import time as _time

    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )
    from spark_streaming_join_example_spark.streaming.stateful import (
        type_runs_with_state,
    )

    full_replay = tmp_path / "full"
    chunk_events(spark, sf_dir, str(full_replay), n_chunks=6)
    chunks = sorted(
        _glob.glob(_os.path.join(str(full_replay), "*.parquet"))
    )
    part_replay = tmp_path / "partial"
    part_replay.mkdir()

    def copy_staggered(cs, base):
        for i, c in enumerate(cs):
            dst = part_replay / _os.path.basename(c)
            shutil.copy(c, dst)
            _os.utime(dst, (base + i, base + i))

    t0 = int(_time.time())
    copy_staggered(chunks[:3], t0 - 600)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        stream = read_event_stream(spark, str(part_replay))
        q = (
            type_runs_with_state(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # phase 1: first 3 chunks
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0, "phase 1 emitted nothing; restart leg vacuous"
    copy_staggered(chunks[3:], t0 - 300)
    drain()  # phase 2: restart on the same checkpoint

    final: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.longest_run, r.n_runs)
    got = {u: v[1:] for u, v in final.items()}
    expected = {
        r.user_id: (r.longest_run, r.n_runs)
        for r in queries_dict()["q_longest_type_run"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected
    assert spark.read.parquet(out_dir).count() > n1  # both phases emitted


def _batch_rate_limit_verdicts(spark, sf_dir, window_us, quota):
    """Per-event admit/suppress verdicts of the fixed-window throttle —
    the per-row relation q_rate_limit aggregates away (parameterized:
    the registered 10-min/3 quota suppresses nothing at the pytest
    tier, so the pin runs at 12 h/2 — 109 suppressions at sf0.001,
    probed)."""
    from pyspark.sql.window import Window

    be = _batch_events(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", (F.unix_micros("ts") / F.lit(window_us)).cast("long")
    ).orderBy("ts", "event_id")
    return be.select(
        "user_id",
        "event_id",
        (F.row_number().over(w) <= quota).alias("kept"),
    )


def test_rate_limit_with_state_matches_batch(
    spark, sf_dir, replay_dir, tmp_path
):
    """T4: the stateful throttle (cyclic two-long register: open bucket
    id + admitted count, RESET on bucket change) over a chronological
    replay emits exactly the batch per-event verdicts — a user who
    exhausted a bucket's quota late in one micro-batch must have the
    same bucket's next event suppressed in the following batch.
    Output rows == input rows (each event verdict emitted once), so
    the comparison is the full row set."""
    from spark_streaming_join_example_spark.streaming.stateful import (
        rate_limit_with_state,
    )

    window_us, quota = 43_200_000_000, 2  # 12 h / 2: non-vacuous here
    stream = read_event_stream(spark, replay_dir)
    out = run_to_memory(
        rate_limit_with_state(stream, window_us=window_us, quota=quota),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="rate_limit_probe",
    )
    got = {(r.user_id, r.event_id): r.kept for r in out.collect()}
    expected = {
        (r.user_id, r.event_id): r.kept
        for r in _batch_rate_limit_verdicts(
            spark, sf_dir, window_us, quota
        ).collect()
    }
    assert got == expected
    n_suppressed = sum(1 for v in expected.values() if not v)
    assert n_suppressed > 0, "no suppressions at this tier; pin vacuous"


def test_rate_limit_state_survives_restart(spark, sf_dir, tmp_path):
    """T4/S7: the throttle's bucket register must survive a checkpoint
    restart — a user who used part of a bucket's quota before the stop
    must have the remainder (and only the remainder) admitted after
    the restart.  foreachBatch-parquet drain + staggered-mtime copies
    like the other update-mode twins; the union of both phases'
    per-event verdicts must equal the batch relation exactly."""
    import glob as _glob
    import os as _os
    import shutil
    import time as _time

    from spark_streaming_join_example_spark.streaming.stateful import (
        rate_limit_with_state,
    )

    window_us, quota = 43_200_000_000, 2
    full_replay = tmp_path / "full"
    chunk_events(spark, sf_dir, str(full_replay), n_chunks=6)
    chunks = sorted(_glob.glob(_os.path.join(str(full_replay), "*.parquet")))
    part_replay = tmp_path / "partial"
    part_replay.mkdir()

    def copy_staggered(cs, base):
        for i, c in enumerate(cs):
            dst = part_replay / _os.path.basename(c)
            shutil.copy(c, dst)
            _os.utime(dst, (base + i, base + i))

    t0 = int(_time.time())
    copy_staggered(chunks[:3], t0 - 600)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        stream = read_event_stream(spark, str(part_replay))
        q = (
            rate_limit_with_state(stream, window_us=window_us, quota=quota)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # phase 1
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    copy_staggered(chunks[3:], t0 - 300)
    drain()  # phase 2: restart on the same checkpoint

    got = {
        (r.user_id, r.event_id): r.kept
        for r in spark.read.parquet(out_dir).collect()
    }
    expected = {
        (r.user_id, r.event_id): r.kept
        for r in _batch_rate_limit_verdicts(
            spark, sf_dir, window_us, quota
        ).collect()
    }
    assert got == expected
    assert sum(1 for v in expected.values() if not v) > 0


# ---------------------------------------------------------------------------
# Out-of-order arrival pins for the r14-ADVICE stateful-twin fixes —
# synthetic replays whose LATE events are admitted by the watermark,
# the disorder path the fixture replays (chronological chunks) never
# exercise.
# ---------------------------------------------------------------------------


def _write_synthetic_chunks(tmp_path, chunks):
    """Write a list of row-dict lists as parquet chunk files with
    strictly increasing mtimes (one micro-batch each under
    maxFilesPerTrigger=1).  Rows carry the full EVENTS schema; ts is
    given in SECONDS since an arbitrary epoch for readability."""
    import time as _time

    import pandas as _pd

    replay = tmp_path / "synthetic_replay"
    replay.mkdir()
    base = _time.time() - 600
    for i, rows in enumerate(chunks):
        pdf = _pd.DataFrame(
            {
                "event_id": [r["event_id"] for r in rows],
                "ts": _pd.to_datetime(
                    [r["ts"] for r in rows], unit="s", utc=False
                ),
                "user_id": [r["user_id"] for r in rows],
                "event_type": [r.get("event_type", "purchase") for r in rows],
                "value": [float(r.get("value", 1.0)) for r in rows],
                "props": [r.get("props", "{}") for r in rows],
            }
        )
        path = replay / f"chunk_{i:03d}.parquet"
        pdf.to_parquet(
            str(path),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(str(path), (base + i, base + i))
    return str(replay)


def test_purchase_sessions_late_event_cannot_shrink_session(
    spark, tmp_path
):
    """r14 ADVICE (medium): a late purchase the 45-min watermark admits
    lands INSIDE the open session; the old `cur[1] = t` register would
    regress last_us to the straggler and then SPLIT the session when
    the next event measured its gap against the shrunken end.  The
    crafted replay makes that split observable: user 1's purchases at
    t=B and t=B+1680 s (28 min) arrive in batch 1; a straggler at
    t=B+30 s and a successor at t=B+3360 s (28 min after the TRUE last
    event, 55.5 min after the straggler) arrive in batch 2 — one
    session per the batch session_window semantics, two under the
    pre-fix register.  A far-future event from another user drains the
    watermark so the session closes by timer.  (B is a non-zero base:
    the initial watermark sits at epoch 0, and a row at/below the
    watermark would be dropped before reaching the state function.)"""
    from spark_streaming_join_example_spark.streaming.stateful import (
        purchase_sessions_with_state,
    )

    h = 3600
    B = 1_000_000  # clear of the epoch-0 initial watermark
    replay = _write_synthetic_chunks(
        tmp_path,
        [
            [  # batch 1: two purchases 28 min apart
                {"event_id": 1, "ts": B, "user_id": 1},
                {"event_id": 2, "ts": B + 1680, "user_id": 1},
            ],
            [  # batch 2: admitted straggler + in-gap successor
                {"event_id": 3, "ts": B + 30, "user_id": 1},
                {"event_id": 4, "ts": B + 3360, "user_id": 1},
            ],
            [  # batch 3: watermark driver (other user, hours later)
                {"event_id": 5, "ts": B + 10 * h, "user_id": 99},
            ],
            [  # batch 4: one more advance so batch 3's max becomes
                # the watermark every stateful timer sees
                {"event_id": 6, "ts": B + 11 * h, "user_id": 99},
            ],
        ],
    )
    stream = read_event_stream(spark, replay)
    out = run_to_memory(
        purchase_sessions_with_state(stream),
        str(tmp_path / "ckpt"),
        "append",
    )
    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(),
         r.n_events)
        for r in out.collect()
    }
    # Batch semantics: ONE user-1 session [0 s, 3360 s + 30 min gap).
    batch = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .parquet(replay)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("s"),
            F.col("w.end").alias("e"),
            "n",
        )
    )
    expected = {
        (r.user_id, r.s.isoformat(), r.e.isoformat(), r.n)
        for r in batch.collect()
        if r.user_id == 1
    }
    got_user1 = {g for g in got if g[0] == 1}
    assert got_user1 == expected, (got_user1, expected)
    assert len(got_user1) == 1  # the pre-fix register emitted two


def test_rate_limit_late_bucket_cannot_reset_quota(spark, tmp_path):
    """r14 ADVICE (low): a late event from an EARLIER window must not
    reset the open bucket's admitted count.  The crafted replay sends
    bucket-2 events (quota exhausted), then bucket-1 stragglers, then
    MORE bucket-2 events: the old single-bucket register reset twice
    and re-admitted bucket-2 events beyond the quota; the recent-bucket
    map charges each event to its own window.  Within each bucket the
    arrival order equals (ts, event_id) order, so the per-event
    verdicts must equal the batch row_number definition exactly."""
    from pyspark.sql.window import Window
    from spark_streaming_join_example_spark.streaming.stateful import (
        rate_limit_with_state,
    )

    window_us, quota = 3_600_000_000, 2  # 1 h windows / 2 admitted
    h = 3600
    replay = _write_synthetic_chunks(
        tmp_path,
        [
            [  # batch 1: bucket 12h — third event exhausts the quota
                {"event_id": 1, "ts": 12 * h + 300, "user_id": 1},
                {"event_id": 2, "ts": 12 * h + 600, "user_id": 1},
                {"event_id": 3, "ts": 12 * h + 900, "user_id": 1},
            ],
            [  # batch 2: bucket 11h stragglers (their own quota)
                {"event_id": 4, "ts": 11 * h + 300, "user_id": 1},
                {"event_id": 5, "ts": 11 * h + 600, "user_id": 1},
                {"event_id": 6, "ts": 11 * h + 1200, "user_id": 1},
            ],
            [  # batch 3: bucket 12h again — must stay exhausted
                {"event_id": 7, "ts": 12 * h + 1200, "user_id": 1},
                {"event_id": 8, "ts": 12 * h + 1500, "user_id": 1},
            ],
        ],
    )
    stream = read_event_stream(spark, replay)
    out = run_to_memory(
        rate_limit_with_state(stream, window_us=window_us, quota=quota),
        str(tmp_path / "ckpt"),
        output_mode="update",
        name="rate_limit_disorder_probe",
    )
    got = {(r.user_id, r.event_id): r.kept for r in out.collect()}
    be = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(replay)
    w = Window.partitionBy(
        "user_id", (F.unix_micros("ts") / F.lit(window_us)).cast("long")
    ).orderBy("ts", "event_id")
    expected = {
        (r.user_id, r.event_id): r.kept
        for r in be.select(
            "user_id",
            "event_id",
            (F.row_number().over(w) <= quota).alias("kept"),
        ).collect()
    }
    assert got == expected, (got, expected)
    # non-vacuous: both buckets saw suppressions, and the late bucket
    # admitted exactly its own quota
    assert [expected[(1, i)] for i in (1, 2, 3)] == [True, True, False]
    assert [expected[(1, i)] for i in (4, 5, 6)] == [True, True, False]
    assert [expected[(1, i)] for i in (7, 8)] == [False, False]
