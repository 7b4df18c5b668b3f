"""Source-layer tests: the Kafka payload decode step (offline, on a
synthetic Kafka-shaped frame) and the JSON file streaming source."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from spark_streaming_join_example_spark import load_table
from spark_streaming_join_example_spark.sources.kafka import parse_json_payload
from spark_streaming_join_example_spark.streaming import run_to_memory

from .conftest import collect_sorted


def _kafka_frame(spark, payloads):
    """Rows shaped exactly like the Kafka source's output."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [(b"k%d" % i, p.encode(), ts) for i, p in enumerate(payloads)]
    return spark.createDataFrame(
        rows, "key binary, value binary, timestamp timestamp"
    )


def test_parse_json_payload_happy_path(spark):
    kdf = _kafka_frame(
        spark,
        ['{"user_id": 7, "event_type": "click", "value": 1.5}',
         '{"user_id": 8, "event_type": "view", "value": 0.25}'],
    )
    out = parse_json_payload(
        kdf, "user_id LONG, event_type STRING, value DOUBLE, _corrupt STRING"
    )
    rows = {r.user_id: (r.event_type, r.value, r._corrupt) for r in out.collect()}
    assert rows == {7: ("click", 1.5, None), 8: ("view", 0.25, None)}


def test_parse_json_payload_corrupt_records_survive(spark):
    kdf = _kafka_frame(
        spark,
        ['{"user_id": 1, "event_type": "click", "value": 2.0}',
         'not json at all{{{',
         '{"user_id": "BAD_TYPE_FOR_LONG!", "event_type": 3}'],
    )
    out = parse_json_payload(
        kdf, "user_id LONG, event_type STRING, value DOUBLE, _corrupt STRING"
    )
    rows = out.collect()
    assert len(rows) == 3  # one bad record never kills the query
    good = [r for r in rows if r._corrupt is None and r.user_id is not None]
    bad = [r for r in rows if r._corrupt is not None]
    assert len(good) == 1 and good[0].user_id == 1
    assert len(bad) >= 1 and "not json" in bad[0]._corrupt


def test_parse_json_payload_appends_corrupt_field(spark):
    """A schema WITHOUT _corrupt still captures malformed payloads —
    the helper appends the field (from_json only routes bad records to
    columnNameOfCorruptRecord when it exists in the schema)."""
    kdf = _kafka_frame(
        spark,
        ['{"user_id": 1, "event_type": "click", "value": 2.0}',
         'not json at all{{{'],
    )
    out = parse_json_payload(kdf, "user_id LONG, event_type STRING, value DOUBLE")
    assert "_corrupt" in out.columns
    rows = out.collect()
    bad = [r for r in rows if r._corrupt is not None]
    assert len(bad) == 1 and "not json" in bad[0]._corrupt
    good = [r for r in rows if r._corrupt is None]
    assert len(good) == 1 and good[0].user_id == 1


def test_json_file_streaming_source(spark, sf_dir, tmp_path):
    """S2 (json flavor): chunked JSON replay ≡ the batch frame."""
    be = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    jdir = str(tmp_path / "json_replay")
    be.repartition(4).write.mode("overwrite").json(jdir)
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 2)
        .json(jdir)
    )
    out = run_to_memory(stream, str(tmp_path / "ckpt"), "append")
    assert collect_sorted(out) == collect_sorted(be)


def test_observe_metrics(spark, sf_dir):
    """observe(): accumulator-style data-quality metrics collected
    during a normal action — no second scan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    out = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_discount") > 0.1, 1).otherwise(0)).alias("n_big_disc"),
        F.max("l_shipdate").alias("max_ship"),
    ).filter(F.col("l_quantity") > 25)
    kept = out.count()
    m = obs.get
    assert m["n_rows"] == li.count()       # metrics saw ALL rows pre-filter
    assert 0 < kept < m["n_rows"]
    assert m["n_big_disc"] >= 0 and m["max_ship"] is not None


def test_rocksdb_state_store_provider(spark, sf_dir, tmp_path):
    """The RocksDB state store provider (SCALE.md's large-state
    recommendation) actually runs in this environment: a streaming
    dedup keyed on event_id with RocksDB-backed state."""
    from spark_streaming_join_example_spark.streaming import (
        chunk_events,
        read_event_stream,
        run_to_memory,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        replay = tmp_path / "replay"
        chunk_events(spark, sf_dir, str(replay), n_chunks=4)
        stream = read_event_stream(spark, str(replay))
        out = run_to_memory(
            stream.dropDuplicates(["event_id"]).select("event_id"),
            str(tmp_path / "ckpt"),
            "append",
        )
        batch_n = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
        assert out.count() == batch_n
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_multi_format_round_trip(spark, sf_dir, tmp_path):
    """S1-adjacent: the engine's tables survive a write→read round
    trip in every batch file format Spark ships (parquet, orc, json,
    csv) with explicit schemas — no inference jobs, no value drift."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table

    nation = load_table(spark, sf_dir, "nation")
    want = sorted(map(tuple, nation.collect()))
    schema = nation.schema

    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        w = nation.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        w.format(fmt).save(path)
        r = spark.read.schema(schema)
        if fmt == "csv":
            r = r.option("header", True)
        got = sorted(map(tuple, r.format(fmt).load(path).collect()))
        assert got == want, fmt


def test_parquet_writer_options_partitioned_sorted(spark, sf_dir, tmp_path):
    """Writer surface: partitionBy + sortWithinPartitions + compression
    produce a layout whose scan still returns identical data."""
    from spark_streaming_join_example_spark import load_table

    orders = load_table(spark, sf_dir, "orders").limit(1000)
    path = str(tmp_path / "orders_part")
    (
        orders.sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .option("compression", "zstd")
        .parquet(path)
    )
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert set(got.columns) == set(orders.columns)


def test_output_file_count_management(spark, sf_dir, tmp_path):
    """Output-layout knobs a 100 TB writer lives by: repartition(n)
    controls file count (one file per task), and maxRecordsPerFile
    splits oversized tasks — small-file storms and giant-file stragglers
    are both layout choices, not accidents."""
    import glob as _glob

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    n_rows = li.count()

    out1 = str(tmp_path / "one_file")
    li.repartition(1).write.mode("overwrite").parquet(out1)
    assert len(_glob.glob(out1 + "/*.parquet")) == 1

    out2 = str(tmp_path / "eight_files")
    li.repartition(8).write.mode("overwrite").parquet(out2)
    assert len(_glob.glob(out2 + "/*.parquet")) == 8

    cap = max(1, n_rows // 10)
    out3 = str(tmp_path / "capped")
    (
        li.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", cap)
        .parquet(out3)
    )
    files3 = _glob.glob(out3 + "/*.parquet")
    assert len(files3) >= 10  # one logical task split into capped files
    assert spark.read.parquet(out3).count() == n_rows


def test_events_ts_encoding_sniff(spark, tmp_path):
    """The fixture generator has shipped events.ts as int64 nanos AND as
    parquet timestamp[us] across refreshes (the round-3 refresh flipped
    it, silently compressing every timestamp 1000x under the old
    nanos-only loader).  load_table must sniff the footer and normalize
    both encodings to the same TimestampType(us) values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    micros = [1704067200_000_000 + i * 37_000_001 for i in range(5)]
    cols = {
        "event_id": pa.array(range(5), pa.int64()),
        "user_id": pa.array([7] * 5, pa.int64()),
        "event_type": pa.array(["click"] * 5),
        "value": pa.array([1.5] * 5, pa.float64()),
        "props": pa.array(["{}"] * 5),
    }

    ns_dir = tmp_path / "ns" / "events.parquet"
    us_dir = tmp_path / "us" / "events.parquet"
    ns_dir.parent.mkdir(parents=True)
    us_dir.parent.mkdir(parents=True)
    # nanos fixture stores sub-microsecond noise that truncation drops.
    pq.write_table(
        pa.table({**cols, "ts": pa.array([m * 1000 + 777 for m in micros], pa.int64())}),
        ns_dir,
    )
    pq.write_table(
        pa.table({**cols, "ts": pa.array(micros, pa.timestamp("us"))}),
        us_dir,
    )

    a = load_table(spark, str(tmp_path / "ns"), "events")
    b = load_table(spark, str(tmp_path / "us"), "events")
    assert isinstance(a.schema["ts"].dataType, TimestampType)
    assert a.schema == b.schema
    assert collect_sorted(a) == collect_sorted(b)


def test_observe_metrics_batch(spark, sf_dir):
    """df.observe() must surface pipeline health metrics (row count,
    null count, sum) as a side channel of a normal action — the
    zero-cost instrumentation hook a production pipeline attaches to
    every stage boundary (metrics ride the existing job; no second
    scan)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from spark_streaming_join_example_spark.sources.batch import load_table

    obs = Observation("health")
    o = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias(
            "null_prices"
        ),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )
    n = o.filter(F.col("o_totalprice") > 0).count()
    m = obs.get
    assert m["rows"] >= n > 0
    assert m["null_prices"] == 0
    # the observed exact-cents sum must equal the direct aggregate
    direct = (
        load_table(spark, sf_dir, "orders")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
        .collect()[0][0]
    )
    assert m["sum_cents"] == direct


def test_python_datasource_batch(spark):
    """S-family: the custom Python DataSource's batch reader — the
    driver plans ranges only; rows generate executor-side and the
    partition count is honored."""
    from spark_streaming_join_example_spark.sources.pydatasource import (
        EventGenDataSource,
    )

    spark.dataSource.register(EventGenDataSource)
    df = (
        spark.read.format("eventgen")
        .option("rows", 1000)
        .option("numPartitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    rows = df.collect()
    # ids cover the range exactly: no gaps, no duplicates
    assert sorted(r.event_id for r in rows) == list(range(1000))
    assert {r.event_type for r in rows} <= {
        "view", "click", "purchase", "signup", "error"
    }
    # determinism: a re-read is byte-identical
    again = spark.read.format("eventgen").option("rows", 1000).option(
        "numPartitions", 3
    ).load().collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_python_datasource_stream_prefix_equals_batch(spark, tmp_path):
    """The streaming reader drained over checkpointed offsets must
    equal the batch read of the same index range — exactly-once by
    construction (rows are a pure function of the global index), and
    a restart on the same checkpoint emits nothing new."""
    from spark_streaming_join_example_spark.sources.pydatasource import (
        EventGenDataSource,
    )

    spark.dataSource.register(EventGenDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("eventgen")
            .option("maxRows", 1000)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = spark.read.parquet(out)
    batch = (
        spark.read.format("eventgen").option("rows", 1000).load()
    )
    assert got.count() == 1000
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )
    drain()  # restart on drained checkpoint: no new rows
    assert spark.read.parquet(out).count() == 1000


def test_audit_sink_batch_commit(spark, tmp_path):
    """Custom writer two-phase commit: task messages aggregate on the
    driver, the manifest publishes atomically, totals are exact."""
    import json

    from spark_streaming_join_example_spark.sources.audit_sink import (
        AuditSinkDataSource,
    )

    spark.dataSource.register(AuditSinkDataSource)
    path = str(tmp_path / "audit")
    df = spark.range(0, 1000, numPartitions=7).withColumn(
        "v", F.col("id") * 2
    )
    df.write.format("auditsink").option("path", path).mode("append").save()
    m = json.load(open(path + "/manifest.json"))
    assert m["n"] == 1000
    assert m["key_sum"] == sum(range(1000))
    assert m["tasks"] == 7
    # deterministic content checksum: re-writing the same data with a
    # different partitioning publishes the same checksum (XOR-of-CRC is
    # order- and partitioning-independent)
    path2 = str(tmp_path / "audit2")
    df.repartition(3).write.format("auditsink").option("path", path2).mode(
        "append"
    ).save()
    m2 = json.load(open(path2 + "/manifest.json"))
    assert m2["checksum"] == m["checksum"] and m2["n"] == m["n"]


def test_audit_sink_abort_leaves_tombstone_not_manifest(spark, tmp_path):
    """A failing write task must route to abort(): no manifest is
    published, the tombstone is."""
    import json
    import os

    import pytest

    from spark_streaming_join_example_spark.sources.audit_sink import (
        AuditSinkDataSource,
    )

    spark.dataSource.register(AuditSinkDataSource)
    path = str(tmp_path / "audit")

    @F.udf("long")
    def poison(x):
        if x == 555:
            raise RuntimeError("poison row")
        return x

    df = spark.range(0, 1000, numPartitions=4).select(poison("id").alias("id"))
    with pytest.raises(Exception):
        df.write.format("auditsink").option("path", path).mode(
            "append"
        ).save()
    assert not os.path.exists(path + "/manifest.json")
    assert json.load(open(path + "/aborted.json"))["aborted"] is True


def test_audit_sink_streaming_per_batch_manifests(spark, sf_dir, tmp_path):
    """Streaming writer: one manifest per micro-batch keyed by
    batch_id; their totals equal the batch totals; a restart on the
    drained checkpoint publishes nothing new."""
    import glob as _glob
    import json

    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.sources.audit_sink import (
        AuditSinkDataSource,
    )
    from spark_streaming_join_example_spark.streaming import (
        chunk_events,
        read_event_stream,
    )

    spark.dataSource.register(AuditSinkDataSource)
    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)
    path = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            read_event_stream(spark, str(replay), max_files_per_trigger=1)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("auditsink")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    manifests = sorted(_glob.glob(path + "/batch-*.json"))
    assert len(manifests) == 4
    total = sum(json.load(open(p))["n"] for p in manifests)
    be = load_table(spark, sf_dir, "events")
    assert total == be.count()
    key_total = sum(json.load(open(p))["key_sum"] for p in manifests)
    assert key_total == be.agg(F.sum("event_id")).collect()[0][0]
    drain()  # restart: drained checkpoint → no new manifests
    assert sorted(_glob.glob(path + "/batch-*.json")) == manifests


# ---------------------------------------------------------------------------
# r15 scan fan-out (sources/batch.py::scan_fanout)
# ---------------------------------------------------------------------------


def test_scan_fanout_widens_small_scan_without_changing_rows(spark, sf_dir):
    """A KB-sized table fans out to exactly defaultParallelism
    partitions and the row multiset is untouched — the physical-only
    contract every consumer (corpus_shingle_toks, the cross-doc ngram
    explode) relies on."""
    from spark_streaming_join_example_spark.sources.batch import scan_fanout

    base = load_table(spark, sf_dir, "documents")
    fanned = scan_fanout(base, sf_dir, "documents")
    p = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == p
    assert collect_sorted(fanned) == collect_sorted(base)


def test_scan_fanout_noops_for_large_inputs(spark, sf_dir, monkeypatch):
    """The fan-out must NEVER add a shuffle at production sizes: a
    table whose bytes reach defaultParallelism x openCost (4 MB) is
    returned unchanged (the scan already reaches core-count splits)."""
    import os as _os

    import spark_streaming_join_example_spark.sources.batch as B

    base = load_table(spark, sf_dir, "documents")

    real_getsize = _os.path.getsize
    monkeypatch.setattr(
        B.os.path, "getsize", lambda p: max(real_getsize(p), 1 << 40)
    )
    assert B.scan_fanout(base, sf_dir, "documents") is base


def test_scan_fanout_treats_unknown_size_as_noop(spark, sf_dir, monkeypatch):
    """r16 (ADVICE r15): an empty glob (layout drift, nested
    non-parquet names, object-store path the local glob can't see)
    must read as size UNKNOWN → scan returned unchanged — never as
    'tiny' → unconditional repartition, which could insert a full
    shuffle of a large table."""
    import spark_streaming_join_example_spark.sources.batch as B

    base = load_table(spark, sf_dir, "documents")

    # the documents fixture is a single parquet file locally, so force
    # the directory branch and make its glob come back empty — the
    # object-store / layout-drift shape the guard exists for
    monkeypatch.setattr(B.os.path, "isdir", lambda p: True)
    monkeypatch.setattr(B.glob, "glob", lambda *a, **k: [])
    assert B.scan_fanout(base, sf_dir, "documents") is base
