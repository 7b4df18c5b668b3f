"""Physical-plan audits (SURVEY.md §4): correctness tests prove the
answers; these prove the PLANS are the ones that survive a 100 TB
scale-up — filters and projections reach the parquet scan, small dims
broadcast, top-k never materializes a global sort, aggregates combine
map-side, and the hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from spark_streaming_join_example_spark import ensure_runtime_confs
from spark_streaming_join_example_spark.plans.registry import queries_dict


def plan_of(df, mode: str = "formatted") -> str:
    # r16: the JVM explainString directly — the old
    # redirect_stdout(df.explain()) capture swapped the GLOBAL
    # sys.stdout, so concurrent explains (the §2.6-parallelized
    # registry audit below) bled plan text into each other's buffers
    # rstrip: explainString carries a trailing blank line that the old
    # print-capture path did not; block-splitting parsers (split on
    # "\n\n") would see a phantom empty block
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    ).rstrip("\n")


@pytest.fixture(scope="module")
def qd():
    return queries_dict()


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir, qd):
    p = plan_of(qd["q_pricing_summary"](spark, sf_dir))
    # predicate reaches the parquet scan (row-group/page skipping)
    assert "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]
    # column pruning: the scan must not read unused wide columns
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    # map-side partial + final aggregate (shuffle carries groups, not rows)
    assert p.count("HashAggregate") >= 2
    # the whole scan→filter→partial-agg pipeline fuses into generated
    # code (AQE only reveals codegen stages in the executed final plan)
    df = qd["q_pricing_summary"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    assert "*(" in final and "*(" in final.split("HashAggregate")[0] + "HashAggregate"


def test_dim_joins_broadcast(spark, sf_dir, qd):
    # every dimension join in the enrichment query broadcasts — the
    # fact side is never shuffled for a small-dim join
    p = plan_of(qd["q_broadcast_enrich"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    p3 = plan_of(qd["q_revenue_join3"](spark, sf_dir))
    assert "BroadcastHashJoin" in p3


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir, qd):
    p = plan_of(qd["q_top_orders"](spark, sf_dir))
    # per-partition top-k + merge; a global Sort would shuffle everything
    assert "TakeOrderedAndProject" in p


def test_rank_filter_gets_group_limit(spark, sf_dir, qd):
    # rank() <= k is rewritten to WindowGroupLimit: each partition
    # keeps k rows BEFORE the window shuffle/sort
    p = plan_of(qd["q_window_rank"](spark, sf_dir))
    assert "WindowGroupLimit" in p
    # same pin for the joined-key top-k (r19 W4 stock): the row_number
    # filter over the supplier-nation revenue agg must group-limit,
    # never rank the full relation
    p2 = plan_of(qd["q_top_parts_per_nation"](spark, sf_dir))
    assert "WindowGroupLimit" in p2


def test_semi_join_stays_semi(spark, sf_dir, qd):
    # left-semi never materializes right-side columns
    p = plan_of(qd["q_semi_join"](spark, sf_dir))
    assert "LeftSemi" in p


def test_streaming_join_plan_is_symmetric_hash(spark, sf_dir, tmp_path):
    """The stream-stream join must plan as StreamingSymmetricHashJoin
    with watermark-driven state cleanup (not a batch join)."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.streaming import (
        chunk_events,
        jobs,
        read_event_stream,
    )

    d = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(d), n_chunks=2)
    stream = read_event_stream(spark, str(d))
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = jobs.stream_stream_join(clicks, buys)
    q = (
        joined.writeStream.format("memory")
        .queryName("plan_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()  # physical plan of the last executed micro-batch
        assert "StreamingSymmetricHashJoin" in buf.getvalue()
    finally:
        q.stop()


def test_exact_sum_is_integer_sum(spark, sf_dir, qd):
    # partitioning-independence comes from summing longs, not doubles:
    # the aggregate buffer must be bigint, with the double divide after
    p = plan_of(qd["q_pricing_summary"](spark, sf_dir), mode="extended")
    assert "sum(" in p and "bigint" in p


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both fact tables on the join key at write time removes
    the join shuffle entirely — the amortize-once pattern SCALE.md
    prescribes for repeated fact-fact joins."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).option("path", str(tmp_path / "o_b")).saveAsTable("o_bucketed")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).option("path", str(tmp_path / "li_b")).saveAsTable("li_bucketed")

        ob = spark.table("o_bucketed")
        lib = spark.table("li_bucketed")
        joined = ob.join(lib, ob.o_orderkey == lib.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must consume bucketed scans directly — no
        # Exchange between the scans and the SortMergeJoin
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # sanity: same answer as the unbucketed join
        plain = o.join(li, o.o_orderkey == li.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS o_bucketed")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Writing facts partitioned by a coarse key (here ship-year) lets
    a filtered scan skip whole directories: PartitionFilters appear in
    the plan and the scan reads only matching partitions — the 100 TB
    layout lever for time-ranged queries."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_part")
    li.write.partitionBy("ship_year").parquet(path)

    back = spark.read.parquet(path)
    q = back.filter(F.col("ship_year") == 1995).select("l_orderkey", "l_quantity")
    p = plan_of(q)
    pf = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "ship_year" in pf  # pruning happens at the directory level
    # and the pruned read returns exactly the matching rows
    expect = li.filter(F.col("ship_year") == 1995).count()
    assert q.count() == expect and expect > 0


def test_correlated_subquery_decorrelates(spark, sf_dir, qd):
    """The correlated COUNT subquery must rewrite to aggregate+join —
    one shuffle of lineitem, no per-outer-row re-execution."""
    p = plan_of(qd["q_correlated_subquery"](spark, sf_dir))
    assert "HashAggregate" in p and "Join" in p
    # a non-decorrelated plan would keep a Subquery/InSubquery node
    assert "Subquery" not in p


def test_bitmap_distinct_partials_combine(spark, sf_dir, qd):
    """Both bitmap agg levels do map-side partials: the shuffle carries
    one bitmap per (group, bucket), never raw user_ids."""
    p = plan_of(qd["q_bitmap_distinct"](spark, sf_dir))
    assert p.count("Aggregate") >= 2
    assert "bitmap_construct_agg" in p


def test_scalar_subquery_threshold_broadcasts(spark, sf_dir, qd):
    """The 1-row global-average threshold joins via broadcast — the
    fact scan never shuffles for the comparison."""
    p = plan_of(qd["q_scalar_subquery"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_cached_dimension_scans_memory_not_parquet(spark, sf_dir):
    """persist(): a cached dim serves later queries from
    InMemoryTableScan — the reused-dimension pattern that saves one
    parquet scan per query in a 100-query pipeline."""
    from spark_streaming_join_example_spark import load_table

    dim = load_table(spark, sf_dir, "nation").cache()
    try:
        dim.count()  # materialize
        p = plan_of(dim.groupBy("n_regionkey").count())
        assert "InMemoryTableScan" in p or "InMemoryRelation" in p
    finally:
        dim.unpersist()


def test_block_pair_kernel_plan_is_distributed(spark, sf_dir, qd):
    """The exact similarity kernel must be shuffle-distributed, never
    driver-materialized: column-pruned scan (vec_id + embedding only),
    a grouped Arrow stage (FlatMapGroupsInPandas), a TakeOrdered final
    — and no broadcast of the full embedding table anywhere."""
    p = plan_of(qd["q_cosine_topk"](spark, sf_dir))
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "embedding" in read_schema and "label" not in read_schema
    assert "FlatMapGroupsInPandas" in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" not in p


def test_knn_join_plan_streams_corpus(spark, sf_dir, qd):
    """knn_join's registered plan: corpus flows through one Arrow map
    stage (MapInPandas), global per-query top-k is a window over the
    batch-local candidates — no corpus-side broadcast/nested-loop."""
    p = plan_of(qd["q_knn_search"](spark, sf_dir))
    assert "MapInPandas" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_analyze_table_stats_feed_cbo(spark, sf_dir, tmp_path):
    """Catalog statistics path: ANALYZE TABLE COMPUTE STATISTICS
    populates rowCount/sizeInBytes, which the cost-based optimizer
    reads for join ordering and broadcast decisions on catalog tables
    (fixture-path scans rely on file-size stats instead)."""
    from spark_streaming_join_example_spark import load_table

    spark.sql("DROP TABLE IF EXISTS nation_stats")
    load_table(spark, sf_dir, "nation").write.saveAsTable("nation_stats")
    try:
        spark.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS FOR ALL COLUMNS")
        det = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED nation_stats").collect()
        }
        stats = det.get("Statistics", "")
        assert "rows" in stats and "bytes" in stats
        # column-level stats exist (distinct count on the join key)
        cdesc = {
            r.info_name: r.info_value
            for r in spark.sql(
                "DESCRIBE EXTENDED nation_stats n_nationkey"
            ).collect()
        }
        assert int(cdesc.get("distinct_count", "0")) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_stats")


def test_context_windows_no_shuffle(spark, sf_dir, qd):
    """X5: the LM context-window cutter is scan → generate → project —
    zero exchanges, embarrassingly parallel at any scale."""
    p = plan_of(qd["q_context_windows"](spark, sf_dir))
    assert "Exchange" not in p
    assert "Generate" in p


def test_pagerank_persists_and_avoids_node_hints(spark, sf_dir, qd):
    """J5 iterative hygiene: the loop-invariant edge list serves from
    cache (InMemoryTableScan / InMemoryRelation), and the per-
    iteration rank/degree/contribution sides — NODE-cardinality
    relations — carry no hard broadcast hint (a hint OOMs executors
    at ~10⁹ nodes; AQE's size-gated broadcast handles the local
    case).  After execution, AQE must in fact have picked broadcast
    hash joins at fixture scale, proving the size gate works both
    ways."""
    df = qd["q_pagerank"](spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in logical, "hard join hint on an iteration side"
    p = plan_of(df, mode="simple")
    assert "InMemory" in p
    df.collect()  # let AQE finalize the per-stage join strategies
    assert "BroadcastHashJoin" in plan_of(df, mode="simple")


def test_persisted_aggregate_is_coalesced(spark):
    """A persisted relation is coalesced by AQE like any other shuffle
    (``canChangeCachedPlanOutputPartitioning``): Spark's default keeps
    a cached plan's final stage at the full batch width (8 in this
    session), so every later scan of a tiny persisted relation ran one
    task per empty partition.  The conf is reset to Spark's default
    first, so ``ensure_runtime_confs`` must restore it, as it does on a
    session the engine did not build.  Each DataFrame is built fresh —
    a persist of an already-executed DataFrame reuses its executed plan
    and would hide the setting."""
    import pyspark.sql.functions as F

    spark.conf.unset("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    ensure_runtime_confs(spark)

    def agg():
        return (
            spark.range(1000)
            .selectExpr("id % 7 AS k", "id")
            .groupBy("k")
            .agg(F.sum("id").alias("s"))
        )

    expected = sorted(agg().collect())
    persisted = agg().persist()
    try:
        persisted.count()
        assert persisted.rdd.getNumPartitions() < 8
        assert sorted(persisted.collect()) == expected
    finally:
        persisted.unpersist(blocking=True)


def test_codegen_cache_holds_a_graph_pass_working_set(spark):
    """Generated classes survive a working set the size of a
    ``graph_dedup`` pass (~290 classes): after 300 distinct tiny plans
    — each inlines its own literal, so each compiles its own classes
    — re-running the first 10 compiles nothing.  With Spark's default
    cache of 100 entries the LRU has evicted them and all 10
    recompile."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i):
        spark.range(3).selectExpr(f"id * 3 + {7_300_000 + i} AS v").collect()

    for i in range(300):
        run(i)
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    for i in range(10):
        run(i)
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled


def test_vector_kernels_build_without_driver_jobs(spark, sf_dir, qd):
    """X3: registered vector queries must pre-size their block grids
    from parquet footer metadata (parquet_num_rows) — building the
    DataFrame must NOT launch a count() job.  First build warms the
    file-listing; the asserted second build must be job-free."""
    for name in ("q_cosine_topk", "q_ann_topk", "q_embedding_neardup"):
        qd[name](spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    for name in ("q_cosine_topk", "q_ann_topk", "q_embedding_neardup"):
        qd[name](spark, sf_dir)
    after = tracker.getJobIdsForGroup(None)
    assert sorted(after) == sorted(before)


def test_triangle_count_degree_oriented_single_pass(spark, sf_dir, qd):
    """J5/X2: triangle counting must (a) close wedges via broadcast
    hash joins of the node-bounded edge list (probe stream never
    shuffled at fixture scale), and (b) count the three corners with
    one Generate (explode) pass — NOT a 3-way unionAll that re-runs
    the wedge-close joins per branch.  Degree orientation itself is
    pinned by the differential oracle (orientation changes plan cost,
    not results)."""
    df = qd["q_triangle_count"](spark, sf_dir)
    try:
        p = plan_of(df, mode="simple")
        assert "BroadcastHashJoin" in p
        assert "Generate explode" in p
        # one wedge-close semi join feeding one explode — the rejected
        # 3-way corner unionAll would print three LeftSemi joins (one
        # per re-derived branch; InMemoryRelation blocks inline their
        # cached child plan, so counting Unions is not meaningful)
        assert p.count("LeftSemi") == 1
    finally:
        spark.catalog.clearCache()


def test_target_encoding_is_broadcast_not_window(spark, sf_dir, qd):
    """A1: leave-one-out encoding must be a moment pass + broadcast
    join back — NOT a per-row window (which would re-sort the whole
    fact table)."""
    p = plan_of(qd["q_target_encoding"](spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_winsorize_bounds_broadcast(spark, sf_dir, qd):
    """A1/W1: the 5-row percentile-bounds table joins back as a
    broadcast — the fact side is never shuffled a second time for the
    clip."""
    p = plan_of(qd["q_winsorized_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_cusum_single_exchange(spark, sf_dir, qd):
    # every window and the rank filter partition by user_id, so the
    # whole changepoint scan shuffles events exactly once
    p = plan_of(qd["q_cusum_changepoint"](spark, sf_dir))
    # formatted mode prints each node twice (tree + detail): 2 hits = 1 node
    assert p.count("Exchange") == 2, p


def test_bfs_edges_cached_and_frontier_checkpointed(spark, sf_dir, qd):
    # the loop-invariant edge list must come from cache, and each BFS
    # level is cut at a localCheckpoint — the final plan joins scan
    # results, it does not replay 3 rounds of self-joins from parquet
    df = qd["q_bfs_hops"](spark, sf_dir)
    p = plan_of(df)
    # the three expansion levels arrive as materialized checkpoint RDDs
    assert p.count("Scan ExistingRDD") >= 3, p
    # and the edge list reads from cache where it appears
    assert "InMemoryTableScan" in p, p
    # re-planning depth-3 BFS from scratch would stack ~8 lineitem
    # scans (2 per level + source); the checkpointed plan has at most
    # the cached-build pair (formatted mode prints nodes twice)
    assert p.count("Scan parquet") <= 6, p


def test_collab_filter_group_limit_and_broadcast_degrees(spark, sf_dir, qd):
    # the top-3-per-item rank filter must run as a group-limit (each
    # partition keeps ≤3 rows per item before/within the window sort),
    # and the node-cardinality degree tables must broadcast onto the
    # pair list, never shuffle it
    p = plan_of(qd["q_collab_filter"](spark, sf_dir))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p, p


def test_ohlc_single_exchange(spark, sf_dir, qd):
    # both row_number directions and the closing groupBy share the
    # (event_type, day) partitioning — the whole bar build is ONE
    # exchange of the events stream (2 hits = 1 node in formatted mode)
    p = plan_of(qd["q_ohlc_bars"](spark, sf_dir))
    assert p.count("Exchange") == 2, p


def test_transition_matrix_window_over_aggregate(spark, sf_dir, qd):
    # the ppm normalization window must run AFTER the (prev,cur)
    # aggregate — over the 25-row matrix, not over events.  The
    # formatted tree prints top-down, so the topmost Window (the ppm
    # one) must appear ABOVE the aggregate pair, and the lag Window
    # below it: Window … HashAggregate … Window in text order.
    p = plan_of(qd["q_transition_matrix"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    first_win = tree.index("Window")
    first_agg = tree.index("HashAggregate")
    assert first_win < first_agg, tree
    assert "Window" in tree[first_agg:], tree


def test_dynamic_partition_pruning_injected(spark, sf_dir, tmp_path):
    """A partition-layout fact joined to a filtered dim must plan a
    DynamicPruning subquery on the partition column — at 100 TB this
    is what turns a full-table scan into reading only the partitions
    the dim filter selects (runtime partition pruning, the companion
    of the static pruning pinned in test_partitioned_layout_prunes)."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.sources.batch import load_table

    d = str(tmp_path / "orders_by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderstatus"
    ).mode("overwrite").parquet(d)
    po = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    )
    j = (
        po.join(dim.filter(F.col("label") == "final"), "o_orderstatus")
        .groupBy("o_orderstatus")
        .count()
    )
    p = plan_of(j)
    assert "dynamicpruning" in p.lower(), p


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """With broadcast disabled (the 100 TB big-big join regime), a
    selective filter on one side must inject a runtime bloom filter
    (might_contain) into the other side's scan — rows that cannot
    match are dropped BEFORE the shuffle, the single biggest lever on
    a skewed fact-fact join at scale."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.sources.batch import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        p = plan_of(j)
        assert "might_contain" in p.lower(), p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """A 90%-hot-key join under AQE must execute with the skew-join
    rewrite (skew=true on the sort-merge join): the hot partition is
    split into advisory-sized subpartitions joined against replicated
    right-side rows — the runtime answer to key skew that salting
    (q_salted_join) solves statically.  Thresholds are forced low so
    the fixture-scale shuffle exhibits what a 100 TB hot key would."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        n = j.count()
        # correctness: hot key 0 matches right key 0 → 180k rows, plus
        # the 1/10 distinct keys that land inside right's [0,1000)
        assert n == 180000 + len([i for i in range(200000) if i % 10 >= 9 and i < 1000])
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_rank_is_range_partitioned_not_single_sort(spark, sf_dir, qd):
    """The two-phase global rank must range-partition the DATA and
    broadcast only the offset table — the single-partition Exchange a
    bare Window.orderBy would force on the full input must not feed
    the big side's sort."""
    p = plan_of(qd["q_global_rank_distributed"](spark, sf_dir))
    # the data payload rides the kernel's PINNED range-partitioned
    # relation — a lineage-cut RDD (see operators/ranking.
    # _range_partitioned: split-point sampling must happen exactly
    # once), which explain() shows as an ExistingRDD scan rather than
    # an Exchange rangepartitioning node; the range property itself is
    # asserted by test_operators.test_range_partition_pin
    assert "Scan ExistingRDD" in p, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    # the only SinglePartition exchange allowed is the one under the
    # partition-count-sized offsets aggregate (its Input is the tiny
    # [_pid, _n] counts table) — NEVER one carrying the data payload.
    # formatted mode prints each Exchange as a detail block whose
    # "Input [...]" line precedes the "Arguments: SinglePartition" line.
    for block in p.split("\n\n"):
        if "SinglePartition" not in block:
            continue
        input_lines = [l for l in block.splitlines() if l.startswith("Input")]
        assert input_lines, block
        assert all("_n#" in l and "o_totalprice" not in l for l in input_lines), (
            "SinglePartition exchange carries data payload, not the "
            "offsets table:\n" + block
        )


def test_bm25_broadcasts_query_terms_and_stats(spark, sf_dir, qd):
    # the 3-row query-term table and 1-row corpus stats must broadcast
    # into the tf join (never shuffle the token stream against them),
    # and the final top-20 must be a TakeOrderedAndProject
    p = plan_of(qd["q_bm25_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_attribution_range_residual_inside_join(spark, sf_dir, qd):
    # the 7-day window must ride the user_id equi-join as a residual
    # condition (range predicate inside the join node), never a
    # post-join filter over a wider cross product
    p = plan_of(qd["q_attribution"](spark, sf_dir), mode="simple")
    assert "Join" in p, p
    # the range bounds appear attached to a join operator line
    join_lines = [l for l in p.splitlines() if "Join" in l and "user_id" in l]
    assert any("cts" in l or "ts" in l for l in join_lines), p


def test_returned_revenue_filter_pushdown_and_star_shape(spark, sf_dir, qd):
    # the returnflag predicate must reach the lineitem parquet scan
    # (dictionary row-group skipping at 100 TB), dims must broadcast,
    # and the top-20 must be a TakeOrderedAndProject
    p = plan_of(qd["q_returned_revenue"](spark, sf_dir))
    pushed = p.split("PushedFilters")[1].split("]")[0] if "PushedFilters" in p else ""
    assert "l_returnflag" in pushed, p
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_disjunctive_revenue_extracts_common_constraints(spark, sf_dir, qd):
    # Q19 shape: the OR-of-conjuncts must NOT plan as a union of three
    # scans — one part scan, one lineitem scan, one equi-join, with the
    # brand/size constraints extracted below the join
    p = plan_of(qd["q_disjunctive_revenue"](spark, sf_dir))
    # exactly one join, no scan-union rewrite: assert structure, not
    # formatted-layout string counts (node text prints twice today,
    # but that's a layout detail a Spark upgrade may change)
    assert "Union" not in p, p
    n_joins = sum(p.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins > 0, p
    # distinct scan node ids: one lineitem scan + one part scan
    import re as _re

    scan_ids = {m.group(1) for m in _re.finditer(r"\((\d+)\) Scan parquet", p)}
    assert len(scan_ids) == 2, (scan_ids, p)
    assert "p_brand" in p, p


def test_reworked_global_windows_single_partition_is_metadata_only(
    spark, sf_dir, qd
):
    """Round-6 pin for every query routed through the two-phase
    ranking kernels: the ONLY SinglePartition exchanges allowed in
    their plans are coordination metadata — the partition-count-sized
    offsets/sizes tables (_pid/_n/_t_*) and 1-row aggregate partials
    (max/sum/count) — never the data payload.  A regression that
    reintroduces a bare Window.orderBy over the input would surface
    here as a SinglePartition exchange carrying data columns."""
    import re as _re

    allowed = _re.compile(r"^(_pid|_n|_t_\w*|_o_\w*|max|min|sum|count)$")
    reworked = [
        "q_equi_depth_histogram",
        "q_rrf_fusion",
        "q_shard_assign",
        "q_rfm_segments",
        "q_auc_ranksum",
        "q_calibration_bins",
        "q_pr_curve",
        "q_ks_statistic",
        "q_revenue_concentration",
        "q_global_rank_distributed",
    ]
    for name in reworked:
        p = plan_of(qd[name](spark, sf_dir))
        for block in p.split("\n\n"):
            if "SinglePartition" not in block:
                continue
            for line in block.splitlines():
                if not line.startswith("Input"):
                    continue
                cols = _re.findall(r"[\[, ]([A-Za-z_]\w*)#", line)
                bad = [c for c in cols if not allowed.match(c)]
                assert not bad, (
                    f"{name}: SinglePartition exchange carries data "
                    f"columns {bad}:\n{block}"
                )


def test_rfm_fanout_matches_chained_form(spark, sf_dir, qd):
    """r15 fan-out adoption (OPTIMIZATION_r15.md §11): the registered
    q_rfm_segments now ranks three narrow (user_id, metric)
    projections independently and joins the scores back on user_id.
    Equivalence pin vs the pre-r15 CHAINED global_ntile form: each
    ntile is a pure function of (ordering, row multiset) with a
    user_id tie-break, so the shapes must agree row-for-row."""
    import pyspark.sql.functions as F

    from tests.conftest import collect_sorted

    from spark_streaming_join_example_spark.operators.ranking import (
        global_ntile,
    )
    from spark_streaming_join_example_spark.plans.round5b import _t

    e = _t(spark, sf_dir, "events")
    rfm = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.round(F.col("value") * F.lit(1_000_000.0)).cast("long")
            ).alias("monet_e6"),
        )
    )
    chained = global_ntile(
        global_ntile(
            global_ntile(
                rfm,
                4,
                [F.col("last_us").desc(), F.col("user_id")],
                out="r_score",
            ),
            4,
            [F.col("freq").desc(), F.col("user_id")],
            out="f_score",
        ),
        4,
        [F.col("monet_e6").desc(), F.col("user_id")],
        out="m_score",
    ).select(
        "user_id",
        "freq",
        "monet_e6",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_cell"),
    )
    assert collect_sorted(qd["q_rfm_segments"](spark, sf_dir)) == (
        collect_sorted(chained)
    )


def test_tpch_gap_shapes_scale_plans(spark, sf_dir, qd):
    # Q6 shape: all three predicates + 3-column projection reach the scan
    p = plan_of(qd["q_forecast_revenue"](spark, sf_dir))
    pushed = p.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    assert "l_discount" in pushed  # raw-double band, not an expression
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema
    assert p.count("HashAggregate") >= 2  # map-side partial

    # Q2 shape: min-cost window partitions by part (never SinglePartition),
    # and the final top-100 is TakeOrderedAndProject, not a global Sort
    p2 = plan_of(qd["q_min_cost_supplier"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p2
    win = [b for b in p2.split("\n\n") if "Window" in b.splitlines()[0]]
    assert win and all("SinglePartition" not in b for b in win)

    # Q11 shape: the global-average scalar joins as a broadcast
    # single-row nested-loop build — never a cartesian or a shuffle of
    # the per-part relation (the dim joins are BHJ; the keyless scalar
    # join can only be BNLJ or CartesianProduct, so pin BNLJ exactly)
    p11 = plan_of(qd["q_important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p11
    assert "CartesianProduct" not in p11

    # Q8 shape: nation/region/part/supplier dims all broadcast — the only
    # sort-merge joins allowed are the two fact-fact equi-joins
    p8 = plan_of(qd["q_market_share"](spark, sf_dir))
    assert p8.count("BroadcastHashJoin") >= 4


def test_no_unintended_cartesian_product_registry_wide(spark, sf_dir, qd):
    """Registry-wide plan audit over BOTH non-equi join fallbacks in
    one explain pass:

    - ``CartesianProduct`` multiplies partition counts and is almost
      always a missing join condition;
    - ``BroadcastNestedLoopJoin`` (r12 extension) is the planner's
      other no-equi-key fallback — legitimate ONLY in two patterns
      this registry uses deliberately: scalar-broadcast enrichment (a
      1-row aggregate joined conditionlessly onto every row: totals,
      thresholds, global medians) and tiny-dim band lookup (a
      VALUES-sized bands/grid relation probed with an inequality).
      A BNLJ between two DATA-sized sides is an O(n·m) disaster that
      no small-SF test would notice — exactly what a silent
      allowlist-free audit exists to catch.

    Every appearance of either node must be on the explicit per-name
    allowlist (each query's docstring documents why its usage is
    bounded by construction); anything else is a hard failure."""
    allowed_cartesian = {
        # bounded-by-construction cross joins (see docstrings):
        "q_cross_join",       # J11 surface demo, dims only
        "q_cosine_topk",      # triangular block-pair generator
        "q_theta_join",       # banded inequality, bucket-bounded
        "q_skyline",          # dominance pairs over a filtered head
        "q_levenshtein_fuzzy",  # short-list × short-list
        "q_geo_nearest",      # cell-bucketed candidate pairs
    }
    allowed_bnlj = {
        # scalar-broadcast enrichment: one side is a 1-row aggregate
        # (total/threshold/median) broadcast onto every row
        "q_association_rules",
        "q_benford",
        "q_bm25_search",
        "q_calibration_bins",
        "q_curriculum_order",
        "q_decile_cutpoints",  # r13: two-phase ntile broadcast offsets
        "q_equi_depth_histogram",
        "q_exact_global_median",
        "q_growth_accounting",
        "q_idle_customers",
        "q_important_stock",
        "q_ks_statistic",
        "q_label_balance",
        "q_pagerank",        # dangling-mass scalar per iteration
        "q_pmi_collocations",
        "q_pr_curve",
        "q_revenue_concentration",
        "q_rfm_segments",
        "q_median_band_orders",  # r13: 1-row count broadcast for the band filter
        "q_scalar_subquery",
        "q_seasonal_profile",
        "q_tfidf_top_term",
        "q_temperature_mix",
        "q_theta_setops",
        "q_vocab_coverage",
        # tiny-dim band/grid lookup: the broadcast side is a
        # VALUES-sized bands table or a dims-only grid
        "q_acctbal_tier_join",
        "q_balance_overlap",
        "q_band_join",
        "q_calendar_range_join",
        "q_cross_join",
        "q_gap_fill",
        "q_geo_nearest",
        "q_interpolate",
        "q_brand_type_grid",  # r13: 25-row × 6-row derived-dim grid
        "q_day_type_grid",  # r13: generated 31-day axis × 5-type domain
        "q_nation_status_grid",
        "q_region_priority_grid",
        "q_region_quarter_grid",  # 5-row region × generated 4-quarter axis
        "q_status_priority_grid",  # r14: 3-row × 5-row distinct'd dims
        "q_theta_join",
        "q_type_day_grid",
        # bounded-head pair generators (guarded or filtered heads)
        "q_jaccard_pairs",    # AllPairsBoundExceeded-guarded oracle
        "q_mrl_truncation",   # guarded exact baseline
        "q_ngram_jaccard",    # guarded exact baseline
    }
    # r16 (guide §2.6): building + explaining 544 plans is independent
    # work (iterative queries run their driver loops at build time) —
    # overlap with a small thread pool; audit semantics unchanged
    from concurrent.futures import ThreadPoolExecutor

    def audit(name):
        try:
            p = plan_of(qd[name](spark, sf_dir))
        except Exception as e:  # pragma: no cover - surface as failure
            return name, f"explain failed: {e}"
        if "CartesianProduct" in p and name not in allowed_cartesian:
            return name, "CartesianProduct"
        if "BroadcastNestedLoopJoin" in p and name not in allowed_bnlj:
            return name, "BroadcastNestedLoopJoin"
        return None

    # The builders share this one session across threads.  That is safe
    # only while no registry builder changes a session conf (load_table's
    # ensure_runtime_confs just re-applies what get_spark already set);
    # a builder that needs a conf must run outside this pool.
    with ThreadPoolExecutor(max_workers=3) as pool:
        offenders = dict(r for r in pool.map(audit, sorted(qd)) if r)
    assert not offenders, offenders


def test_temporal_join_plan_single_keyed_shuffle(spark, sf_dir, tmp_path):
    """The streaming temporal join must plan as ONE
    FlatMapGroupsInPandasWithState over a single keyed exchange of the
    tagged union — tagging both inputs before the groupBy is what
    keeps the two-input operator at one shuffle instead of two."""
    from spark_streaming_join_example_spark.streaming import (
        chunk_events,
        read_event_stream,
    )
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    d = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(d), n_chunks=2)
    stream = read_event_stream(spark, str(d))
    q = (
        temporal_join_events(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue()
        assert "FlatMapGroupsInPandasWithState" in plan
        # exactly one keyed exchange feeds the operator (q.explain()
        # shows the LAST micro-batch — possibly the empty timer-flush
        # batch, where the union has collapsed to an empty scan, so
        # the union node itself is not assertable here)
        assert plan.count("Exchange hashpartitioning(user_id") == 1
    finally:
        q.stop()


def test_event_pattern_state_is_day_bounded(spark, sf_dir, qd):
    """q_event_pattern's per-key state must be day-bounded: the raw
    event collect_list may only appear under an Aggregate keyed by
    (user_id, day), and the per-user fold must run over the
    constant-size day summaries — never over raw events."""
    df = qd["q_event_pattern"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    agg_lines = [ln for ln in opt.splitlines() if "Aggregate [" in ln]
    # exactly one event-level collect_list, keyed by user_id AND the
    # day bucketing expression (cast(ts as date) is pulled out as a
    # _groupingexpression by the optimizer)
    ev_aggs = [ln for ln in agg_lines if "struct(ts," in ln]
    assert len(ev_aggs) == 1, opt
    keys = ev_aggs[0].split("], [")[0]
    assert "user_id" in keys and "_groupingexpression" in keys, keys
    assert "as date" in opt
    # the user-level aggregate folds day summaries (m_within etc.),
    # not raw event structs
    user_aggs = [ln for ln in agg_lines if "m_within" in ln]
    assert len(user_aggs) == 1, opt
    assert "struct(ts," not in user_aggs[0]


def test_basket_pairs_chunked_is_join_free(spark):
    """The heavy-tailed basket_pairs path must stay one groupBy + local
    array expansion — no join appears in either mode's plan (the whole
    point vs the self-join formulation), and chunking only adds the
    sequence-explode, still join-free."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.graph import (
        basket_pairs,
    )

    df = spark.range(100).select(
        (F.col("id") % 10).alias("b"), (F.col("id") % 37).alias("i")
    )
    for kwargs in (
        {},
        {"max_items": 2},
        {"directed": False},
        {"max_items": 2, "directed": False},
        {"distinct_pairs": False},
        {"distinct_pairs": False, "directed": False},
    ):
        plan = (
            basket_pairs(df, "b", "i", **kwargs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan, (kwargs, plan)
        if kwargs.get("directed", True) and kwargs.get("distinct_pairs", True):
            # r15 mirror-after-dedup: the union prints both branches'
            # exchanges statically (2 per branch); the swap branch's
            # dedup exchange is REUSED at runtime — pinned below
            assert plan.count("Exchange") <= 4, (kwargs, plan)
        else:
            assert plan.count("Exchange") <= 2, (kwargs, plan)
    # runtime pin of the mirror branch's exchange reuse (guide §2.3:
    # the directed relation must cost one HALF-sized dedup shuffle,
    # not a re-shuffle per orientation)
    agg = basket_pairs(df, "b", "i").agg(F.count(F.lit(1)))
    agg.collect()
    final = agg._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_graph_shared_edge_build_is_value_identical(spark, sf_dir, qd):
    """plans/copurchase.py: a build is shared by persisting the builder's
    output, and Spark's CacheManager serves every re-built plan from it
    until clearCache().  The OUTPUT must be identical with the build
    persisted and unpersisted, for both an undirected consumer (q_kcore)
    and a directed one (q_pagerank)."""
    from tests.conftest import cached_plan_of, collect_sorted

    from spark_streaming_join_example_spark.plans.copurchase import (
        copurchase_edges,
        copurchase_edges_undirected,
    )

    spark.catalog.clearCache()
    base_kcore = collect_sorted(qd["q_kcore"](spark, sf_dir))
    base_pr = collect_sorted(qd["q_pagerank"](spark, sf_dir))
    spark.catalog.clearCache()
    try:
        copurchase_edges_undirected(spark, sf_dir).persist().count()
        for rebuilt in (
            copurchase_edges_undirected(spark, sf_dir),
            copurchase_edges(spark, sf_dir),
        ):
            assert "InMemoryRelation" in cached_plan_of(rebuilt)
        shared_kcore = collect_sorted(qd["q_kcore"](spark, sf_dir))
        shared_pr = collect_sorted(qd["q_pagerank"](spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    assert "InMemoryRelation" not in cached_plan_of(
        copurchase_edges_undirected(spark, sf_dir)
    )
    assert shared_kcore == base_kcore
    assert shared_pr == base_pr
    assert base_kcore and base_pr, "graph queries empty — pin vacuous"


def test_dedup_incoming_plan_is_equijoin(spark, sf_dir, qd):
    """q_dedup_incoming's candidate stage must plan as an EQUI-join on
    the prefix token (hash/sort-merge with residual filters) — a
    nested-loop or cartesian here would mean the prefix blocking
    silently degraded to all-pairs."""
    p = plan_of(qd["q_dedup_incoming"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_round12_plan_shapes(spark, sf_dir, qd):
    """Plan pins for the round-12 surface (same discipline as every
    other family): derived-key dim joins still broadcast, the bounded
    conversion join stays an EQUI join on the user key with the time
    band as a post-condition, the tolerance-asof plans with NO join at
    all (one keyed window pass over the tagged union), and the chunk
    fan-out aggregates with map-side partials."""
    # J1 derived shard key: dim broadcast, fact never shuffled for it
    p = plan_of(qd["q_events_supplier_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    # J2/J7 conversion: equi-join on user key (hash-partitioned both
    # sides or broadcast), band rides as join condition — and never a
    # cartesian
    p = plan_of(qd["q_click_purchase"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Join" in p and "user_id" in p

    # J8 tolerance-asof: the tagged-union window form has NO join node
    p = plan_of(qd["q_asof_tolerance"](spark, sf_dir))
    assert "Join" not in p
    assert "Window" in p

    # X4 chunking: explode fan-out then partial+final aggregation
    # (sort-based here — the distinct-count agg key is an md5 string)
    p = plan_of(qd["q_payload_chunks"](spark, sf_dir))
    assert "Generate" in p and "explode" in p
    assert p.count("Aggregate") >= 2

    # O3 descending layout: range repartition feeds an in-partition sort
    p = plan_of(qd["q_desc_range_layout"](spark, sf_dir))
    assert "rangepartitioning" in p and "o_totalprice" in p


def test_round13_plan_shapes(spark, sf_dir, qd):
    """Plan pins for the round-13 surface: the sketch top-k stays one
    partial-aggregable pass (no concat-key groupBy shuffle beyond the
    single merge), the debounce twin funnels BOTH windows and both
    aggregations through ONE user_id shuffle, and the chunk profile is
    a plain two-phase hash aggregate."""
    # A3 composite-key sketch: ObjectHashAggregate partial+final, one
    # exchange, top-k lowered to TakeOrderedAndProject
    p = plan_of(qd["q_approx_topk_flags"](spark, sf_dir))
    assert "ObjectHashAggregate" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("(\n") == 0  # formatted mode sanity

    # T4 debounce: exactly ONE shuffle (hashpartitioning on user_id);
    # both window passes and both groupBys reuse it
    p = plan_of(qd["q_debounce"](spark, sf_dir))
    assert p.count("Exchange") <= 2  # tree node + detail section
    assert "hashpartitioning(user_id" in p
    assert p.count("Window") >= 2

    # S1 row chunking: two-phase hash aggregate over the derived chunk
    p = plan_of(qd["q_row_chunks"](spark, sf_dir))
    assert "HashAggregate" in p and "row_index" in p


def test_round14_plan_shapes(spark, sf_dir, qd):
    """Plan pins for the round-14 surface — the load-bearing shapes a
    silent de-optimization would break."""
    # A7 dynamic-gap sessions: the REAL session operator (MergingSessions
    # after one keyed exchange), not a window rewrite
    p = plan_of(qd["q_session_dynamic_gap"](spark, sf_dir))
    assert "MergingSessions" in p

    # A9 unpivot lowers to Expand (row fan-out), not a join or union
    p = plan_of(qd["q_unpivot_flags"](spark, sf_dir))
    assert "Expand" in p and "Union" not in p

    # A4 subtotals-only: rollup's Expand + partial/final aggregation
    p = plan_of(qd["q_rollup_subtotals"](spark, sf_dir))
    assert "Expand" in p and p.count("HashAggregate") >= 2

    # J7 calendar range join: nested-loop against the BROADCAST 5-row
    # generated dim — and never a cartesian
    p = plan_of(qd["q_calendar_range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p

    # J8 forward-asof+tolerance: the tagged-union window kernel — NO
    # join node anywhere
    p = plan_of(qd["q_asof_forward_tol"](spark, sf_dir))
    assert "Join" not in p
    assert "Window" in p and "Union" in p

    # J6 dominance theta: an EQUI join on the nation anchor (broadcast
    # or SMJ — never a cartesian; the inequality rides as condition)
    p = plan_of(qd["q_acctbal_dominance"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)

    # T5 rebalance: the hint survives to an AQE REBALANCE exchange
    p = plan_of(qd["q_rebalance_hint"](spark, sf_dir))
    assert "REBALANCE" in p

    # O3 composite layout: range partitioning carries BOTH keys
    p = plan_of(qd["q_composite_range_layout"](spark, sf_dir))
    assert "rangepartitioning(l_returnflag" in p
    assert "l_shipdate" in p

    # X2 chargram pairs: gram EQUI joins only (the integer-exact
    # threshold is a filter, never a cross)
    p = plan_of(qd["q_chargram_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in p

    # X4 entropy: Arrow/JVM only — generate + aggregates, no Python
    p = plan_of(qd["q_binary_entropy"](spark, sf_dir))
    assert "Generate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_round15_16_plan_shapes(spark, sf_dir, qd):
    """Plan pins for the round-15/16 surface (span dedup, SemDeDup,
    and the F/A3/P3 restock) — the load-bearing shapes."""
    # X1 repeated grams: pure aggregation pipeline — partial+final
    # HashAggregate on the gram key, no join anywhere
    p = plan_of(qd["q_repeated_grams"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p

    # X1/X5 span coverage: the dup-gram probe is a LeftSemi equi-join
    # (never materializes the dup relation's columns), islands are ONE
    # window per document, and nothing goes cartesian
    p = plan_of(qd["q_span_coverage"](spark, sf_dir))
    assert "LeftSemi" in p
    assert "Window" in p
    assert "CartesianProduct" not in p

    # X1 span trim: the corpus flows through a LEFT OUTER join against
    # the doc-keyed coverage relation — corpus rows are never dropped
    p = plan_of(qd["q_span_trim"](spark, sf_dir))
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p

    # X2/X3 SemDeDup: the CC labels materialize during build (the
    # iterative loop checkpoints), so the returned plan is the fold
    # back to the corpus — an outer EQUI join, never a cartesian (the
    # pair kernel's own Arrow-batched shape is pinned by the
    # cosine/ann plan tests)
    p = plan_of(qd["q_semdedup_keep"](spark, sf_dir))
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p

    # A3 quartiles: one exchange, partial+final aggregation (the
    # sketch merges map-side like any associative aggregate)
    p = plan_of(qd["q_approx_quartiles"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2 or "ObjectHashAggregate" in p

    # F5 parse / F4 runs / F6 windows: Arrow-batched Python operators,
    # never row-wise BatchEvalPython
    for name in ("q_map_in_pandas_parse", "q_apply_in_pandas_runs"):
        p = plan_of(qd[name](spark, sf_dir))
        assert ("MapInPandas" in p) or ("FlatMapGroupsInPandas" in p)
        assert "BatchEvalPython" not in p


def test_parts_never_recent_pushes_date_below_anti_join(spark, sf_dir, qd):
    """r14 tranche: the anti join's right side must be the DATE-SCOPED
    fact — the shipdate predicate has to reach the lineitem parquet
    scan (row-group skipping), not run after the join, and the join
    itself stays a broadcast/shuffle HASH anti join (never a loop)."""
    p = plan_of(qd["q_parts_never_recent"](spark, sf_dir))
    # Check every scan's PushedFilters section, not [1] — indexing the
    # first would grab whichever scan happens to print first (order-of-
    # print fragile; r14 ADVICE).  l_shipdate is a lineitem-only
    # column, so its appearance in ANY pushed-filter list proves the
    # predicate reached the lineitem scan specifically.
    pushed_sections = [
        seg.split("]")[0] for seg in p.split("PushedFilters")[1:]
    ]
    assert any("l_shipdate" in s for s in pushed_sections), pushed_sections
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    # column pruning: only the join key survives the fact scan
    read_schema = [
        seg.splitlines()[0]
        for seg in p.split("ReadSchema:")[1:]
        if "lineitem" in seg.splitlines()[0] or "l_partkey" in seg.splitlines()[0]
    ]
    assert any(
        "l_partkey" in rs and "l_extendedprice" not in rs
        for rs in read_schema
    ), read_schema


def test_global_extremes_uses_take_ordered_both_sides(spark, sf_dir, qd):
    """r14 tranche: both extremes branches must compile to
    TakeOrderedAndProject (per-partition top-k + driver merge); a
    global Sort on either side would shuffle the whole relation."""
    p = plan_of(qd["q_global_extremes"](spark, sf_dir))
    # formatted mode prints each node in the tree summary AND the
    # details section — two distinct operators appear as >= 2 mentions
    # with both orderings present
    assert p.count("TakeOrderedAndProject") >= 2
    assert "DESC NULLS LAST" in p and "ASC NULLS FIRST" in p
    assert "Exchange rangepartitioning" not in p


def test_priority_dedup_partial_agg_and_pruning(spark, sf_dir, qd):
    """r14 tranche: the priority-dedup aggregate must run PARTIAL
    before the exchange (the shuffle carries one row per (user, day)
    group, not per event — min_by over a string value plans as
    SortAggregate, which is fine; the property is partial+final), and
    the scan must prune the unused props/value columns."""
    p = plan_of(qd["q_priority_dedup"](spark, sf_dir))
    pre_exchange = p.split("Exchange")[0]
    assert ("HashAggregate" in pre_exchange) or (
        "SortAggregate" in pre_exchange
    ), "no partial aggregate below the exchange"
    rs = p.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in rs and "value" not in rs, rs


def test_salted_global_prunes_and_two_level(spark, sf_dir, qd):
    """r14 tranche: the explicit two-level reduce must prune the scan
    to (event_id, user_id, value) and aggregate partially on the salt
    level before any exchange."""
    p = plan_of(qd["q_salted_global"](spark, sf_dir))
    rs = p.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in rs and "event_type" not in rs and "ts" not in rs, rs
    assert p.count("HashAggregate") >= 4  # partial+final at both levels
