"""Unit tests for custom operators on tiny literal DataFrames."""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from spark_streaming_join_example_spark.operators.joins import asof_join
from spark_streaming_join_example_spark.operators.dedup import (
    distinct_tokens,
    exact_dedup,
    jaccard,
)
from spark_streaming_join_example_spark.operators.text import rolling_fingerprint

from .conftest import collect_sorted


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-01T10:00:00")),
            (2, "k1", _ts("2024-01-01T11:00:00")),
            (3, "k2", _ts("2024-01-01T10:30:00")),
            (4, "k3", _ts("2024-01-01T09:00:00")),  # no right match
        ],
        ["lid", "lkey", "lts"],
    )
    right = spark.createDataFrame(
        [
            (10, "k1", _ts("2024-01-01T09:55:00"), 1.0),
            (11, "k1", _ts("2024-01-01T10:00:00"), 2.0),  # ties lts of lid=1
            (12, "k1", _ts("2024-01-01T10:59:00"), 3.0),
            (13, "k2", _ts("2024-01-01T10:00:00"), 4.0),
        ],
        ["rid", "rkey", "rts", "rv"],
    )
    return left, right


def test_asof_join_left(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, left_on="lkey", right_on="rkey", left_ts="lts", right_ts="rts"
    )
    rows = {r.lid: (r.rid, r.rv) for r in out.collect()}
    assert rows[1] == (11, 2.0)  # <= semantics: equal ts matches
    assert rows[2] == (12, 3.0)  # latest before
    assert rows[3] == (13, 4.0)
    assert rows[4] == (None, None)  # left row kept, null-padded


def test_asof_join_inner_and_tolerance(spark, asof_frames):
    left, right = asof_frames
    inner = asof_join(
        left,
        right,
        left_on="lkey",
        right_on="rkey",
        left_ts="lts",
        right_ts="rts",
        how="inner",
    )
    assert {r.lid for r in inner.collect()} == {1, 2, 3}
    tol = asof_join(
        left,
        right,
        left_on="lkey",
        right_on="rkey",
        left_ts="lts",
        right_ts="rts",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
    )
    rows = {r.lid: r.rid for r in tol.collect()}
    assert rows[1] == 11
    assert rows[2] == 12  # 1 min before → within tolerance
    assert rows[3] is None  # 30 min before → outside tolerance


def test_asof_join_rejects_overlapping_columns(spark, asof_frames):
    left, right = asof_frames
    with pytest.raises(ValueError, match="overlapping"):
        asof_join(
            left.withColumnRenamed("lid", "rid"),
            right,
            left_on="lkey",
            right_on="rkey",
            left_ts="lts",
            right_ts="rts",
        )


def test_exact_dedup_representative(spark):
    df = spark.createDataFrame(
        [(5, "a"), (3, "a"), (9, "b"), (1, "a")], ["id", "k"]
    )
    out = {r.k: (r.first_id, r.n_dups) for r in exact_dedup(df, ["k"], "id").collect()}
    assert out == {"a": (1, 3), "b": (9, 1)}


def test_jaccard_expr(spark):
    df = spark.createDataFrame([("a b c d", "c d e f")], ["x", "y"])
    val = df.select(
        jaccard(distinct_tokens("x"), distinct_tokens("y")).alias("j")
    ).collect()[0].j
    assert val == pytest.approx(2 / 6)


def test_rolling_fingerprint_matches_python(spark):
    texts = ["spark join", "a", "hello world hello"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r.fp for r in df.select(rolling_fingerprint("text").alias("fp")).collect()]

    def py_fp(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    assert got == [py_fp(t) for t in texts]


def test_connected_components_chain_clique_pair(spark):
    """Min-label propagation resolves a 4-chain (diameter > 1 round),
    a triangle, and an isolated pair into the right components."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["a_id", "b_id"],
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_quotient_paths(spark):
    """r12 quotient contraction: both the early-return path (every
    component collapses to one label class in the init round — the
    quotient has no edges) and the map-back path (classes absent from
    the quotient keep their own minimum while quotient-resolved
    classes adopt the quotient root) produce the fixpoint labels."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )

    # Pure cliques: init resolves everything, quotient is empty.
    cliques = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8)], ["a_id", "b_id"]
    )
    got = {
        r.node: r.component for r in connected_components(cliques).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    # Mixed: a 5-chain (needs quotient rounds) next to a clique whose
    # class never appears in the quotient (map-back must keep its min).
    mixed = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 8), (8, 9), (20, 21), (21, 22), (20, 22)],
        ["a_id", "b_id"],
    )
    got = {
        r.node: r.component for r in connected_components(mixed).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 5, 20: 20, 21: 20, 22: 20}


def test_connected_components_label_sum_does_not_overflow(spark):
    """The convergence probe sums every quotient label.  Ids near 2^62
    push that sum past the LongType range after two labels, which ANSI
    mode turns into ARITHMETIC_OVERFLOW unless the sum is decimal."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )

    base = 2**62
    # a 5-chain: the init round leaves 3+ label classes, so the quotient
    # loop (and its sum probe) runs
    chain = spark.createDataFrame(
        [(base + i, base + i + 1) for i in range(4)], "a_id long, b_id long"
    )
    got = {
        r.node: r.component for r in connected_components(chain).collect()
    }
    assert got == {base + i: base for i in range(5)}


def test_connected_components_strict_raises_on_nonconvergence(spark):
    """r12 advisor fix: with strict=True, exhausting max_iter raises
    ConvergenceError instead of emitting a warning a pipeline never
    surfaces (both CC variants).  A 12-chain needs ~6 label rounds /
    several star rounds, so max_iter=1 cannot converge."""
    import pytest

    from spark_streaming_join_example_spark.operators.graph import (
        ConvergenceError,
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["a_id", "b_id"]
    )
    with pytest.raises(ConvergenceError):
        connected_components(chain, max_iter=1, strict=True)
    with pytest.raises(ConvergenceError):
        connected_components_star(chain, max_iter=1, strict=True)
    # and the same budget without strict still warns, not raises
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=1)
    assert any("max_iter" in str(x.message) for x in w)


def test_star_components_labels_fixed_at_call_time(spark, tmp_path):
    """connected_components_star materializes everything it reads
    before returning, so the labels a caller collects later describe
    the graph as it was during the call, even when the edge source is
    rewritten in between (same file, same size, new node ids).  AQE is
    off for the call: with it on, turning a plan into an RDD already
    runs its shuffle stages, which would hide a lazy checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_join_example_spark.operators.graph import (
        connected_components_star,
    )

    path = str(tmp_path / "edges.parquet")

    def write(pairs):
        pq.write_table(
            pa.table(
                {
                    "a_id": pa.array([a for a, _ in pairs], pa.int64()),
                    "b_id": pa.array([b for _, b in pairs], pa.int64()),
                }
            ),
            path,
            compression="none",
            use_dictionary=False,
        )

    write([(1, 2), (2, 3), (10, 11)])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labels = connected_components_star(spark.read.parquet(path))
        write([(101, 102), (103, 104), (105, 106)])
        got = {r.node: r.component for r in labels.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_ivf_pairs_above_zero_vector_contract(spark):
    """r12 advisor fix: a zero-norm embedding must be excluded from
    every ≥-threshold pair DETERMINISTICALLY (cosine defined as 0,
    not NaN), and both the exact and kmeans-blocked kernels must
    agree on the pair set over a corpus containing it."""
    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_pairs_above,
        ivf_pairs_above,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # the zero vector
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.95, 0.05, 0.0]),  # near-dup of 3
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(emb, threshold=0.9, n_rows=5).collect()
    }
    blocked = {
        (r.a_id, r.b_id)
        for r in ivf_pairs_above(emb, threshold=0.9, n_cells=2).collect()
    }
    assert exact == {(1, 2), (3, 4)}
    assert blocked <= exact  # blocking may only SPLIT, never invent
    assert not any(0 in p for p in exact | blocked)
    # sims must be finite everywhere (no NaN leakage from the zero row)
    import math

    assert all(
        math.isfinite(r.cos_sim)
        for r in ivf_pairs_above(emb, threshold=-2.0, n_cells=2).collect()
    )


def test_asof_join_forward(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left,
        right,
        left_on="lkey",
        right_on="rkey",
        left_ts="lts",
        right_ts="rts",
        direction="forward",
    )
    rows = {r.lid: (r.rid, r.rv) for r in out.collect()}
    assert rows[1] == (11, 2.0)  # >= semantics: equal ts matches
    assert rows[2] is not None and rows[2] == (None, None)  # nothing after 11:00
    assert rows[3] == (None, None)  # k2's only right row is earlier
    assert rows[4] is not None  # k3 unmatched but kept (left join)


def test_asof_forward_matches_pandas_merge_asof(spark):
    """Reference check against pandas merge_asof on seeded data, both
    directions — the same library the cogrouped applyInPandas as-of
    recipe would use, so this pins our kernel to the ecosystem
    semantics (nearest-at-or-{before,after}, ties by key)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    lpdf = pd.DataFrame(
        {
            "lkey": rng.integers(0, 5, 200).astype("int64"),
            "lts": rng.integers(0, 10_000, 200).astype("int64"),
        }
    ).drop_duplicates(["lkey", "lts"])
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(
        {
            "rkey": rng.integers(0, 5, 150).astype("int64"),
            "rts": rng.integers(0, 10_000, 150).astype("int64"),
        }
    ).drop_duplicates(["rkey", "rts"])
    rpdf["rv"] = rpdf["rts"] * 10

    for direction in ("backward", "forward"):
        got = (
            asof_join(
                spark.createDataFrame(lpdf),
                spark.createDataFrame(rpdf),
                left_on="lkey",
                right_on="rkey",
                left_ts="lts",
                right_ts="rts",
                direction=direction,
            )
            .select("lid", "rv")
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        exp = pd.merge_asof(
            lpdf.sort_values("lts"),
            rpdf.sort_values("rts"),
            left_on="lts",
            right_on="rts",
            left_by="lkey",
            right_by="rkey",
            direction=direction,
        )[["lid", "rv"]].sort_values("lid").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_kmeans_fixed_point_partitioning_invariant(spark, sf_dir):
    """Integer k-means must give IDENTICAL assignments under a forced
    repartitioning (the reproducibility float k-means lacks), and
    total inertia must not increase from 1 → 3 iterations."""
    from spark_streaming_join_example_spark.operators.clustering import (
        kmeans_fixed_point,
    )
    from spark_streaming_join_example_spark.sources.batch import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a1 = {(r.vec_id, r.cluster) for r in kmeans_fixed_point(e, k=4, iters=2).collect()}
    a2 = {
        (r.vec_id, r.cluster)
        for r in kmeans_fixed_point(e.repartition(13), k=4, iters=2).collect()
    }
    assert a1 == a2
    i1 = (
        kmeans_fixed_point(e, k=4, iters=1)
        .agg({"dist2": "sum"})
        .collect()[0][0]
    )
    i3 = (
        kmeans_fixed_point(e, k=4, iters=3)
        .agg({"dist2": "sum"})
        .collect()[0][0]
    )
    assert i3 <= i1


def test_kmeans_rejects_fewer_than_k_vectors(spark, sf_dir):
    from spark_streaming_join_example_spark.operators.clustering import (
        kmeans_fixed_point,
    )
    from spark_streaming_join_example_spark.sources.batch import load_table

    e = load_table(spark, sf_dir, "embeddings").limit(3)
    with pytest.raises(ValueError, match="need at least k=8"):
        kmeans_fixed_point(e, k=8, iters=1)


def test_global_row_number_rejects_reserved_columns(spark):
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.ranking import (
        global_row_number,
    )

    df = spark.range(5).select(F.col("id"), F.lit(0).alias("_pid"))
    with pytest.raises(ValueError, match="_pid"):
        global_row_number(df, [F.col("id")])


def test_range_partition_pin(spark):
    """The ranking kernels' pinned range partitioning must (a) hold
    disjoint ordered key ranges — concatenating partitions in _pid
    order IS the global order — and (b) assign identical _pid values
    on every action (split-point sampling happens exactly once; two
    independently-sampled evaluations are the offset-corruption bug
    the lineage cut exists to prevent)."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.ranking import (
        _range_partitioned,
    )

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("v"), "id", (F.col("id") * 3).alias("payload")
    )
    d = _range_partitioned(df, [F.col("v"), F.col("id")], 7)
    rows = d.select("_pid", "v", "id").collect()
    # (a) sorting by (_pid, v, id) gives the same sequence of keys as
    # sorting globally by (v, id): the range property
    by_pid = [(r.v, r.id) for r in sorted(rows, key=lambda r: (r._pid, r.v, r.id))]
    by_key = [(r.v, r.id) for r in sorted(rows, key=lambda r: (r.v, r.id))]
    assert by_pid == by_key
    # (b) a second action over the same pinned relation sees the same
    # partition assignment row for row
    again = {(r.v, r.id): r._pid for r in d.select("_pid", "v", "id").collect()}
    first = {(r.v, r.id): r._pid for r in rows}
    assert again == first


def test_global_ntile_rejects_bad_k(spark):
    import pytest as _pytest

    from spark_streaming_join_example_spark.operators.ranking import (
        global_ntile,
    )

    df = spark.range(5)
    with _pytest.raises(ValueError, match="positive int"):
        global_ntile(df, 0, ["id"])
    with _pytest.raises(ValueError, match="positive int"):
        global_ntile(df, True, ["id"])


def test_global_cumsum_requires_sums(spark):
    import pytest as _pytest

    from spark_streaming_join_example_spark.operators.ranking import (
        global_cumsum,
    )

    df = spark.range(5)
    with _pytest.raises(ValueError, match="at least one"):
        global_cumsum(df, ["id"], sums={})


def test_ivf_quantizer_sample_is_layout_independent(spark, sf_dir):
    """The IVF coarse quantizer trains on a bounded sample; the sample
    (hence the centroids, hence the index) must not depend on file
    layout or partition count — `limit()` alone picks whichever
    partitions answer first.  Identical sample multiset and identical
    trained centroids across a 7-way repartition vs the native
    layout."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        _deterministic_sample,
        _kmeans_centroids,
    )
    from spark_streaming_join_example_spark.sources.batch import load_table

    e = load_table(spark, sf_dir, "embeddings")

    def centroids(df):
        rows = _deterministic_sample(df, "embedding", n=256)
        mat = np.array([r.embedding for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return mat, _kmeans_centroids(mat, 8, seed=42)

    m1, c1 = centroids(e)
    m2, c2 = centroids(e.repartition(7))
    assert np.array_equal(m1, m2)
    assert np.array_equal(c1, c2)


def test_observe_quality_batch_single_pass(spark, sf_dir):
    """observe() metrics ride the real query's pass and must equal the
    directly-computed aggregates."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.operators.quality import (
        null_and_range_checks,
        observe_quality,
    )

    li = load_table(spark, sf_dir, "lineitem")
    checks = null_and_range_checks(
        required=["l_orderkey", "l_shipdate"],
        bounds={"l_discount": (0.0, 0.1), "l_quantity": (1.0, 50.0)},
    )
    instrumented, obs = observe_quality(li, "li_quality", checks)
    # the REAL workload runs on the instrumented frame
    revenue = (
        instrumented.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(revenue) > 0
    got = obs.get
    n = li.count()
    assert got["n_rows"] == n
    assert got["null_l_orderkey"] == 0
    assert got["null_l_shipdate"] == 0
    assert got["oob_l_discount"] == 0  # fixture domain is [0, 0.1]
    assert got["oob_l_quantity"] == 0  # fixture domain is [1, 50]


def test_observe_stream_metrics_per_batch(spark, sf_dir, tmp_path):
    """Streaming observe(): per-micro-batch metric rows must sum to the
    exact total row count across the replayed chunks (exactly-once
    observability)."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.operators.quality import (
        observe_stream,
    )
    from spark_streaming_join_example_spark.streaming import (
        chunk_events,
        read_event_stream,
    )

    replay = tmp_path / "replay"
    chunk_events(spark, sf_dir, str(replay), n_chunks=4)
    stream = read_event_stream(spark, str(replay))
    instrumented = observe_stream(
        stream,
        "ev_quality",
        {
            "n_rows": F.count(F.lit(1)),
            "null_user": F.count_if(F.col("user_id").isNull()),
        },
    )
    seen: list[dict] = []
    q = (
        instrumented.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for p in q.recentProgress:
        m = p["observedMetrics"].get("ev_quality") if p["observedMetrics"] else None
        if m is not None:
            seen.append(m)
    total = load_table(spark, sf_dir, "events").count()
    assert sum(m["n_rows"] for m in seen) == total
    assert all(m["null_user"] == 0 for m in seen)


def test_global_ranking_rejects_output_collisions(spark):
    """Output names that already exist on the input must be rejected —
    withColumn would silently replace the input column otherwise."""
    import pytest

    from spark_streaming_join_example_spark.operators.ranking import (
        global_cumsum,
        global_ntile,
        global_row_number,
    )

    df = spark.range(10).withColumn("rn", F.lit(0))
    with pytest.raises(ValueError, match="already exist"):
        global_row_number(df, ["id"])  # default out="rn" collides
    with pytest.raises(ValueError, match="already exist"):
        global_ntile(df.withColumnRenamed("rn", "bucket"), 4, ["id"])
    with pytest.raises(ValueError, match="already exist"):
        global_cumsum(df.withColumnRenamed("rn", "s"), ["id"], sums={"s": "id"})


def test_global_row_number_reliable_checkpoint(spark, tmp_path):
    """reliable=True must (a) demand a checkpoint dir, (b) produce the
    identical ranking through the fault-tolerant df.checkpoint pin."""
    import pytest

    from spark_streaming_join_example_spark.operators.ranking import (
        global_row_number,
    )

    df = spark.range(0, 1000).withColumn(
        "v", (F.col("id") * 37) % 101
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None or True  # may be set by other tests
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            global_row_number(df, ["v", "id"], reliable=True)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    fast = {
        (r.id, r.rn)
        for r in global_row_number(df, ["v", "id"]).collect()
    }
    durable = {
        (r.id, r.rn)
        for r in global_row_number(df, ["v", "id"], reliable=True).collect()
    }
    assert fast == durable and len(fast) == 1000
