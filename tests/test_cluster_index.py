"""Incrementally-maintained duplicate-cluster ids (r10): folding the
streaming indexes' per-batch pair deltas into a persisted
(node, component) mapping must be value-identical to a from-scratch
connected-components run over all pairs ever seen — that equivalence
is the whole contract (streaming/cluster_index.py module docstring).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from spark_streaming_join_example_spark import load_table
from spark_streaming_join_example_spark.operators.dedup import (
    prefix_filter_jaccard_pairs,
)
from spark_streaming_join_example_spark.operators.graph import (
    connected_components,
)
from spark_streaming_join_example_spark.streaming.cluster_index import (
    compact_clusters,
    latest_clusters,
    merge_pairs_into_clusters,
    update_cluster_snapshot,
)
from spark_streaming_join_example_spark.streaming.prefix_index import (
    exact_pairs,
    maintain_prefix_index,
)

_SF_DIR = "/root/testdata/sf0.01"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(_SF_DIR),
    reason=f"equivalence fixture {_SF_DIR} not generated on this machine",
)


def _cc_set(df):
    return {(r.node, r.component) for r in df.collect()}


def test_merge_fold_equals_batch_cc(spark):
    """Pure-batch pin of the merge kernel: folding a pair set in
    three arbitrary chunks through merge_pairs_into_clusters equals
    one connected_components run over the union."""
    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    pairs = prefix_filter_jaccard_pairs(
        docs, threshold=0.9, shingle=3
    ).select("a_id", "b_id").localCheckpoint(eager=True)
    assert pairs.count() >= 20, "fixture lost its planted pairs"

    chunks = [
        pairs.filter(F.col("b_id") % 3 == k) for k in range(3)
    ]
    state = None
    for c in chunks:
        state = merge_pairs_into_clusters(state, c)
    want = _cc_set(connected_components(pairs))
    assert _cc_set(state) == want

    # folding the SAME chunk again is a no-op (idempotent union —
    # the property foreachBatch retry semantics lean on)
    again = merge_pairs_into_clusters(state, chunks[1])
    assert _cc_set(again) == want


def test_streaming_clusters_equal_batch_cc(spark, tmp_path):
    """Drained streaming clusters (4 micro-batches through the exact
    prefix index with maintain_clusters=True) == batch
    connected_components over the batch prefix join's pairs == CC over
    the index's own accumulated pair store."""
    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    replay = tmp_path / "replay"
    docs.repartition(4).write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "prefix_idx")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    maintain_prefix_index(
        stream, idx, str(tmp_path / "ckpt"), threshold=0.9,
        maintain_clusters=True,
    ).awaitTermination()

    got = _cc_set(latest_clusters(spark, idx))
    want = _cc_set(
        connected_components(
            prefix_filter_jaccard_pairs(docs, threshold=0.9, shingle=3)
        )
    )
    assert got == want
    # and against the index's OWN pair store (same relation the
    # incremental fold consumed, one batch at a time)
    assert got == _cc_set(connected_components(exact_pairs(spark, idx)))

    # compaction preserves the mapping exactly
    dest = str(tmp_path / "clusters_compact")
    n = compact_clusters(spark, idx, dest)
    assert n == len(got)
    assert {
        (r.node, r.component) for r in spark.read.parquet(dest).collect()
    } == got


def test_cluster_restart_and_new_shard(spark, tmp_path):
    """Restart with nothing new leaves the mapping unchanged; a new
    shard arriving through the SAME checkpoint folds incrementally and
    still matches the from-scratch batch answer over the full corpus."""
    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 400)
    shard = docs.filter(F.col("doc_id") >= 400)

    replay = tmp_path / "replay"
    idx = str(tmp_path / "prefix_idx")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("overwrite").parquet(str(replay))

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay))
        )
        maintain_prefix_index(
            stream, idx, ckpt, threshold=0.9, maintain_clusters=True
        ).awaitTermination()

    run()
    after_first = _cc_set(latest_clusters(spark, idx))
    assert after_first == _cc_set(
        connected_components(
            prefix_filter_jaccard_pairs(first, threshold=0.9, shingle=3)
        )
    )

    run()  # nothing new to drain
    assert _cc_set(latest_clusters(spark, idx)) == after_first

    # new shard lands as additional replay files → incremental fold
    shard.coalesce(1).write.mode("append").parquet(str(replay))
    run()
    assert _cc_set(latest_clusters(spark, idx)) == _cc_set(
        connected_components(
            prefix_filter_jaccard_pairs(docs, threshold=0.9, shingle=3)
        )
    )


def test_snapshot_retry_is_idempotent(spark, tmp_path):
    """A retried batch id recomputes from its PREDECESSOR's snapshot
    and overwrites its own — running the same update twice yields the
    identical mapping (foreachBatch redelivery safety)."""
    out = str(tmp_path / "idx")
    p1 = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    p2 = spark.createDataFrame([(2, 3), (5, 6)], "a_id long, b_id long")

    update_cluster_snapshot(spark, out, p1, 0)
    update_cluster_snapshot(spark, out, p2, 1)
    want = _cc_set(latest_clusters(spark, out))
    assert want == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}

    update_cluster_snapshot(spark, out, p2, 1)  # retry batch 1
    assert _cc_set(latest_clusters(spark, out)) == want


def test_merge_handles_empty_delta_and_empty_store(spark):
    empty = spark.createDataFrame([], "a_id long, b_id long")
    assert merge_pairs_into_clusters(None, empty).count() == 0

    p = spark.createDataFrame([(7, 9)], "a_id long, b_id long")
    state = merge_pairs_into_clusters(None, p)
    out = merge_pairs_into_clusters(state, empty)
    assert _cc_set(out) == {(7, 7), (9, 7)}


def _parts_versions(base):
    """{(bucket, batch_id)} part dirs present on disk."""
    import pathlib

    out = set()
    root = pathlib.Path(base) / "clusters_parts"
    if not root.is_dir():
        return out
    for b in root.glob("bucket=*"):
        for v in b.glob("batch_id=*"):
            out.add((int(b.name.split("=")[1]), int(v.name.split("=")[1])))
    return out


def _dir_bytes(path):
    import pathlib

    return sum(
        p.stat().st_size
        for p in pathlib.Path(path).rglob("*")
        if p.is_file()
    )


def test_partitioned_equals_full_rewrite_and_batch_cc(spark, tmp_path):
    """The r11 production layout: folding the same per-batch pair
    deltas through the partitioned touched-bucket store must equal the
    full-rewrite snapshot store AND a from-scratch batch CC — after
    every batch, not just the last."""
    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    pairs = prefix_filter_jaccard_pairs(
        docs, threshold=0.9, shingle=3
    ).select("a_id", "b_id").localCheckpoint(eager=True)
    assert pairs.count() >= 20, "fixture lost its planted pairs"
    chunks = [pairs.filter(F.col("b_id") % 3 == k) for k in range(3)]

    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    seen = None
    for i, c in enumerate(chunks):
        update_cluster_snapshot(spark, full, c, i)
        update_cluster_snapshot(spark, part, c, i, n_buckets=8)
        seen = c if seen is None else seen.unionByName(c)
        want = _cc_set(connected_components(seen))
        assert _cc_set(latest_clusters(spark, full)) == want
        assert _cc_set(latest_clusters(spark, part)) == want

    # compaction over the partitioned store preserves the mapping
    dest = str(tmp_path / "compact")
    n = compact_clusters(spark, part, dest)
    got = {
        (r.node, r.component) for r in spark.read.parquet(dest).collect()
    }
    assert n == len(got) and got == _cc_set(connected_components(pairs))


def test_partitioned_rewrites_only_touched_buckets(spark, tmp_path):
    """The point of the layout: a batch whose merges touch few
    components must leave the other buckets' parts untouched on disk
    (carried by manifest reference), and its rewrite volume must be a
    strict subset of what a full snapshot would write."""
    out = str(tmp_path / "idx")
    # batch 0: many separate 2-clusters spread across buckets
    p0 = spark.createDataFrame(
        [(2 * k, 2 * k + 1) for k in range(64)], "a_id long, b_id long"
    )
    update_cluster_snapshot(spark, out, p0, 0, n_buckets=16)
    v0 = _parts_versions(out)
    assert v0 and all(v == 0 for _, v in v0)

    # batch 1: ONE merge (components 0 and 2 join)
    p1 = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    update_cluster_snapshot(spark, out, p1, 1, n_buckets=16)
    v1 = _parts_versions(out)
    rewritten = {b for b, v in v1 if v == 1}
    # the merge touches at most the two buckets on either side of the
    # move (one when both components hash together) — NOT all 16
    assert 1 <= len(rewritten) <= 2
    # untouched batch-0 parts still on disk, untouched
    assert {(b, 0) for b, _ in v0} <= v1

    # mapping still exact
    want = _cc_set(
        connected_components(p0.unionByName(p1))
    )
    assert _cc_set(latest_clusters(spark, out)) == want

    # rewrite volume: batch 1's new parts are much smaller than the
    # full store (the full-rewrite layout would rewrite everything)
    import pathlib

    new_bytes = sum(
        _dir_bytes(str(pathlib.Path(out) / "clusters_parts" / f"bucket={b}" / "batch_id=1"))
        for b in rewritten
    )
    total_bytes = _dir_bytes(str(pathlib.Path(out) / "clusters_parts"))
    assert new_bytes < total_bytes / 4


def test_partitioned_retry_and_crash_recovery(spark, tmp_path):
    """Retried batch ids are idempotent, including the crash window:
    parts written but the manifest (the commit point) missing — the
    retry reads only predecessor manifests and overwrites the orphan
    parts deterministically."""
    import shutil

    out = str(tmp_path / "idx")
    p1 = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    p2 = spark.createDataFrame([(2, 3), (5, 6)], "a_id long, b_id long")

    update_cluster_snapshot(spark, out, p1, 0, n_buckets=4)
    update_cluster_snapshot(spark, out, p2, 1, n_buckets=4)
    want = _cc_set(latest_clusters(spark, out))
    assert want == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}

    # plain retry
    update_cluster_snapshot(spark, out, p2, 1, n_buckets=4)
    assert _cc_set(latest_clusters(spark, out)) == want

    # crash window: batch 1's manifest vanishes after its parts landed
    shutil.rmtree(f"{out}/clusters_manifest/batch_id=1")
    # readers now see batch 0's state (the commit point is the manifest)
    assert _cc_set(latest_clusters(spark, out)) == {
        (1, 1),
        (2, 1),
        (3, 3),
        (4, 3),
    }
    update_cluster_snapshot(spark, out, p2, 1, n_buckets=4)  # redelivery
    assert _cc_set(latest_clusters(spark, out)) == want


def test_partitioned_empty_delta_carries_manifest(spark, tmp_path):
    out = str(tmp_path / "idx")
    p = spark.createDataFrame([(7, 9)], "a_id long, b_id long")
    empty = spark.createDataFrame([], "a_id long, b_id long")

    update_cluster_snapshot(spark, out, p, 0, n_buckets=4)
    update_cluster_snapshot(spark, out, empty, 1, n_buckets=4)
    # no new parts, but batch 1 committed a manifest carrying batch 0's
    assert all(v == 0 for _, v in _parts_versions(out))
    assert _cc_set(latest_clusters(spark, out)) == {
        (7, 7),
        (9, 7),
    }


def test_index_cluster_buckets_passthrough(spark, tmp_path):
    """The text indexes' maintain_clusters path can select the
    partitioned snapshot layout: prefix index with cluster_buckets=8
    yields the same clusters (via the partitioned reader) as the
    batch connected components over its own pair join."""
    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    replay = tmp_path / "replay"
    docs.repartition(3).write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "prefix_idx")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    maintain_prefix_index(
        stream,
        idx,
        str(tmp_path / "ckpt"),
        threshold=0.9,
        maintain_clusters=True,
        cluster_buckets=8,
    ).awaitTermination()
    got = _cc_set(latest_clusters(spark, idx))
    assert got == _cc_set(
        connected_components(
            prefix_filter_jaccard_pairs(docs, threshold=0.9, shingle=3)
        )
    )
    # the partitioned store was used: manifest exists, full-snapshot
    # layout was never written
    import pathlib

    assert (pathlib.Path(idx) / "clusters_manifest").is_dir()
    assert not (pathlib.Path(idx) / "clusters").exists()


def test_partitioned_streaming_maintenance(spark, tmp_path):
    """End-to-end through foreachBatch: maintain_cluster_index with
    n_buckets folds a replayed pair stream into the partitioned store;
    drained state == batch CC over all pairs."""
    from spark_streaming_join_example_spark.streaming.cluster_index import (
        maintain_cluster_index,
    )

    docs = load_table(spark, _SF_DIR, "documents").select("doc_id", "text")
    pairs = prefix_filter_jaccard_pairs(
        docs, threshold=0.9, shingle=3
    ).select("a_id", "b_id")
    replay = tmp_path / "replay"
    pairs.repartition(3).write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema(pairs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    maintain_cluster_index(
        stream, idx, str(tmp_path / "ckpt"), n_buckets=8
    ).awaitTermination()
    assert _cc_set(latest_clusters(spark, idx)) == _cc_set(
        connected_components(pairs)
    )


def test_lookup_components_maps_matches_to_clusters(spark, tmp_path):
    """Read-only cluster membership for an incoming shard (r10 late
    addition): index the corpus with maintain_clusters=True, run the
    read-only near-dup lookup for held-out queries, then map the
    matches onto clusters with lookup_components — every row must
    agree with a hand-computed model over batch connected components
    (matched singletons surface as their own 1-member cluster), and
    nothing is written."""
    from collections import defaultdict

    from spark_streaming_join_example_spark.streaming.cluster_index import (
        lookup_components,
    )
    from spark_streaming_join_example_spark.streaming.simhash_index import (
        lookup_near_duplicates,
        maintain_simhash_index,
        simhash_pairs,
    )

    all_docs = load_table(spark, _SF_DIR, "documents").select(
        "doc_id", "text"
    )
    corpus = all_docs.filter(F.col("doc_id") < 400)
    queries = all_docs.filter(F.col("doc_id") >= 400).select(
        F.col("doc_id").alias("q_id"), "text"
    )
    replay = tmp_path / "replay"
    corpus.repartition(2).write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "sh_idx")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    maintain_simhash_index(
        stream, idx, str(tmp_path / "ckpt"), maintain_clusters=True
    ).awaitTermination()

    matches = lookup_near_duplicates(spark, idx, queries)
    assert matches.count() > 0, "no cross-boundary matches; test vacuous"
    got = {
        (r.q_id, r.component, r.n_members)
        for r in lookup_components(spark, idx, matches).collect()
    }

    # model: components from the drained pair store (= batch CC),
    # sizes per component, singletons map to themselves
    comp = {
        r.node: r.component
        for r in connected_components(
            simhash_pairs(spark, idx).select("a_id", "b_id")
        ).collect()
    }
    sizes = defaultdict(int)
    for n, c in comp.items():
        sizes[c] += 1
    want = set()
    for r in matches.select("q_id", "doc_id").distinct().collect():
        c = comp.get(r.doc_id, r.doc_id)
        want.add((r.q_id, c, sizes.get(c, 1)))
    assert got == want

    # read-only: snapshot store unchanged by the lookup
    snaps = spark.read.parquet(f"{idx}/clusters").count()
    lookup_components(spark, idx, matches).collect()
    assert spark.read.parquet(f"{idx}/clusters").count() == snaps


def test_lookup_components_reads_partitioned_store(spark, tmp_path):
    """lookup_components finds the layout on its own: over a store
    written with n_buckets it returns the same rows as over the
    full-snapshot store fed the same pair deltas."""
    from spark_streaming_join_example_spark.streaming.cluster_index import (
        lookup_components,
    )

    schema = "a_id long, b_id long"
    deltas = [
        spark.createDataFrame([(1, 2), (3, 4), (10, 11)], schema),
        spark.createDataFrame([(2, 3), (20, 21)], schema),
    ]
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    for i, d in enumerate(deltas):
        update_cluster_snapshot(spark, full, d, i)
        update_cluster_snapshot(spark, part, d, i, n_buckets=4)
    matches = spark.createDataFrame(
        [(100, 1), (100, 10), (101, 4), (101, 21), (102, 99), (103, 11)],
        "q_id long, doc_id long",
    )

    def rows(out_dir):
        return sorted(
            tuple(r) for r in lookup_components(spark, out_dir, matches).collect()
        )

    want = [
        (100, 1, 4),
        (100, 10, 2),
        (101, 1, 4),
        (101, 20, 2),
        (102, 99, 1),
        (103, 10, 2),
    ]
    assert rows(full) == want
    assert rows(part) == want
