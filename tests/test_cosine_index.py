"""Streaming cosine-LSH near-dup index (round 11): the VECTOR member
of the index family must match the batch ann_pairs_above pipeline
under the SAME frozen scheme on the drained corpus (same seeded
hyperplanes, same band slices, exact-cosine verify), with each pair
claimed by exactly one batch — the same contract as the three text
siblings, in embedding space."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_join_example_spark import load_table
from spark_streaming_join_example_spark.operators.similarity import (
    ann_pairs_above,
)
from spark_streaming_join_example_spark.streaming.cosine_index import (
    cosine_pairs,
    lookup_near_duplicates,
    maintain_cosine_index,
)
_T = 0.4  # fixture similarity is diffuse; the scheme is frozen per test


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _replay_stream(spark, df, replay_dir, n_chunks):
    df.repartition(n_chunks).write.mode("overwrite").parquet(
        str(replay_dir)
    )
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay_dir))
    )


def _batch_twin_pairs(emb):
    """The batch pipeline under the index's frozen scheme: explicit
    n_planes (no auto-scaling), salting disabled (the index uses the
    join-shaped candidate path; blocking is identical either way)."""
    return ann_pairs_above(
        emb, threshold=_T, n_planes=64, bands=8, max_bucket=10**9
    )


def test_streaming_cosine_equals_batch(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    stream = _replay_stream(spark, emb, tmp_path / "replay", 4)
    idx = str(tmp_path / "cos_idx")
    maintain_cosine_index(
        stream, idx, str(tmp_path / "ckpt"), threshold=_T
    ).awaitTermination()

    streamed = {
        (r.a_id, r.b_id): r.cos_sim
        for r in cosine_pairs(spark, idx).collect()
    }
    batch = {
        (r.a_id, r.b_id): r.cos_sim
        for r in _batch_twin_pairs(emb).collect()
    }
    assert batch, "no batch pairs at the test threshold; test vacuous"
    assert set(streamed) == set(batch)
    # numpy (batch kernel) vs JVM HOF (index verify) agree to rounding
    for k, v in streamed.items():
        assert abs(v - batch[k]) <= 2e-6, (k, v, batch[k])

    # each pair claimed by exactly ONE batch
    raw = spark.read.parquet(f"{idx}/pairs").groupBy("a_id", "b_id").count()
    assert raw.filter(F.col("count") > 1).count() == 0

    # really incremental, with cross-batch discoveries
    vecs = spark.read.parquet(f"{idx}/vecs")
    assert vecs.select("batch_id").distinct().count() >= 3
    first = {
        r.vec_id
        for r in vecs.filter(F.col("batch_id") == 0)
        .select("vec_id")
        .collect()
    }
    assert [
        p for p in streamed if (p[0] in first) != (p[1] in first)
    ], "replay produced no cross-batch pairs; equivalence vacuous"


def test_streaming_cosine_restart_is_idempotent(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 300)
    shard = _emb(spark, sf_dir).filter(F.col("vec_id") >= 300)
    replay = tmp_path / "replay"
    idx = str(tmp_path / "cos_idx")
    ckpt = str(tmp_path / "ckpt")
    emb.coalesce(1).write.mode("overwrite").parquet(str(replay))

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay))
        )
        maintain_cosine_index(
            stream, idx, ckpt, threshold=_T
        ).awaitTermination()

    run()
    after_first = {
        (r.a_id, r.b_id) for r in cosine_pairs(spark, idx).collect()
    }
    run()  # nothing new to drain
    assert {
        (r.a_id, r.b_id) for r in cosine_pairs(spark, idx).collect()
    } == after_first

    # new shard folds incrementally; union matches the batch twin
    shard.coalesce(1).write.mode("append").parquet(str(replay))
    run()
    got = {(r.a_id, r.b_id) for r in cosine_pairs(spark, idx).collect()}
    want = {
        (r.a_id, r.b_id)
        for r in _batch_twin_pairs(_emb(spark, sf_dir)).collect()
    }
    assert got == want


def test_cosine_scheme_mismatch_refuses_to_run(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 100)
    idx = str(tmp_path / "cos_idx")
    stream = _replay_stream(spark, emb, tmp_path / "replay", 1)
    maintain_cosine_index(
        stream, idx, str(tmp_path / "ckpt1"), threshold=_T, bands=8
    ).awaitTermination()

    stream2 = _replay_stream(spark, emb, tmp_path / "replay2", 1)
    q = maintain_cosine_index(
        stream2, idx, str(tmp_path / "ckpt2"), threshold=_T, bands=4
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException) as ei:
        q.awaitTermination()
    assert "SchemeMismatch" in str(ei.value) or "scheme" in str(ei.value)


def test_cosine_lookup_is_read_only_and_exact_precision(
    spark, sf_dir, tmp_path
):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") < 400)
    queries = emb.filter(F.col("vec_id") >= 400).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    idx = str(tmp_path / "cos_idx")
    stream = _replay_stream(spark, corpus, tmp_path / "replay", 2)
    maintain_cosine_index(
        stream, idx, str(tmp_path / "ckpt"), threshold=_T
    ).awaitTermination()

    before = spark.read.parquet(f"{idx}/pairs").count()
    hits = lookup_near_duplicates(spark, idx, queries).collect()
    assert hits, "no cross-boundary lookup hits; test vacuous"
    assert spark.read.parquet(f"{idx}/pairs").count() == before

    # precision 1.0: every hit's exact cosine clears the threshold
    # (re-derive with the batch twin's numpy kernel over the union)
    import numpy as np

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    for r in hits:
        a, b = vecs[r.q_id], vecs[r.doc_id]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= _T - 1e-9
        assert abs(round(cos, 6) - r.cos_sim) <= 2e-6

    # only-tighter threshold rule
    with pytest.raises(ValueError):
        lookup_near_duplicates(spark, idx, queries, threshold=_T - 0.1)


def test_cosine_maintain_clusters_matches_batch_cc(spark, sf_dir, tmp_path):
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )
    from spark_streaming_join_example_spark.streaming.cluster_index import (
        latest_clusters,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "cos_idx")
    stream = _replay_stream(spark, emb, tmp_path / "replay", 3)
    maintain_cosine_index(
        stream,
        idx,
        str(tmp_path / "ckpt"),
        threshold=_T,
        maintain_clusters=True,
        cluster_buckets=8,
    ).awaitTermination()

    got = {
        (r.node, r.component)
        for r in latest_clusters(spark, idx).collect()
    }
    want = {
        (r.node, r.component)
        for r in connected_components(
            cosine_pairs(spark, idx).select("a_id", "b_id")
        ).collect()
    }
    assert got == want and got


def test_compact_pairs_preserves_cosine_layout(spark, sf_dir, tmp_path):
    from spark_streaming_join_example_spark.streaming.neardup_index import (
        compact_pairs,
    )

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 300)
    idx = str(tmp_path / "cos_idx")
    stream = _replay_stream(spark, emb, tmp_path / "replay", 2)
    maintain_cosine_index(
        stream, idx, str(tmp_path / "ckpt"), threshold=_T
    ).awaitTermination()

    dest = str(tmp_path / "pairs_compact")
    n = compact_pairs(spark, idx, dest)
    live = {
        (r.a_id, r.b_id, r.cos_sim)
        for r in cosine_pairs(spark, idx).collect()
    }
    compacted = {
        (r.a_id, r.b_id, r.cos_sim)
        for r in spark.read.parquet(dest).collect()
    }
    assert n == len(live) and compacted == live
    assert set(spark.read.parquet(dest).columns) == {
        "a_id",
        "b_id",
        "cos_sim",
    }


def test_cosine_index_mid_batch_crash_recovery(spark, sf_dir, tmp_path):
    """Crash-window chaos (same scenario as all three text siblings):
    a batch whose vecs/bands/pairs output landed but whose checkpoint
    commit did not is re-executed on restart — the per-batch_id
    overwrite must converge to the exact same pair set, with every
    pair still claimed exactly once."""
    import glob
    import os as _os

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 300)
    replay = tmp_path / "replay"
    emb.repartition(3).write.mode("overwrite").parquet(str(replay))
    idx = str(tmp_path / "cos_idx")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay))
        )
        return maintain_cosine_index(stream, idx, ckpt, threshold=_T)

    start().awaitTermination()
    before = sorted(
        (r.a_id, r.b_id, r.cos_sim)
        for r in cosine_pairs(spark, idx).collect()
    )
    assert before, "fixture produced no pairs; chaos test vacuous"

    commits = sorted(
        glob.glob(_os.path.join(ckpt, "commits", "[0-9]*")),
        key=lambda p: int(_os.path.basename(p)),
    )
    assert len(commits) >= 2
    _os.remove(commits[-1])
    crc = _os.path.join(
        _os.path.dirname(commits[-1]),
        f".{_os.path.basename(commits[-1])}.crc",
    )
    if _os.path.exists(crc):
        _os.remove(crc)
    start().awaitTermination()
    after = sorted(
        (r.a_id, r.b_id, r.cos_sim)
        for r in cosine_pairs(spark, idx).collect()
    )
    assert after == before
    raw = spark.read.parquet(f"{idx}/pairs").groupBy("a_id", "b_id").count()
    assert raw.filter(F.col("count") > 1).count() == 0
