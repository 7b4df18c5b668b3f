#!/usr/bin/env python3
"""The canonical streaming-join demo, end to end — what the reference
repo demonstrates, on this engine:

  1. replay the events fixture as a file stream (stand-in for Kafka;
     swap in sources/kafka.py builders on a real cluster),
  2. stream-static enrichment join against the customer dimension,
  3. stream-stream click->purchase join (watermarks + time-range),
  4. tumbling-window conversion counts,
  5. temporal (point-in-time) join — each click enriched with the
     latest profile-score update at-or-before its timestamp,
  6. drain to an in-memory sink and print the results.

Usage: python demo.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import sys
import tempfile

import pyspark.sql.functions as F

from spark_streaming_join_example_spark import get_spark, load_table
from spark_streaming_join_example_spark.streaming import (
    chunk_events,
    jobs,
    read_event_stream,
    run_to_memory,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("spark-graft-demo")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="demo_")

    print(f"== replaying {sf_dir}/events.parquet as a stream (6 chunks) ==")
    chunk_events(spark, sf_dir, f"{work}/replay", n_chunks=6)

    print("\n== 1. stream-static enrichment (events x customer) ==")
    stream = read_event_stream(spark, f"{work}/replay")
    customer = load_table(spark, sf_dir, "customer")
    enriched = run_to_memory(
        jobs.enrich_stream(stream, customer), f"{work}/ckpt1", "append"
    )
    enriched.groupBy("c_mktsegment").count().orderBy("c_mktsegment").show()

    print("== 2. stream-stream join: purchases within 30min of a click ==")
    stream2 = read_event_stream(spark, f"{work}/replay")
    clicks = stream2.filter(F.col("event_type") == "click")
    buys = stream2.filter(F.col("event_type") == "purchase")
    conversions = run_to_memory(
        jobs.stream_stream_join(clicks, buys), f"{work}/ckpt2", "append"
    )
    print(f"   {conversions.count()} click->purchase conversions")
    conversions.orderBy("c_ts").show(5, truncate=False)

    print("== 3. tumbling 1h conversion counts (append mode) ==")
    stream3 = read_event_stream(spark, f"{work}/replay")
    counts = run_to_memory(
        jobs.tumbling_counts(stream3), f"{work}/ckpt3", "append"
    )
    counts.orderBy("window_start", "event_type").show(8)

    print("== 4. temporal join: each click enriched with the profile")
    print("      score as of click time (KTable-style, keyed state) ==")
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    stream4 = read_event_stream(spark, f"{work}/replay")
    pit = run_to_memory(
        temporal_join_events(stream4), f"{work}/ckpt4", "append"
    )
    pit.orderBy("ts").show(5, truncate=False)

    print("== 5. zero-fixture pipeline: custom Python DataSource ->")
    print("      enrichment -> two-phase-commit audit sink ==")
    import json

    from spark_streaming_join_example_spark.sources import (
        AuditSinkDataSource,
        EventGenDataSource,
    )

    spark.dataSource.register(EventGenDataSource)
    spark.dataSource.register(AuditSinkDataSource)
    gen = (
        spark.readStream.format("eventgen")
        .option("maxRows", 2000)
        .load()
    )
    enriched = gen.withColumn(
        "is_purchase", (F.col("event_type") == "purchase").cast("int")
    )
    q = (
        enriched.writeStream.format("auditsink")
        .option("path", f"{work}/audit")
        .option("checkpointLocation", f"{work}/ckpt5")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with open(f"{work}/audit/batch-0.json") as fh:
        print("   audit manifest:", json.load(fh))

    print("\n== 6. streaming EXACT dedup: ingest documents incrementally,")
    print("      emit provably-complete near-dup pairs as they arrive ==")
    from spark_streaming_join_example_spark.streaming.prefix_index import (
        exact_pairs,
        maintain_prefix_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.mode("overwrite").parquet(f"{work}/docs_replay")
    doc_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/docs_replay")
    )
    maintain_prefix_index(
        doc_stream, f"{work}/prefix_idx", f"{work}/ckpt6", threshold=0.9
    ).awaitTermination()
    pairs = exact_pairs(spark, f"{work}/prefix_idx")
    print(
        f"   {pairs.count()} exact shingle-Jaccard >= 0.9 pairs found "
        "incrementally (frozen hash-order prefixes; lossless by the "
        "pigeonhole lemma)"
    )
    print("   sample:", [
        (r.a_id, r.b_id, r.jac) for r in pairs.orderBy("a_id").limit(3).collect()
    ])

    print("\n== 7. the full ingest loop: dedup-check an incoming shard,")
    print("      admit only novel docs, clusters update incrementally ==")
    from spark_streaming_join_example_spark.streaming.cluster_index import (
        compact_clusters,
        latest_clusters,
    )
    from spark_streaming_join_example_spark.streaming.prefix_index import (
        lookup_near_duplicates,
    )

    # split the corpus: first 80% is the already-ingested corpus,
    # last 20% is the incoming shard a pipeline would screen
    n_docs = docs.count()
    corpus = docs.orderBy("doc_id").limit(int(n_docs * 0.8))
    shard = docs.join(corpus.select("doc_id"), "doc_id", "left_anti")

    corpus.repartition(3).write.mode("overwrite").parquet(f"{work}/corpus")
    corpus_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/corpus")
    )
    # maintain_clusters=True folds each batch's verified pair delta
    # into incrementally-maintained duplicate-cluster ids (r10)
    maintain_prefix_index(
        corpus_stream,
        f"{work}/ingest_idx",
        f"{work}/ckpt7",
        threshold=0.9,
        maintain_clusters=True,
    ).awaitTermination()

    # (a) read-only dedup check: which incoming docs near-duplicate
    #     something already in the corpus?  The index is untouched.
    hits = lookup_near_duplicates(
        spark, f"{work}/ingest_idx", shard, id_col="doc_id"
    )
    dup_ids = hits.select(F.col("q_id").alias("doc_id")).distinct()
    n_dup = dup_ids.count()
    admitted = shard.join(dup_ids, "doc_id", "left_anti")
    print(
        f"   shard: {shard.count()} docs -> {n_dup} rejected as "
        f"near-dups of the corpus, {admitted.count()} admitted"
    )

    # (a') cluster membership of the rejects (read-only, r10 late
    #      addition): does a rejected doc hit ONE duplicate cluster
    #      (ordinary dup) or would it MERGE several (worth review)?
    from spark_streaming_join_example_spark.streaming.cluster_index import (
        lookup_components,
    )

    widths = (
        lookup_components(spark, f"{work}/ingest_idx", hits)
        .groupBy("q_id")
        .count()
    )
    n_merge = widths.filter("count > 1").count()
    print(
        f"   membership check: {n_merge} of the {n_dup} rejects span "
        f"more than one existing duplicate cluster"
    )

    # (b) ingest the admitted remainder as the next stream batch; the
    #     cluster snapshots advance under the same checkpoint
    admitted.coalesce(1).write.mode("append").parquet(f"{work}/corpus")
    maintain_prefix_index(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/corpus"),
        f"{work}/ingest_idx",
        f"{work}/ckpt7",
        threshold=0.9,
        maintain_clusters=True,
    ).awaitTermination()

    # (c) the incrementally-maintained duplicate clusters (node ->
    #     component), equivalent to batch connected components over
    #     all pairs (pinned in tests/test_cluster_index.py)
    clusters = latest_clusters(spark, f"{work}/ingest_idx")
    n_multi = (
        clusters.groupBy("component").count().filter("count > 1").count()
    )
    print(
        f"   incremental clusters: {clusters.count()} clustered docs "
        f"in {n_multi} multi-doc duplicate groups"
    )
    n = compact_clusters(
        spark, f"{work}/ingest_idx", f"{work}/clusters_compact"
    )
    print(f"   compacted snapshot: {n} rows at clusters_compact/")

    # (d) the same loop under the PARTITIONED cluster layout (r11):
    #     per-component-hash-bucket parts + a per-batch manifest, so a
    #     steady-state shard batch rewrites only touched buckets
    #     (4-6× less write volume measured — SCALE.md §Round-11)
    maintain_prefix_index(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/corpus"),
        f"{work}/ingest_idx_hp",
        f"{work}/ckpt7hp",
        threshold=0.9,
        maintain_clusters=True,
        cluster_buckets=16,
    ).awaitTermination()
    hp = latest_clusters(spark, f"{work}/ingest_idx_hp")
    same = (
        hp.exceptAll(clusters).unionByName(clusters.exceptAll(hp)).count()
        == 0
    )
    print(
        f"   partitioned layout (16 buckets): {hp.count()} rows, "
        f"identical to the full-rewrite mapping: {same}"
    )

    print("\n== 8. semantic + substring dedup (r11): SemDeDup over the")
    print("      embedding column, span-trim over the text column ==")
    from spark_streaming_join_example_spark.operators.similarity import (
        semdedup_keep,
    )
    from spark_streaming_join_example_spark.plans.round15 import q_span_trim
    from spark_streaming_join_example_spark.streaming.cosine_index import (
        lookup_near_duplicates as cosine_lookup,
        maintain_cosine_index,
    )

    # (a) batch SemDeDup: semantic duplicate groups over embeddings,
    #     one deterministic representative kept per group
    emb = load_table(spark, sf_dir, "embeddings")
    sd = semdedup_keep(emb, threshold=0.4, mode="exact").cache()
    n_vec, n_kept = sd.count(), sd.filter("kept").count()
    big = (
        sd.groupBy("component").count().orderBy(F.desc("count"), "component")
    ).first()
    print(
        f"   SemDeDup @0.4: {n_vec} vectors -> {n_kept} kept "
        f"({n_vec - n_kept} semantic dups dropped; largest group "
        f"component={big['component']} size={big['count']})"
    )

    # (b) the streaming form: corpus embeddings build a cosine-LSH
    #     index; an incoming shard is screened READ-ONLY before
    #     admission — semantic dedup as ingest admission control
    e_corpus = emb.filter(F.col("vec_id") < 400)
    e_shard = emb.filter(F.col("vec_id") >= 400)
    e_corpus.repartition(2).write.mode("overwrite").parquet(f"{work}/emb")
    maintain_cosine_index(
        spark.readStream.schema(e_corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/emb"),
        f"{work}/cos_idx",
        f"{work}/ckpt8",
        threshold=0.4,
    ).awaitTermination()
    sem_hits = cosine_lookup(
        spark, f"{work}/cos_idx", e_shard, id_col="vec_id"
    )
    n_sem = sem_hits.select("q_id").distinct().count()
    print(
        f"   streaming screen: {e_shard.count()}-vector shard -> "
        f"{n_sem} flagged as semantic dups of the indexed corpus"
    )

    # (c) substring-level dedup: per-document duplicated-span trim
    #     decision (Lee et al. 2022 style), integer-exact 50% rule
    trim = q_span_trim(spark, sf_dir).cache()
    n_drop = trim.filter("dropped").count()
    toks_saved = (
        trim.agg(F.sum(F.col("n_toks") - F.col("kept_toks"))).first()[0]
    )
    print(
        f"   span-trim: {trim.count()} docs, {n_drop} dropped at the "
        f"50% duplicated-coverage rule, {toks_saved} duplicated "
        f"tokens trimmable overall"
    )

    print("\ndone — every result above is watermark-correct and")
    print("equivalent to the batch query over the same prefix")
    print("(proven in tests/test_streaming.py, tests/test_prefix_index.py,")
    print(" tests/test_cluster_index.py, tests/test_cosine_index.py,")
    print(" tests/test_extensions.py).")


if __name__ == "__main__":
    main()
