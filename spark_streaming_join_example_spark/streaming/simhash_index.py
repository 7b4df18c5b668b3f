"""Streaming SimHash near-dup index (S8 + X2): the Hamming-distance
member of the text-index family, completing the trio —

- MinHash index (streaming/neardup_index.py): statistical Jaccard
  blocking, exact-Jaccard verify;
- prefix index (streaming/prefix_index.py): provably complete
  Jaccard blocking, exact-Jaccard verify;
- SimHash index (this module): provably complete HAMMING blocking
  over 63-bit fingerprints, exact bit_count verify.

Same maintenance discipline as both siblings: the scheme (n_bits,
max_hamming) is FROZEN per index via the shared ``_scheme`` manifest
(``neardup_index._verify_or_freeze_scheme``) — chunk values must stay
comparable across every batch ever written, so a parameter change is a
versioned rebuild, never an in-place upsert.  Per micro-batch,
exactly-once via per-batch_id idempotent overwrites:

1. fingerprints land under ``fps/batch_id=N`` — and that is the WHOLE
   per-document footprint.  Unlike the Jaccard indexes, which must
   store token/band relations for the verify, the SimHash verify is
   ``bit_count(a_fp XOR b_fp)`` on the fingerprints themselves, and
   the pigeonhole chunks are pure bit ops on one long
   (operators/dedup.simhash_chunks), re-derived at read time.  The
   index stores 16 bytes per document; this is the index to keep hot
   when the corpus is 100 TB and the toks store of the Jaccard twins
   is unaffordable.
2. candidates = chunks(NEW fps) ⋈ chunks(accumulated fps ≤ N) on
   (chunk_idx, chunk_value) — a pair whose later document arrives in
   batch N is discovered in batch N and never again, so the union of
   per-batch pair files is exactly the batch pipeline's output;
3. exact Hamming verify lands pairs under ``pairs/batch_id=N``,
   filtered to pairs touching a batch-N document (idempotence under
   retry races, as in both siblings).

Equivalence to the batch pipeline is EXACT, not statistical — same
fingerprints (xxhash64 bit sums), same pigeonhole chunk layout (the
shared simhash_chunks helper), same verify.  Pinned by
tests/test_simhash_index.py: streamed pairs == batch
operators/dedup.simhash_near_duplicates on the drained corpus, plus
restart idempotence, scheme-mismatch refusal, and lookup == brute
force (pigeonhole blocking is lossless, so the read-only lookup has
precision AND recall 1.0 at the frozen radius).

Precondition shared with both siblings (write-once corpus): doc ids
are UNIQUE across the whole stream — each document is ingested exactly
once.  Re-ingesting an existing id in a later batch re-discovers its
old pairs and lands them under a second batch_id partition: readers
still return the correct pair set (the belt-and-braces dropDuplicates
collapses the copies), but the "each pair claimed by exactly one
batch" invariant the tests pin no longer holds, and the re-ingested
document's fingerprint is stored twice.  Screen incoming shards with
``lookup_near_duplicates`` (or an id anti-join) before admission —
demo.py §7 shows the loop.

Scale contract (measured — SCALE.md §Round-10): the candidate join's
cost tracks CHUNK COLLISIONS, so the UNIT the fingerprint summarizes
decides everything.  Token-unit fingerprints (shingle=1, the
registered batch queries' semantics) concentrate on small-vocabulary
corpora and the blocker saturates to a constant all-pairs fraction
(14.2 % → 7.8 % measured from n=5 k to n=80 k — Θ(n²); do not
self-join a 100 TB corpus in that mode).  ``shingle=3`` fingerprints
word n-gram units — the SAME fix that rescued MinHash (r8) and the
prefix join (r9) — and collapses the measured candidate rate to
0.01 % of all-pairs on the identical corpus: THAT is the scale mode,
and the unit width freezes into the scheme manifest like every other
parameter.  Maintenance work per batch is one fingerprint pass (JVM
bit expressions, no Python) plus the chunk equi-join (AQE skew-split
applies).  File-count hygiene: ``neardup_index.compact_pairs``
consolidates the pairs output (shared layout); the fps store compacts
the same way on a schedule (union of CLOSED batches to a versioned
dir).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    distinct_tokens,
    shingles,
    simhash63,
    simhash_chunks,
)
from .neardup_index import _verify_or_freeze_scheme, read_scheme


def _unit(text_col: str, shingle: int):
    """The fingerprinted unit: word n-gram shingles when shingle > 1
    (the scale-safe form — see simhash_near_duplicates), else distinct
    tokens (the registered batch queries' semantics)."""
    return (
        shingles(text_col, n=shingle)
        if shingle > 1
        else distinct_tokens(text_col)
    )


def _chunk_rows(
    fps: DataFrame, id_out: str, fp_out: str, n_bits: int, max_hamming: int
) -> DataFrame:
    """Explode a (id, fp) relation into (id, fp, ci, cv) chunk rows
    under the frozen layout; the first two columns are renamed so the
    candidate self-join needs no aliasing gymnastics."""
    id_in, fp_in = fps.columns[0], "fp"
    return fps.select(
        F.col(id_in).alias(id_out),
        F.col(fp_in).alias(fp_out),
        F.explode(simhash_chunks(F.col(fp_in), n_bits, max_hamming)).alias(
            "c"
        ),
    ).select(id_out, fp_out, "c.ci", "c.cv")


def maintain_simhash_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_bits: int = 63,
    shingle: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the index-maintenance query on a streaming DataFrame of
    (id_col, text_col) rows.  Returns the StreamingQuery.

    ``shingle > 1`` fingerprints word n-gram units — the scale-safe
    form on small-vocabulary corpora (candidates 14.2 % → 0.01 % of
    all-pairs measured at n=5 k; SCALE.md §Round-10).  The unit choice
    freezes into the scheme manifest like every other parameter.

    ``maintain_clusters=True`` folds each batch's verified pair delta
    into incrementally-maintained duplicate CLUSTER ids under
    ``out_dir/clusters`` (streaming/cluster_index.py) — same option as
    both Jaccard siblings.  ``cluster_buckets`` selects the
    partitioned touched-bucket snapshot layout (``latest_clusters``
    reads either layout)."""

    scheme = {
        "kind": "simhash",
        "n_bits": n_bits,
        "max_hamming": max_hamming,
        "shingle": shingle,
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _verify_or_freeze_scheme(spark, out_dir, scheme)

        # 1. land this batch's fingerprints FIRST (idempotent
        # overwrite), then re-read from disk: the candidate join below
        # consumes one consistent on-disk relation
        batch_df.select(
            F.col(id_col),
            simhash63(_unit(text_col, shingle), n_bits=n_bits).alias("fp"),
        ).write.mode("overwrite").parquet(f"{out_dir}/fps/batch_id={batch_id}")

        # 2. candidates + verify in one pass: the chunk rows CARRY the
        # fingerprints, so hamming falls out of the equi-join without a
        # second lookup.  ≤ batch_id: a RETRIED batch must not see rows
        # from batches that ran after its first attempt.
        all_fps = (
            spark.read.parquet(f"{out_dir}/fps")
            .filter(F.col("batch_id") <= batch_id)
            .select(F.col(id_col), "fp")
        )
        new_fps = (
            spark.read.parquet(f"{out_dir}/fps")
            .filter(F.col("batch_id") == batch_id)
            .select(F.col(id_col), "fp")
        )
        a = _chunk_rows(new_fps, "_aid", "_afp", n_bits, max_hamming)
        b = _chunk_rows(all_fps, "_bid", "_bfp", n_bits, max_hamming)
        verified = (
            a.join(b, ["ci", "cv"])
            .filter(F.col("_aid") != F.col("_bid"))
            # hamming is symmetric — compute before id normalization
            .withColumn(
                "hamming",
                F.bit_count(F.col("_afp").bitwiseXOR(F.col("_bfp"))).cast(
                    "int"
                ),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select(
                F.least("_aid", "_bid").alias("a_id"),
                F.greatest("_aid", "_bid").alias("b_id"),
                "hamming",
            )
            .distinct()
        )

        # 3. keep only pairs touching a batch-N document: a pair with
        # both sides in EARLIER batches was already claimed when its
        # later doc arrived (only reachable when a retried batch races
        # a successor's files — the filter keeps the rewrite idempotent)
        new_ids = new_fps.select(F.col(id_col).alias("_nid")).distinct()
        verified = verified.join(
            new_ids,
            (F.col("a_id") == F.col("_nid"))
            | (F.col("b_id") == F.col("_nid")),
            "left_semi",
        )
        verified.write.mode("overwrite").parquet(
            f"{out_dir}/pairs/batch_id={batch_id}"
        )

        if maintain_clusters:
            from .cluster_index import update_cluster_snapshot

            landed = spark.read.parquet(
                f"{out_dir}/pairs/batch_id={batch_id}"
            )
            update_cluster_snapshot(
                spark,
                out_dir,
                landed,
                batch_id,
                n_buckets=cluster_buckets,
            )

    return (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def simhash_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified near-dup pairs (a_id, b_id, hamming).

    Each pair is claimed by exactly one batch; the dropDuplicates is
    the same belt-and-braces as the siblings' readers."""
    return (
        spark.read.parquet(f"{out_dir}/pairs")
        .select("a_id", "b_id", "hamming")
        .dropDuplicates(["a_id", "b_id"])
    )


def lookup_near_duplicates(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    max_hamming: int | None = None,
    id_col: str = "q_id",
    text_col: str = "text",
) -> DataFrame:
    """Read-only near-dup lookup against a SIMHASH index: flag query
    documents WITHOUT ingesting them, (q_id, doc_id, hamming).

    The fingerprint scheme comes from the frozen manifest;
    ``max_hamming`` defaults to the index's and may only be LOWERED —
    the pigeonhole chunk count was sized for the frozen radius, so a
    larger query radius would silently lose the losslessness guarantee
    (the Jaccard twins have the same only-tighter rule).  Within the
    frozen radius, blocking is lossless and the verify exact, so both
    precision and recall are 1.0 (in fingerprint space)."""
    m = read_scheme(spark, out_dir, "simhash")
    r_index = int(m["max_hamming"])
    r = r_index if max_hamming is None else int(max_hamming)
    if r > r_index:
        raise ValueError(
            f"lookup max_hamming {r} exceeds the index's frozen radius "
            f"{r_index}: the pigeonhole chunk layout only guarantees "
            "losslessness up to the frozen radius (rebuild the index for "
            "a larger one)"
        )
    n_bits = int(m["n_bits"])
    # unit scheme comes from the frozen manifest — a caller cannot
    # query with a different shingle width than the index was built at
    shingle = int(m.get("shingle") or 1)
    idx_id = m.get("id_col") or "doc_id"
    q_fps = docs.select(
        F.col(id_col),
        simhash63(_unit(text_col, shingle), n_bits=n_bits).alias("fp"),
    )
    idx_fps = (
        spark.read.parquet(f"{out_dir}/fps")
        .select(F.col(idx_id).alias("doc_id"), "fp")
    )
    # chunk at the FROZEN radius (the layout the index's pairs were
    # built under), verify at the query radius r ≤ frozen
    a = _chunk_rows(q_fps, "q_id", "_qfp", n_bits, r_index)
    b = _chunk_rows(idx_fps, "doc_id", "_dfp", n_bits, r_index)
    return (
        a.join(b, ["ci", "cv"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("_qfp").bitwiseXOR(F.col("_dfp"))).cast("int"),
        )
        .filter(F.col("hamming") <= r)
        .select("q_id", "doc_id", "hamming")
        .distinct()
    )
