"""Streaming near-duplicate ingestion (S8 + X2): continuously ingest
a document stream into a MinHash signature index and emit verified
near-dup pairs incrementally.

The same maintenance shape as the streaming IVF index
(streaming/vector_index.py): the band scheme (shingle width, hash
count, band count, threshold) is FROZEN per index — signatures are
deterministic functions of text (xxhash64), so unlike the IVF
quantizer nothing needs training, but a scheme change is still a
versioned index rebuild, never an in-place upsert, because bucket
values must stay comparable across every batch ever written.

Per micro-batch, exactly-once via per-batch_id idempotent overwrites
(foreachBatch is at-least-once; a retried batch rewrites its own
subtree):

1. shingle → MinHash signature → banded (doc_id, band, bucket) rows
   land under ``bands/batch_id=N``; the shingle sets (needed by the
   exact verify) land under ``toks/batch_id=N``;
2. candidates = NEW banded rows ⋈ accumulated banded rows (batches
   ≤ N) on (band, bucket) — a pair whose later document arrives in
   batch N is discovered in batch N and never again, so the union of
   per-batch pair files is exactly the batch pipeline's output;
3. exact-Jaccard verify (operators/dedup.exact_jaccard_verify, the
   SAME code path as the batch pipeline) lands verified pairs under
   ``pairs/batch_id=N``.

Equivalence to the batch pipeline is EXACT, not statistical: same
shingles, same signatures, same buckets, same verify — pinned by
tests/test_neardup_index.py (streaming-ingested pairs == batch
minhash_near_duplicates on the drained corpus, plus crash-mid-batch
recovery).

At 100 TB: per-batch work is linear in the batch (signature pass) plus
the candidate join, whose right side is the accumulated BANDED index —
fixed-width longs, (band, bucket) equi-join, so cost tracks true
collisions, not corpus size × batch size.  The toks store is the heavy
side (it carries the shingle sets the verify needs); production
variants can re-derive shingles from the raw corpus at verify time
instead of storing them — same join shape, one more text scan.

File-count hygiene at long horizons: each micro-batch adds one file
set per subtree, and the candidate join re-opens every accumulated
file each batch.  ``compact_pairs`` below consolidates the OUTPUT
(the hot consumer path) with the separate-dir pattern; the
toks/bands (or prefix) stores compact the same way on a schedule —
write the union of CLOSED batches (≤ last committed) to a versioned
dir, then point maintenance at it via the manifest.  The semantics
absorb a crash window that leaves both copies visible: candidates are
``distinct()``-ed and readers dropDuplicate, so transient duplicate
index rows cost work, never correctness.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    banded_signatures,
    distinct_tokens,
    exact_jaccard_verify,
    minhash_signatures,
    shingles,
)


class SchemeMismatch(ValueError):
    """An existing index was opened with different band-scheme
    parameters than it was built with."""


def _verify_or_freeze_scheme(
    spark: SparkSession, out_dir: str, scheme: dict
) -> None:
    """Enforce the FROZEN band scheme the module docstring promises.

    Before r9 nothing enforced it: restarting maintenance against an
    existing ``out_dir`` with different (shingle, num_hashes, bands,
    threshold) silently appended INCOMPARABLE bucket values — new
    batches stopped matching old documents, silent false negatives
    instead of an error.  The scheme manifest (one JSON row under
    ``out_dir/_scheme``, written through Spark's own writer so any
    Spark-writable filesystem works) is written by the first batch and
    re-verified on every subsequent batch; a mismatch raises
    :class:`SchemeMismatch` naming both schemes — the fix is a
    versioned rebuild, mirroring how the IVF index freezes its
    quantizer (streaming/vector_index.py)."""
    from pyspark.errors import AnalysisException

    path = f"{out_dir}/_scheme"
    try:
        existing = spark.read.json(path).collect()
    except AnalysisException as e:
        # ONLY the missing-path analysis error may take the freeze
        # branch.  Any OTHER AnalysisException — e.g. a crashed first
        # write leaving a present-but-empty ``_scheme`` dir, which
        # surfaces as UNABLE_TO_INFER_SCHEMA — must re-raise: the
        # on-disk manifest state is indeterminate and silently
        # re-freezing with the CALLER's scheme could legitimize an
        # index whose data was written under a different one.  (r9
        # matched any AnalysisException here; r10 advisor fix.)
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        # path absent → first batch freezes the scheme.
        spark.createDataFrame(
            [tuple(scheme[k] for k in sorted(scheme))],
            ", ".join(
                f"{k} {'double' if isinstance(scheme[k], float) else 'string' if isinstance(scheme[k], str) else 'long'}"
                for k in sorted(scheme)
            ),
        ).coalesce(1).write.mode("overwrite").json(path)
        return
    # .get: a manifest of a DIFFERENT index kind (e.g. pointing a
    # prefix index at a MinHash out_dir) lacks keys — that is a
    # mismatch to report, not a field-access error
    found = {k: existing[0].asDict().get(k) for k in scheme} if existing else {}
    if found != scheme:
        raise SchemeMismatch(
            f"near-dup index at {out_dir} was built with scheme {found} "
            f"but opened with {scheme}; bucket values are not comparable "
            "across schemes — rebuild the index under a new out_dir "
            "(versioned rebuild) instead of changing parameters in place"
        )


def maintain_neardup_index(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    num_hashes: int = 128,
    bands: int = 16,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_clusters: bool = False,
    cluster_buckets: int | None = None,
):
    """Start the index-maintenance query on a streaming DataFrame of
    (id_col, text_col) rows.  Returns the StreamingQuery.

    ``maintain_clusters=True`` (r10) additionally folds each batch's
    verified pair delta into incrementally-maintained duplicate
    CLUSTER ids under ``out_dir/clusters`` — see
    streaming/cluster_index.py.  ``cluster_buckets`` selects the
    partitioned touched-bucket snapshot layout (``latest_clusters``
    reads either layout)."""

    scheme = {
        "kind": "minhash",
        "shingle": shingle,
        "num_hashes": num_hashes,
        "bands": bands,
        "threshold": float(threshold),
        "id_col": id_col,
        "text_col": text_col,
    }

    def land(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _verify_or_freeze_scheme(spark, out_dir, scheme)
        unit = (
            shingles(text_col, n=shingle)
            if shingle > 1
            else distinct_tokens(text_col)
        )
        toks = batch_df.select(F.col(id_col), unit.alias("toks"))
        sig = minhash_signatures(toks, id_col, F.col("toks"), num_hashes)
        banded = banded_signatures(sig, id_col, num_hashes, bands)

        # 1. land this batch's index rows FIRST (idempotent overwrite),
        # then re-read them from disk: the joins below consume one
        # consistent on-disk relation instead of recomputing the
        # signature lineage per consumer
        toks.write.mode("overwrite").parquet(
            f"{out_dir}/toks/batch_id={batch_id}"
        )
        banded.write.mode("overwrite").parquet(
            f"{out_dir}/bands/batch_id={batch_id}"
        )

        # 2. candidates: new rows vs the accumulated index (≤ this
        # batch — a RETRIED batch must not see rows from batches that
        # ran after its first attempt, or it would claim their pairs)
        all_bands = spark.read.parquet(f"{out_dir}/bands").filter(
            F.col("batch_id") <= batch_id
        )
        new_bands = all_bands.filter(F.col("batch_id") == batch_id)
        a = new_bands.select(
            F.col(id_col).alias("a_id"), "band", "bucket"
        )
        b = all_bands.select(F.col(id_col).alias("b_id"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                F.least("a_id", "b_id").alias("a_id"),
                F.greatest("a_id", "b_id").alias("b_id"),
            )
            .distinct()
        )

        # 3. exact verify against the accumulated shingle sets — the
        # candidate's OLD side lives in an earlier batch's toks file
        all_toks = spark.read.parquet(f"{out_dir}/toks").filter(
            F.col("batch_id") <= batch_id
        )
        verified = exact_jaccard_verify(
            cand, all_toks, id_col, threshold
        )
        # keep only pairs touching a batch-N document: a pair with
        # both sides in EARLIER batches was already claimed when its
        # later doc arrived (it can only appear here when a retried
        # batch races a successor's files — this filter keeps the
        # rewrite idempotent in that window)
        new_ids = new_bands.select(F.col(id_col).alias("_nid")).distinct()
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
            # fold the LANDED pairs into incrementally-maintained
            # cluster ids (streaming/cluster_index.py) — read back
            # rather than re-evaluating the verify join
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


def _cross_verify(
    cand: DataFrame,
    q_toks: DataFrame,
    idx_toks: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (q_id, doc_id) candidates where the two
    sides live in DIFFERENT relations (query batch vs index store) —
    the lookup twin of operators/dedup.exact_jaccard_verify, same
    one-intersect-per-candidate staging (see its docstring)."""
    qa = q_toks.select(
        F.col(q_toks.columns[0]).alias("q_id"),
        F.col("toks").alias("_qt"),
        F.size("toks").alias("_nq"),
    )
    db = idx_toks.select(
        "doc_id", F.col("toks").alias("_dt"), F.size("toks").alias("_nd")
    )
    stats = (
        cand.join(qa, "q_id")
        .join(db, "doc_id")
        .select(
            "q_id",
            "doc_id",
            "_nq",
            "_nd",
            F.size(F.array_intersect("_qt", "_dt")).alias("_ni"),
        )
        .localCheckpoint(eager=False)
    )
    return stats.select(
        "q_id",
        "doc_id",
        F.round(
            F.col("_ni").cast("double")
            / (F.col("_nq") + F.col("_nd") - F.col("_ni")).cast("double"),
            6,
        ).alias("jac"),
    ).filter(F.col("jac") >= threshold)


def read_scheme(spark: SparkSession, out_dir: str, expect_kind: str) -> dict:
    """The index's frozen scheme manifest, checked for the right index
    kind — lookups derive their unit scheme from here so a caller
    cannot query with mismatched parameters."""
    manifest = spark.read.json(f"{out_dir}/_scheme").collect()[0].asDict()
    if manifest.get("kind") != expect_kind:
        raise SchemeMismatch(
            f"index at {out_dir} has kind={manifest.get('kind')!r}; "
            f"expected a {expect_kind!r} index"
        )
    return manifest


def lookup_near_duplicates(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    threshold: float | None = None,
    id_col: str = "q_id",
    text_col: str = "text",
) -> DataFrame:
    """Read-only near-dup lookup against a MINHASH index: flag query
    documents WITHOUT ingesting them, (q_id, doc_id, jac).  Signature
    and band scheme come from the frozen manifest; ``threshold``
    defaults to the index's and may only be raised — the band scheme's
    detection S-curve was sized for the frozen threshold, so a looser
    query would silently run below its designed recall (the exact
    twin, prefix_index.lookup_near_duplicates, has the same rule for a
    different reason).  Verify is exact, so precision is 1.0 either
    way; per-pair recall at s ≥ 0.9 under the 128/16 scheme is
    ≈ 0.9999."""
    m = read_scheme(spark, out_dir, "minhash")
    t_index = float(m["threshold"])
    t = t_index if threshold is None else float(threshold)
    if t < t_index:
        raise ValueError(
            f"lookup threshold {t} is below the index's frozen threshold "
            f"{t_index}: the band scheme's recall was sized for the frozen "
            "threshold (rebuild the index for a looser one)"
        )
    shingle, num_hashes, bands = (
        int(m["shingle"]), int(m["num_hashes"]), int(m["bands"]),
    )
    unit = (
        shingles(text_col, n=shingle)
        if shingle > 1
        else distinct_tokens(text_col)
    )
    q_toks = docs.select(F.col(id_col), unit.alias("toks")).localCheckpoint(
        eager=False
    )
    q_sig = minhash_signatures(q_toks, id_col, F.col("toks"), num_hashes)
    q_banded = banded_signatures(q_sig, id_col, num_hashes, bands)
    # the index stores carry the BUILD-time id column name — take it
    # from the frozen manifest (r10 advisor fix: this was hardcoded
    # 'doc_id', so an index maintained with a custom id_col failed
    # lookup with column-not-found despite the manifest knowing better)
    idx_id = m.get("id_col") or "doc_id"
    idx_banded = spark.read.parquet(f"{out_dir}/bands").withColumnRenamed(
        idx_id, "doc_id"
    )
    cand = (
        q_banded.select(F.col(id_col).alias("q_id"), "band", "bucket")
        .join(idx_banded.select("doc_id", "band", "bucket"), ["band", "bucket"])
        .select("q_id", "doc_id")
        .distinct()
    )
    idx_toks = spark.read.parquet(f"{out_dir}/toks").withColumnRenamed(
        idx_id, "doc_id"
    )
    return _cross_verify(cand, q_toks, idx_toks, t)


def compact_pairs(
    spark: SparkSession, out_dir: str, dest: str, n_files: int = 1
) -> int:
    """The OPTIMIZE pass for a text index's accumulated PAIRS output
    (works for all three text indexes — MinHash/prefix carry a ``jac``
    score column, SimHash a ``hamming`` one; the consolidation keys on
    (a_id, b_id) and preserves whatever score column the index wrote).

    Streaming ingestion necessarily lands one small file set per
    micro-batch under ``pairs/batch_id=N``; after N batches every
    consumer pays N file-opens.  This rewrites the claim-once pair set
    (defensively deduped, exactly what the readers return) as one
    consolidated parquet directory under ``dest`` — the SOURCE index is
    untouched (separate-dir pattern, mirroring
    vector_index.compact_index: a crash mid-compaction leaves a
    partial ``dest`` and an intact source; re-run to completion).
    Readers are layout-agnostic: ``spark.read.parquet(dest)`` returns
    exactly what :func:`neardup_pairs` / ``prefix_index.exact_pairs``
    return from the live index at compaction time.  Run it offline on
    closed batches; the live index keeps appending and the next
    compaction folds the delta.  ``n_files`` sizes the consolidated
    layout (default 1 — pair sets are output-cardinality, tiny next to
    the corpus; size it up when a pair file would exceed a block).
    Returns the pair count written."""
    raw = spark.read.parquet(f"{out_dir}/pairs")
    # explicit column contract: (a_id, b_id, <one score column>) [+ the
    # batch_id partition column].  An unexpected layout must fail here,
    # not silently leak a stray column into the compacted output; and
    # the representative row per (a_id, b_id) is picked by a
    # DETERMINISTIC min over the score rather than dropDuplicates'
    # arbitrary row (duplicate claims across a retry race carry equal
    # scores — same doc pair, same metric — so min is also lossless)
    score_cols = [c for c in raw.columns if c not in ("a_id", "b_id", "batch_id")]
    if len(score_cols) != 1 or not {"a_id", "b_id"} <= set(raw.columns):
        raise ValueError(
            f"compact_pairs: expected columns (a_id, b_id, <score>"
            f"[, batch_id]), got {raw.columns}"
        )
    score = score_cols[0]
    pairs = raw.groupBy("a_id", "b_id").agg(F.min(score).alias(score))
    pairs.repartition(n_files).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest).count()


def neardup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated verified near-dup pairs (a_id, b_id, jac).

    Each pair is claimed by exactly one batch (the one its later
    document arrived in), so this is a plain union read; the distinct
    is a cheap belt-and-braces against a crash window where a retried
    batch and its successor both claimed a pair."""
    return (
        spark.read.parquet(f"{out_dir}/pairs")
        .select("a_id", "b_id", "jac")
        .dropDuplicates(["a_id", "b_id"])
    )
