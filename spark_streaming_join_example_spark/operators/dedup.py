"""Deduplication operators (SURVEY.md §2.11 X1/X2).

- exact: groupBy-hash with a deterministic representative (min id) —
  the only order-free equivalent of streaming dropDuplicates;
- exact Jaccard near-dup: all-pairs token-set similarity (the
  oracle-checkable baseline);
- MinHash + banded LSH near-dup: the probabilistic scale path —
  word-shingle units, signature via k independent xxhash64
  min-hashes, band-bucket equi-join for candidates, exact Jaccard
  verify. All JVM-side DataFrame ops; no Python in the hot path.
- prefix-filter join (AllPairs/PPJoin family): the LOSSLESS
  sub-quadratic path — rarest-first prefixes, pigeonhole-sound
  candidate generation, same exact verify. Use it when the answer
  must be exact; use MinHash when a ~1e-4 per-pair miss rate buys a
  much smaller candidate set.
- SimHash fingerprints + pigeonhole chunk blocking for
  hamming-radius near-dup.

Scale: all-pairs Jaccard is O(n²) — fine for an oracle at 10³-10⁴
docs, never at 100 TB. The LSH path shuffles each doc `bands` times on
(band, bucket) and joins equi-wise; candidate count ≈ true-positive
pairs + controlled false-positive rate, so cost tracks output, not n².
The prefix path shuffles each doc's ~(1−t)·|X| rarest tokens and its
candidate count is measured to grow linearly with corpus size at
fixed dup structure (SCALE.md r8 probe: 30.0× at 30× data vs 900×).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# --- numpy reimplementation of Spark's XxHash64Function (seed-chained
# int/long paths) — bit-identical to F.xxhash64(lit(i), tok_long), so
# the Arrow signature kernel below produces EXACTLY the signatures the
# column-expression path does (pinned in tests/test_dedup.py).
_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
_XSEED = np.uint64(42)


def _xrotl(x: np.ndarray, r: int) -> np.ndarray:
    r64 = np.uint64(r)
    return (x << r64) | (x >> (np.uint64(64) - r64))


def _xfmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _XP2
    h = h ^ (h >> np.uint64(29))
    h = h * _XP3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_int(i: np.ndarray | int, seed: np.uint64) -> np.ndarray:
    """Spark XxHash64Function.hashInt (the 4-byte path a lit(i) takes)."""
    h = seed + _XP5 + np.uint64(4)
    h = h ^ ((np.uint64(i) & np.uint64(0xFFFFFFFF)) * _XP1)
    return _xfmix(_xrotl(h, 23) * _XP2 + _XP3)


def _xxh64_long(l: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark XxHash64Function.hashLong, vectorized over l (uint64)."""
    h = seed + _XP5 + np.uint64(8)
    h = h ^ (_xrotl(l * _XP2, 31) * _XP1)
    return _xfmix(_xrotl(h, 27) * _XP1 + _XP4)


def distinct_tokens(text: Column | str, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(F.split(c, sep))


def shingles(text: Column | str, n: int = 3, sep: str = " ") -> Column:
    """Distinct word n-gram shingles of a document (the MinHash unit).

    Shingling is what makes MinHash near-dup detection work on
    small-vocabulary corpora: raw word SETS saturate (the fixture's
    31-word vocabulary gives random doc pairs a token-Jaccard of
    ~0.6), while word n-grams key on local ORDER, so unrelated docs
    share ≈ none and true edits share most.  Documents shorter than
    ``n`` tokens collapse to one whole-document shingle (``sequence``
    with a negative span would otherwise count DOWN).  All built-in
    higher-order functions — no Python in the hot path.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, sep)
    k = F.size(toks) - F.lit(n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), sep),
            ),
        ).otherwise(F.array(F.array_join(toks, sep)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two deduplicated token arrays."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    ).cast("double")


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """One row per key-group: deterministic representative + group size."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias(f"first_{id_col}"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    num_hashes: int = 128,
    impl: str = "arrow",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over tokens of
    xxhash64(i, xxhash64(token)).  Deterministic (xxhash64 is a fixed
    function of its inputs); both implementations produce BIT-IDENTICAL
    signatures (pinned in tests/test_extensions.py), so the choice is
    purely physical:

    - ``impl="arrow"`` (default since r15): token strings hash to
      longs JVM-side (``transform(tokens, xxhash64)`` — no explode),
      then one mapInPandas computes all k min-hashes per doc in numpy
      (k vectorized passes + segment-min per Arrow batch).  Measured
      2.06x faster than the expression path on the signature stage at
      sf0.1, 0.82x end-to-end on q_minhash_neardup, interleaved,
      non-overlapping ranges (OPTIMIZATION_r15.md §8, SCALE.md
      §Round-15).
    - ``impl="expr"``: explode + k aggregate expressions
      (min(xxhash64(i, tok))) — all-JVM, whole-stage-codegen'd; keeps
      the hot path Python-free where an environment forbids Python
      workers.  The token string is hashed to a long ONCE and the k
      per-function hashes mix that long — k× fewer variable-length
      string hashes per exploded row, identical independence
      structure.

    Scale: identical shuffle structure either way (signatures are
    computed where the docs live; no added exchange)."""
    if impl == "arrow":
        return minhash_signatures_arrow(docs, id_col, tokens, num_hashes)
    if impl != "expr":
        raise ValueError(f"minhash_signatures: unknown impl {impl!r}")
    tok = docs.select(F.col(id_col), F.explode(tokens).alias("__s")).select(
        F.col(id_col), F.xxhash64("__s").alias("__tok")
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("__tok"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = tok.groupBy(id_col).agg(*mins)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _minhash_arrow_kernel(num_hashes: int, id_field: str):
    """mapInPandas kernel: token-hash arrays → MinHash signatures.

    Per Arrow batch: flatten every doc's token-hash list into one
    int64 vector, then for each of the k seed-chained hash functions
    compute the (total_tokens,) hash vector ONCE and segment-reduce it
    to per-doc minima with ``np.minimum.reduceat`` — k passes over a
    flat array instead of k aggregate expressions per exploded row.
    Seeds replicate the expression path exactly: seed_i =
    xxhash64(lit(i)) per Spark's chained-column semantics, so the
    output is bit-identical to ``minhash_signatures``."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        seeds = [_xxh64_int(i, _XSEED) for i in range(num_hashes)]

    def kernel(batches):
        import pandas as pd

        np.seterr(over="ignore")  # worker-local; wraparound is the algorithm
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [
                np.asarray(t, dtype=np.int64) for t in pdf["__tokh"]
            ]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            keep = lens > 0  # empty-token docs vanish, like the
            # explode→groupBy path (no rows → no group)
            if not keep.any():
                continue
            ids = pdf[id_field].to_numpy()[keep]
            lens = lens[keep]
            flat = np.concatenate(
                [t for t in tok_lists if len(t)]
            ).view(np.uint64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.empty((len(lens), num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                h = _xxh64_long(flat, seeds[i]).view(np.int64)
                sig[:, i] = np.minimum.reduceat(h, starts)
            yield pd.DataFrame(
                {id_field: ids, "sig": list(sig)}
            )

    return kernel


def minhash_signatures_arrow(
    docs: DataFrame, id_col: str, tokens: Column, num_hashes: int = 128
) -> DataFrame:
    """Arrow-batched twin of ``minhash_signatures`` — bit-identical
    output (pinned in tests/test_dedup.py), different physical plan:
    token STRING hashing stays JVM-side (``transform(tokens,
    xxhash64)``), then one ``mapInPandas`` computes all k min-hashes
    per doc in numpy instead of k aggregate expressions over an
    explode.  No explode → no (rows × k)-expression aggregate; the doc
    row count never inflates, and the Python stage is k vectorized
    passes + a segment-min per batch.

    Scale: identical shuffle structure to the expression path (none —
    signatures are computed where the docs live); the trade is JVM
    codegen'd aggregates vs Arrow transfer + numpy SIMD.  Which wins
    is an empirical question per corpus shape; the sf0.1 interleaved
    measurement is in OPTIMIZATION_r15.md §8 and SCALE.md §Round-15."""
    schema_id_type = dict(docs.dtypes).get(id_col, "bigint")
    hashed = docs.select(
        F.col(id_col),
        F.transform(tokens, lambda x: F.xxhash64(x)).alias("__tokh"),
    )
    return hashed.mapInPandas(
        _minhash_arrow_kernel(num_hashes, id_col),
        f"{id_col} {schema_id_type}, sig array<bigint>",
    )


def banded_signatures(
    sig: DataFrame, id_col: str, num_hashes: int = 128, bands: int = 16
) -> DataFrame:
    """(id, band, bucket) rows — the LSH blocking relation.

    ``bucket`` is the xxhash64 of the band's signature SLICE (seeded
    by the band index), one long instead of an 8-long array: equal
    slices always collide (no false negatives — blocking recall is
    unaffected), and a 2⁻⁶⁴ hash collision merely adds a candidate the
    exact-Jaccard verify discards, so join keys and any persisted
    index rows are fixed-width scalars.  This is also the storable
    form for a streaming signature index (streaming/neardup_index.py):
    the band scheme is FROZEN per index, like the IVF quantizer."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"banded_signatures: num_hashes={num_hashes} is not divisible "
            f"by bands={bands}; the trailing {num_hashes % bands} hashes "
            "would silently never participate in any band"
        )
    rows_per_band = num_hashes // bands
    # Scheme-mismatch guard: if the caller built signatures with a
    # DIFFERENT num_hashes (e.g. an index frozen on the pre-r8 default
    # of 16 read back with the new 128), F.slice past the array end
    # yields EMPTY slices whose xxhash64 is the same constant for every
    # document — those bands degrade to single all-pairs buckets, an
    # O(n²) candidate explosion instead of an error.  The check is a
    # FILTER (decides row existence, so Catalyst cannot column-prune it
    # the way it would a projected expression): assert_true raises at
    # the first mismatched row and returns null (→ isNull() = keep)
    # otherwise.
    checked = sig.filter(
        F.assert_true(
            F.size("sig") == num_hashes,
            F.concat(
                F.lit("banded_signatures: size(sig) = "),
                F.size("sig").cast("string"),
                F.lit(
                    f" != num_hashes = {num_hashes} — signature/band scheme "
                    "mismatch (a frozen index must be read back with the "
                    "parameters it was built with)"
                ),
            ),
        ).isNull()
    )
    return checked.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.lit(i),
                            F.slice("sig", i * rows_per_band + 1, rows_per_band),
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, num_hashes: int = 128, bands: int = 16
) -> DataFrame:
    """Banded-LSH candidate pairs: a pair is a candidate when any band
    of the signature matches exactly. Returns (a_id, b_id), a < b."""
    banded = banded_signatures(sig, id_col, num_hashes, bands)
    a = banded.select(F.col(id_col).alias("a_id"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("b_id"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def corpus_shingle_toks(
    spark,
    sf_dir: str,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus-wide (doc_id, toks) shingle relation shared by the
    three shingle-unit dedup pipelines (MinHash LSH, prefix-filter
    join, SimHash) — measured at 54 % of q_minhash_neardup's wall
    time at sf0.1 (SCALE.md §Round-12), so recomputing it per
    query is the heavy tier's single biggest redundancy.

    It always returns the plain plan.  To share one build, persist
    this function's output: Spark's CacheManager then serves every
    later re-build of the same plan from the ``InMemoryRelation``
    until ``spark.catalog.clearCache()`` or ``unpersist()`` (bench.py
    times that build as ``shingle_build``).  Results are pinned
    identical either way in tests/test_extensions.py."""
    from ..sources.batch import load_table, scan_fanout

    # r15 (guide §2.5): the documents file is KBs on the fixtures, so
    # the scan is 1-2 tasks — and the shingle expression, signature
    # kernel and broadcast LSH join all fuse onto it with no exchange
    # anywhere, serializing the whole near-dup stack on one core
    # (stage_profile.py: 98 % of q_minhash_neardup's executor time in
    # three single-task stages).  scan_fanout is a no-op once the
    # input is big enough to scan at core-count parallelism.
    docs = scan_fanout(
        load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    unit = (
        shingles(text_col, n=shingle)
        if shingle > 1
        else distinct_tokens(text_col)
    )
    return docs.select(F.col(id_col), unit.alias("toks"))


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 16,
    shingle: int = 3,
    reliable: bool = False,
    toks: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: shingle → MinHash → banded LSH →
    exact-Jaccard verify ≥ threshold. Output (a_id, b_id, jac), where
    ``jac`` is the Jaccard of the two SHINGLE sets (pass ``shingle=1``
    for raw word-set semantics).

    Parameterization (r8 retune): 128 hashes in 16 bands × 8 rows.
    P(candidate | similarity s) = 1 − (1 − s⁸)¹⁶ — ≈ 0.9999 at
    s = 0.9, ≈ 0.006 at s = 0.5, ≈ 2·10⁻⁵ at s = 0.3, so the verify
    stage sees ≈ true positives only.  The previous 16/4 scheme
    (4 rows/band) admitted 51 % of ALL pairs on the fixture corpus:
    with a 31-word vocabulary, raw token sets gave random pairs
    ~0.6 Jaccard and s^4 barely discriminates — the fix is shingling
    (order-sensitive units, see ``shingles``) plus deeper bands, not
    more verify throughput.

    Fault-tolerance: the candidate-stats relation is pinned with
    ``localCheckpoint`` (executor-storage-only — an executor loss
    fails the job instead of recomputing, and the blocks hold until
    the session ends; streaming inputs cannot be checkpointed this
    way).  Pass ``reliable=True`` to use ``df.checkpoint`` instead
    (requires ``sparkContext.setCheckpointDir`` on fault-tolerant
    storage) — the same trade-off and knob as the ranking kernels
    (operators/ranking.py, SCALE.md §ranking).
    """
    if toks is None:
        unit = (
            shingles(text_col, n=shingle)
            if shingle > 1
            else distinct_tokens(text_col)
        )
        toks = docs.select(F.col(id_col), unit.alias("toks"))
    sig = minhash_signatures(toks, id_col, F.col("toks"), num_hashes)
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    return exact_jaccard_verify(
        cand, toks, id_col, threshold, reliable=reliable
    )


def exact_jaccard_verify(
    cand: DataFrame,
    toks: DataFrame,
    id_col: str,
    threshold: float,
    reliable: bool = False,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs against a token-set
    relation: (a_id, b_id) × (id, toks) → (a_id, b_id, jac ≥ threshold).

    Cost discipline (same as q_jaccard_pairs): set sizes precompute
    per document, |A∪B| = |A|+|B|−|A∩B|, and a staged select
    evaluates ONE array_intersect per candidate — value-identical to
    size(intersect)/size(union) (same integer operands).  Shared by
    the batch pipeline above and the streaming signature index
    (streaming/neardup_index.py)."""
    a = toks.select(
        F.col(id_col).alias("a_id"),
        F.col("toks").alias("a_toks"),
        F.size("toks").alias("_na"),
    )
    b = toks.select(
        F.col(id_col).alias("b_id"),
        F.col("toks").alias("b_toks"),
        F.size("toks").alias("_nb"),
    )
    stats = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            "_na",
            "_nb",
            F.size(F.array_intersect("a_toks", "b_toks")).alias("_ni"),
        )
        # materialization barrier: Catalyst pushes the jac filter back
        # THROUGH this projection, duplicating the expensive
        # array_intersect into both the filter and the project (3
        # instances observed in the physical plan).  The pinned
        # relation is five ints per candidate — tiny — and the
        # intersect evaluates exactly once per candidate.  See
        # minhash_near_duplicates' docstring for the localCheckpoint
        # fault-tolerance trade-off and the reliable= escape hatch.
    )
    if reliable:
        if toks.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "reliable=True requires sparkContext.setCheckpointDir(...) "
                "— a fault-tolerant (HDFS/object-store) checkpoint location"
            )
        stats = stats.checkpoint(eager=False)
    else:
        stats = stats.localCheckpoint(eager=False)
    return stats.select(
        "a_id",
        "b_id",
        F.round(
            F.col("_ni").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_ni")).cast("double"),
            6,
        ).alias("jac"),
    ).filter(F.col("jac") >= threshold)


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    shingle: int = 1,
    order: str = "df",
    toks: DataFrame | None = None,
) -> DataFrame:
    """EXACT sub-quadratic set-similarity self-join via prefix
    filtering (the AllPairs/PPJoin family, Bayardo et al. WWW'07 /
    Xiao et al. WWW'08) — the third near-dup algorithm next to MinHash
    (probabilistic) and all-pairs (quadratic), and the one to use when
    the answer must be EXACT but n² is not affordable.

    Lossless blocking lemma: order every token set by one global
    canonical order and keep each set's PREFIX of length
    ``|X| − ⌈t·|X|⌉ + 1``.  If jac(A,B) ≥ t then
    |A∩B| ≥ t·|A∪B| ≥ α := ⌈t·max(|A|,|B|)⌉, and two sets sharing α
    elements must collide within their first ``|X| − α + 1`` elements
    (fewer kept would leave α−1 slots — pigeonhole); since
    ``|X| − ⌈t·|X|⌉ + 1 ≥ |X| − α + 1`` on both sides, the kept
    prefixes always share a token.  So candidates = pairs sharing ≥ 1
    PREFIX token, verified exactly — no false negatives by
    construction, unlike LSH.

    The canonical order is ascending global document frequency
    (ties by token value): rare tokens first makes prefixes
    low-collision, so candidate count tracks the join output, not n².
    Scale shape: one explode + count (frequencies), one window
    rank-per-doc over (freq, token), an equi-join on prefix token with
    the standard size prefilter (t·max ≤ min), then the shared
    exact-Jaccard verify.  Everything shuffles on scalar keys.

    Caveat measured on the fixture corpus: a 31-token vocabulary makes
    EVERY prefix token frequent, so pruning over raw word sets is weak
    there (17 % of all-pairs at t=0.95; q_prefix_jaccard_join records
    the counts) — prefix filtering over word sets wants the
    natural-corpus regime (Zipfian vocabulary) and high thresholds.
    For small-vocabulary corpora pass ``shingle > 1``: word-n-gram
    units (the same fix that rescued MinHash in r8) restore a long-tail
    frequency distribution — n-grams key on local ORDER, so the unit
    vocabulary is corpus-sized, prefixes are rare again, and the
    pigeonhole lemma applies verbatim since it never cares what the set
    elements are.  Measured at sf0.01/t=0.9: candidates 21,348 (17 %)
    word-set → 25 (0.02 % — exactly the planted duplicate pairs) with
    shingle=3.  Note the SEMANTICS move
    with the unit: the join is then exact over shingle-set Jaccard
    (order-sensitive, the near-dup definition that matches MinHash's)."""
    if toks is None:
        unit = (
            shingles(text_col, n=shingle)
            if shingle > 1
            else distinct_tokens(text_col)
        )
        toks = docs.select(
            F.col(id_col), unit.alias("toks")
        ).localCheckpoint(eager=False)
    cand = prefix_filter_candidates(toks, id_col, threshold, order=order)
    return exact_jaccard_verify(cand, toks, id_col, threshold)


def prefix_rows(
    toks: DataFrame, id_col: str, threshold: float, order: str = "df"
) -> DataFrame:
    """(id, tok, n) prefix relation of a (id, toks) token-set relation:
    each set's first ``|X| − ⌈t·|X|⌉ + 1`` tokens under one GLOBAL
    canonical order, plus the set size ``n`` for the size prefilter.

    The pigeonhole lemma (see :func:`prefix_filter_jaccard_pairs`)
    holds for ANY fixed global order — the order choice is purely a
    pruning heuristic:

    - ``order="df"`` (default): ascending global document frequency,
      ties by token value.  Rarest-first prefixes are low-collision,
      so candidates track output — the batch-join choice.  Requires a
      global frequency pass over THIS relation, so the order shifts as
      the corpus grows: correct for a self-join, NOT stable across
      incremental index batches.
    - ``order="hash"``: ascending ``xxhash64(tok)``, ties by token.  A
      frozen, corpus-independent order — the prefix of a document
      never changes as other documents arrive, which is exactly what
      an INCREMENTAL index needs (streaming/prefix_index.py): old
      prefix rows stay valid forever.  Pruning is that of a random
      order (weaker than rarest-first, still sub-quadratic on
      realistic vocabularies); losslessness is unchanged.
    """
    from pyspark.sql import Window

    tok = toks.select(F.col(id_col), F.explode("toks").alias("tok"))
    if order == "df":
        freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        ranked = tok.join(freq, "tok")
        w = Window.partitionBy(id_col).orderBy("df", "tok")
    elif order == "hash":
        ranked = tok
        w = Window.partitionBy(id_col).orderBy(F.xxhash64("tok"), F.col("tok"))
    else:
        raise ValueError(f"prefix_rows: unknown order {order!r}")
    ranked = ranked.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    return ranked.filter(
        F.col("r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select(F.col(id_col), "tok", "n")


def prefix_candidate_join(
    a_prefix: DataFrame, b_prefix: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(a_id, b_id) candidate pairs between two prefix relations (both
    built by :func:`prefix_rows` under the SAME order): pairs sharing
    ≥1 prefix token, size-prefiltered, a_id < b_id.  The self-join case
    passes the same relation twice; the incremental-index case joins
    the new batch's prefixes against the accumulated index."""
    a = a_prefix.select(
        F.col(id_col).alias("a_id"), "tok", F.col("n").alias("_na")
    )
    b = b_prefix.select(
        F.col(id_col).alias("b_id"), "tok", F.col("n").alias("_nb")
    )
    return (
        a.join(
            b,
            (a["tok"] == b["tok"])
            & (F.col("a_id") != F.col("b_id"))
            # size prefilter: jac >= t forces t*max(|A|,|B|) <= min
            & (
                F.least("_na", "_nb").cast("double")
                >= threshold * F.greatest("_na", "_nb").cast("double")
            ),
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )


def prefix_filter_candidates(
    toks: DataFrame, id_col: str, threshold: float, order: str = "df"
) -> DataFrame:
    """The lossless candidate stage of the prefix-filter join:
    (a_id, b_id) pairs sharing at least one token in their canonical
    prefixes, size-prefiltered.  Split out so tests can pin the
    candidate COUNT independently of the verify.  The SELF-join keeps
    the triangular ``a_id < b_id`` predicate (each unordered pair
    probes once); the two-relation form for incremental indexes is
    :func:`prefix_candidate_join`."""
    prefix = prefix_rows(toks, id_col, threshold, order=order)
    a = prefix.select(
        F.col(id_col).alias("a_id"), "tok", F.col("n").alias("_na")
    )
    b = prefix.select(
        F.col(id_col).alias("b_id"), "tok", F.col("n").alias("_nb")
    )
    return (
        a.join(
            b,
            (a["tok"] == b["tok"])
            & (F.col("a_id") < F.col("b_id"))
            # size prefilter: jac >= t forces t*max(|A|,|B|) <= min
            & (
                F.least("_na", "_nb").cast("double")
                >= threshold * F.greatest("_na", "_nb").cast("double")
            ),
        )
        .select("a_id", "b_id")
        .distinct()
    )


def simhash63(tokens: Column, n_bits: int = 63) -> Column:
    """SimHash fingerprint (63 bits, fits a signed long) of a token
    array.

    Per bit b: sum over tokens of ±1 depending on bit b of
    xxhash64(token); fingerprint bit b = 1 iff the sum is positive.
    Pure JVM expressions; near-dup pairs are then `bit_count(a ^ b)
    <= r` (blocked sub-quadratically by :func:`simhash_chunks` —
    use shingle units at scale, see simhash_near_duplicates).

    ONE-PASS form (r10): a single aggregate carries an array of
    n_bits counters; each token is hashed ONCE (the inner
    single-element aggregate binds the hash value so the 63 bit
    tests share it) and contributes ±1 per bit via zip_with against
    precomputed mask literals.  The previous per-bit form ran 63
    separate aggregates, each re-hashing every token — measured
    86.7 s → 3.1 s for shingle-unit fingerprints of the sf0.1 corpus
    (27×), 4.1 s → 1.0 s for token units; outputs bit-identical
    (pinned by the old-vs-new differential run in NOTES_r10 and by
    every existing brute-force-equality test)."""
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    counts = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, t: F.aggregate(
            F.array(F.xxhash64(t)),  # binds the hash ONCE per token
            acc,
            lambda a2, h: F.zip_with(
                a2,
                F.transform(
                    masks,
                    lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
                ),
                lambda c, s: c + s,
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _simhash_arrow_kernel(n_bits: int, id_field: str):
    """mapInPandas kernel: token-hash arrays → SimHash fingerprints,
    bit-identical to :func:`simhash63` (fp bit b = 1 iff the ±1 vote
    sum over tokens is positive ⟺ 2·ones_b > n_tokens, integer-exact).
    Per Arrow batch: flatten all docs' token hashes, then per bit one
    shift-mask pass + ``np.add.reduceat`` segment-sum — n_bits SIMD
    passes instead of n_bits interpreted higher-order-function lambda
    evaluations per token (HOF lambdas never enter whole-stage
    codegen).  Empty-token docs keep fingerprint 0, exactly like the
    expression path's empty-array aggregate (unlike MinHash, where
    empty docs vanish in the groupBy)."""

    def kernel(batches):
        import pandas as pd

        np.seterr(over="ignore")
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [
                np.asarray(t, dtype=np.int64) for t in pdf["__tokh"]
            ]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            ids = pdf[id_field].to_numpy()
            fp = np.zeros(len(lens), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate(
                    [t for t in tok_lists if len(t)]
                ).view(np.uint64)
                nz_lens = lens[nz]
                starts = np.zeros(len(nz_lens), dtype=np.int64)
                np.cumsum(nz_lens[:-1], out=starts[1:])
                sub = np.zeros(len(nz_lens), dtype=np.int64)
                for b in range(n_bits):
                    ones = np.add.reduceat(
                        ((flat >> np.uint64(b)) & np.uint64(1)).astype(
                            np.int64
                        ),
                        starts,
                    )
                    sub |= (2 * ones > nz_lens).astype(np.int64) << b
                fp[nz] = sub
            yield pd.DataFrame({id_field: ids, "fp": fp})

    return kernel


def simhash_fingerprints_arrow(
    src: DataFrame,
    id_col: str,
    tokens: Column,
    n_bits: int = 63,
) -> DataFrame:
    """(id, fp) SimHash fingerprints via the Arrow-batched kernel —
    bit-identical to ``select(id, simhash63(tokens))`` (pinned in
    tests/test_extensions.py), different physical plan: token strings
    hash JVM-side (``transform(tokens, xxhash64)``), then one
    mapInPandas computes all bit votes in numpy.  Same rationale and
    measured shape as ``minhash_signatures_arrow`` (SCALE.md
    §Round-15): the expression form's per-token cost is n_bits
    interpreted HOF lambdas, the kernel's is n_bits vectorized passes
    over a flat vector.  No added shuffle either way."""
    schema_id_type = dict(src.dtypes).get(id_col, "bigint")
    hashed = src.select(
        F.col(id_col),
        F.transform(tokens, lambda x: F.xxhash64(x)).alias("__tokh"),
    )
    return hashed.mapInPandas(
        _simhash_arrow_kernel(n_bits, id_col),
        f"{id_col} {schema_id_type}, fp long",
    )


def simhash_chunks(fp: Column, n_bits: int, max_hamming: int) -> Column:
    """``array<struct<ci,cv>>`` of the pigeonhole chunks of a SimHash
    fingerprint: the fingerprint split into (max_hamming + 1) disjoint
    bit ranges — any pair within hamming r must agree EXACTLY on at
    least one chunk, so candidate pairs form only inside a (chunk_idx,
    chunk_value) bucket (a plain equi-join after explode, same shape as
    MinHash LSH banding).

    Shared by the batch pairing (:func:`simhash_near_duplicates`) and
    the streaming index (streaming/simhash_index.py) so both derive
    bit-identical buckets — the streaming≡batch equivalence pin depends
    on it.  Chunks are pure bit ops on one long, so indexes never store
    them: they re-derive from the fingerprint at read time."""
    n_chunks = max_hamming + 1
    if n_chunks > n_bits:
        raise ValueError(
            f"max_hamming + 1 = {n_chunks} chunks need at least 1 bit each "
            f"but n_bits = {n_bits}; a 0-bit chunk would collapse every row "
            "into one global bucket (quadratic join)"
        )
    # Distribute the n_bits % n_chunks remainder across the leading
    # chunks (sizes differ by at most 1) — a plain n_bits // n_chunks
    # split would silently drop the high remainder bits from every
    # chunk, wasting their pruning power (pigeonhole soundness needs
    # only that the chunks COVER the fingerprint disjointly).
    base, rem = divmod(n_bits, n_chunks)
    sizes = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(sizes[:i]) for i in range(n_chunks)]
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(fp, offsets[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1))
                .alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bits: int = 63,
    shingle: int = 1,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Bucketed SimHash near-dup pairs: hamming(a, b) <= max_hamming.

    Pigeonhole blocking (:func:`simhash_chunks`), then
    bit_count(a XOR b) verifies exactly. Replaces the quadratic
    all-pairs comparison the fingerprint alone would need — shuffle is
    O(n·(r+1)) id+chunk rows plus the candidate set.

    ``shingle > 1`` fingerprints word n-gram units instead of distinct
    tokens — the SAME fix that rescued MinHash (r8) and the prefix
    join (r9) on small-vocabulary corpora applies verbatim here, and
    it is what makes SimHash blocking scale-safe: token-unit
    fingerprints of same-vocabulary docs concentrate, so chunk buckets
    collide massively (measured 14.2 % of all-pairs admitted on the
    fixture), while shingle units give a corpus-sized unit vocabulary
    that spreads the fingerprints (0.01 % admitted — SCALE.md
    §Round-10).  Default stays 1 for the registered token-unit
    queries' semantics; use 3 at scale.

    r15: the fingerprint pass runs through the Arrow kernel
    (:func:`simhash_fingerprints_arrow`) — bit-identical (pytest- and
    in-probe-pinned), measured 4.1× (token units) / 2.26× (shingle
    units) faster than the one-pass HOF expression at sf0.1,
    interleaved with non-overlapping ranges (OPTIMIZATION_r15.md §9,
    SCALE.md §Round-15).  The streaming simhash index stays on the
    all-JVM expression (:func:`simhash63`) deliberately (its per-batch
    increments are tiny and the inline Column form keeps its plan
    simple).
    """
    if toks is None:
        unit = (
            shingles(text_col, n=shingle)
            if shingle > 1
            else distinct_tokens(text_col)
        )
        src = docs.select(F.col(id_col), unit.alias("toks"))
    else:
        src = toks
    fp = simhash_fingerprints_arrow(
        src, id_col, F.col("toks"), n_bits
    ).localCheckpoint(eager=True)
    chunks = fp.select(
        F.col(id_col),
        "fp",
        F.explode(simhash_chunks(F.col("fp"), n_bits, max_hamming)).alias("c"),
    ).select(F.col(id_col), "fp", "c.ci", "c.cv")
    a = chunks.select(
        F.col(id_col).alias("a_id"), F.col("fp").alias("a_fp"), "ci", "cv"
    )
    b = chunks.select(
        F.col(id_col).alias("b_id"), F.col("fp").alias("b_fp"), "ci", "cv"
    )
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_fp", "b_fp")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", F.col("hamming").cast("int").alias("hamming"))
    )
