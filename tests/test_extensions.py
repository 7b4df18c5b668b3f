"""Exactness/recall tests for the approximate (rows-only) operators,
against exact baselines computed on the same fixtures."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_join_example_spark import load_table
from spark_streaming_join_example_spark.operators.dedup import (
    distinct_tokens,
    jaccard,
    minhash_near_duplicates,
    shingles,
    simhash63,
)
from spark_streaming_join_example_spark.operators.similarity import (
    ann_pairs_above,
    ann_topk_pairs,
    cosine_pairs_above,
    cosine_topk_pairs,
)


def test_minhash_recall_against_exact(spark, sf_dir):
    """Recall of the REGISTERED parameterization (3-gram shingles,
    128 hashes / 16 bands) vs the exact all-pairs shingle-Jaccard
    baseline, at the registered 0.9 threshold."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", shingles("text", n=3).alias("toks"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    jac = jaccard(F.col("a_toks"), F.col("b_toks"))
    exact = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(jac >= 0.9)
        .select("a_id", "b_id")
        .collect()
    }
    assert exact, "fixture lost its planted near-dup pairs"
    got = {
        (r.a_id, r.b_id)
        for r in minhash_near_duplicates(docs, threshold=0.9).collect()
    }
    # verification step guarantees precision == 1.0
    assert got <= exact
    # 16 bands x 8 rows at s >= 0.9: per-pair detect prob ~0.9999
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"recall {recall:.2f} ({len(got)}/{len(exact)})"


def test_minhash_candidate_rate_bounded(spark, sf_dir):
    """The r7 VERDICT's perf-weak finding: the old 16/4 raw-word-set
    scheme admitted 51 % of all pairs as LSH candidates.  Pin the
    retuned blocker's candidate rate < 5 % of all-pairs so an
    over-admitting parameterization can't silently return."""
    from spark_streaming_join_example_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    toks = docs.select("doc_id", shingles("text", n=3).alias("toks"))
    sig = minhash_signatures(toks, "doc_id", F.col("toks"), 128)
    n_cand = lsh_candidate_pairs(sig, "doc_id", 128, 16).count()
    all_pairs = n * (n - 1) // 2
    rate = n_cand / all_pairs
    assert rate < 0.05, f"candidate rate {rate:.1%} ({n_cand}/{all_pairs})"


def test_minhash_arrow_kernel_bit_identical(spark, sf_dir):
    """The Arrow-batched signature kernel (numpy reimplementation of
    Spark's seed-chained XxHash64 int/long paths) must produce
    BIT-IDENTICAL signatures to the column-expression path — the
    precondition for OPTIMIZATION_r15.md §8's interleaved perf A/B to be
    an apples-to-apples comparison, and for either path to back the
    same frozen streaming index scheme.  Any divergence in the
    reimplemented rotl/fmix/seed arithmetic shows up as a wrong long
    on the very first document."""
    from spark_streaming_join_example_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_arrow,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", shingles("text", n=3).alias("toks"))
    expr = {
        r.doc_id: tuple(r.sig)
        for r in minhash_signatures(
            toks, "doc_id", F.col("toks"), 128, impl="expr"
        ).collect()
    }
    arrow = {
        r.doc_id: tuple(r.sig)
        for r in minhash_signatures_arrow(
            toks, "doc_id", F.col("toks"), 128
        ).collect()
    }
    assert expr == arrow
    assert len(expr) == docs.count()  # no doc lost by either path


def test_simhash_arrow_kernel_bit_identical(spark, sf_dir):
    """SimHash twin of the MinHash kernel pin: the Arrow fingerprint
    kernel must be bit-identical to the one-pass HOF expression on
    BOTH unit schemes, and must keep empty-token docs with fp=0 (the
    expression path's empty-array aggregate yields 0; MinHash drops
    empties instead — the two kernels' one semantic difference)."""
    from spark_streaming_join_example_spark.operators.dedup import (
        simhash63,
        simhash_fingerprints_arrow,
    )

    docs = load_table(spark, sf_dir, "documents")
    for unit in (distinct_tokens("text"), shingles("text", n=3)):
        src = docs.select("doc_id", unit.alias("toks"))
        expr_fp = {
            r.doc_id: r.fp
            for r in src.select(
                "doc_id", simhash63(F.col("toks")).alias("fp")
            ).collect()
        }
        arrow_fp = {
            r.doc_id: r.fp
            for r in simhash_fingerprints_arrow(
                src, "doc_id", F.col("toks")
            ).collect()
        }
        assert expr_fp == arrow_fp

    edge = spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], "doc_id long, toks array<string>"
    )
    got = {
        r.doc_id: r.fp
        for r in simhash_fingerprints_arrow(
            edge, "doc_id", F.col("toks")
        ).collect()
    }
    want = {
        r.doc_id: r.fp
        for r in edge.select(
            "doc_id", simhash63(F.col("toks")).alias("fp")
        ).collect()
    }
    assert got == want and got[2] == 0


def _zipf_corpus(spark, n_docs=300, doc_len=30, vocab=2000, n_dups=12):
    """Synthetic Zipfian corpus with planted near-dup pairs: the
    natural-corpus regime prefix filtering is built for (the parquet
    fixture's 31-word vocabulary is its adversarial case)."""
    import numpy as np

    rng = np.random.default_rng(5)
    ranks = np.arange(1, vocab + 1)
    p = (1.0 / ranks) / (1.0 / ranks).sum()
    rows = []
    for i in range(n_docs):
        words = rng.choice(vocab, size=doc_len, p=p)
        rows.append((i, " ".join(f"w{w}" for w in words)))
    for j in range(n_dups):  # planted edits of existing docs
        base = rows[j][1].split()
        base[0] = f"w{rng.integers(vocab)}"
        rows.append((n_docs + j, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_exact_on_zipfian(spark):
    """Prefix-filter join output == brute-force all-pairs at the same
    threshold (LOSSLESS by the pigeonhole lemma — this is the property
    LSH cannot give), on a corpus where both are computable."""
    from spark_streaming_join_example_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = _zipf_corpus(spark)
    t = docs.select("doc_id", distinct_tokens("text").alias("toks"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    jac = jaccard(F.col("a_toks"), F.col("b_toks"))
    brute = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(jac >= 0.9)
        .select("a_id", "b_id")
        .collect()
    }
    assert brute, "no planted pairs survived; fixture broken"
    got = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert got == brute


def test_prefix_shingle_candidate_rate_on_fixture(spark, sf_dir):
    """The word-set prefix join's documented weak case (17 % of
    all-pairs survive on the fixture's 31-word vocabulary) must vanish
    in shingle mode: word-3-gram units give a corpus-sized unit
    vocabulary, so rarest-first prefixes prune the SAME corpus to < 5 %
    of all-pairs at t=0.9 (measured 25 / 124,750 = 0.02 % at sf0.01 —
    exactly the planted duplicate pairs; perfect pruning here).
    This is q_prefix_shingle_join's blocking stage pinned directly."""
    from spark_streaming_join_example_spark.operators.dedup import (
        prefix_filter_candidates,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    n = docs.count()
    toks = docs.select("doc_id", shingles("text", n=3).alias("toks"))
    n_cand = prefix_filter_candidates(toks, "doc_id", 0.9).count()
    all_pairs = n * (n - 1) // 2
    rate = n_cand / all_pairs
    assert rate < 0.05, f"candidate rate {rate:.1%} ({n_cand}/{all_pairs})"


def test_prefix_filter_prunes_on_zipfian(spark):
    """On a Zipfian vocabulary the rarest-first prefixes are
    low-collision: candidate pairs must be under 10% of all-pairs
    (the fixture corpus's 31-word vocabulary is the documented
    adversarial case where pruning is weak)."""
    from spark_streaming_join_example_spark.operators.dedup import (
        prefix_filter_candidates,
    )

    docs = _zipf_corpus(spark)
    n = docs.count()
    toks = docs.select("doc_id", distinct_tokens("text").alias("toks"))
    n_cand = prefix_filter_candidates(toks, "doc_id", 0.9).count()
    all_pairs = n * (n - 1) // 2
    assert n_cand < 0.10 * all_pairs, f"{n_cand}/{all_pairs}"


def test_ann_recall_against_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.a_id, r.b_id) for r in cosine_topk_pairs(emb, k=10).collect()
    }
    approx = {
        (r.a_id, r.b_id) for r in ann_topk_pairs(emb, k=10).collect()
    }
    overlap = len(exact & approx) / 10
    assert overlap >= 0.5, f"ANN top-10 overlap {overlap:.1%}"


def test_ann_pairs_above_precision_and_recall(spark, sf_dir):
    """The LSH embedding near-dup path (r11): PRECISION must be exact
    — every emitted pair is in the exact cosine_pairs_above set with
    the same rounded cosine (the verify is the true cosine inside the
    bucket kernel) — and recall vs the exact kernel must clear the
    REGISTERED parameterization's bound.  At the 0.4 threshold the
    collision probability is the weak end of the LSH curve, so the
    bound is deliberately modest; near 1.0 similarity (real near-dups)
    recall approaches 1 — asserted with a planted pile-up."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in cosine_pairs_above(emb, threshold=0.4).collect()
    }
    approx = {
        (r.a_id, r.b_id): r.cos_sim
        for r in ann_pairs_above(emb, threshold=0.4, bands=8).collect()
    }
    assert approx, "no LSH pairs at all — test vacuous"
    # precision 1.0: emitted ⊆ exact, identical rounded cosines
    wrong = {k: v for k, v in approx.items() if exact.get(k) != v}
    assert not wrong, f"pairs not in the exact set (or wrong cos): {wrong}"
    recall = len(approx) / len(exact)
    assert recall >= 0.3, f"LSH near-dup recall {recall:.1%} at t=0.4"

    # planted near-dups (cos → 1): recall must be ~total
    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    rows = [
        (int(i), (base + 0.001 * rng.normal(size=16)).tolist())
        for i in range(40)
    ] + [
        (int(100 + i), rng.normal(size=16).tolist()) for i in range(200)
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    exact_p = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(
            planted, threshold=0.95, n_rows=240
        ).collect()
    }
    got_p = {
        (r.a_id, r.b_id)
        for r in ann_pairs_above(
            planted, threshold=0.95, n_rows=240
        ).collect()
    }
    assert exact_p, "no planted near-dup pairs — fixture broken"
    assert len(got_p & exact_p) / len(exact_p) >= 0.99


def test_ann_hot_bucket_salting(spark, sf_dir):
    """X2/X3 skew guard: a near-duplicate pile-up (300 tiny
    perturbations of one vector) lands every row in ONE (band, bucket)
    — the worst-case hot group AQE cannot split.  With max_bucket=50
    the kernel must salt the bucket into triangular sub-block groups
    and STILL return the exact top-10: every within-bucket pair meets
    in exactly one sub-group, and a global top-k pair is necessarily
    inside its group's local top-keep.  Also pins salted ≡ unsalted on
    the same input (sub-blocking changes task bounds, not results, for
    distinct similarities)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    rows = [
        (int(i), (base + 0.001 * rng.normal(size=16)).tolist())
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # brute-force exact top-10 (numpy, independent of the kernels)
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    iu = np.triu_indices(len(rows), k=1)
    order = np.lexsort((ids[iu[1]], ids[iu[0]], -sims[iu]))[:10]
    exact = [(int(ids[iu[0]][j]), int(ids[iu[1]][j])) for j in order]

    # round_to=12: at 0.001 perturbation scale all pair sims collapse
    # to one value at the default 6dp — ordering would degenerate to
    # tie-breaks over a truncation-dependent candidate set.  Full
    # precision keeps the top-10 strictly ordered, which the exactness
    # argument above needs.
    kwargs = dict(k=10, dim=16, n_planes=8, n_rows=300, round_to=12)
    salted = [
        (r.a_id, r.b_id)
        for r in ann_topk_pairs(emb, max_bucket=50, **kwargs).collect()
    ]
    unsalted = [
        (r.a_id, r.b_id)
        for r in ann_topk_pairs(emb, max_bucket=10**9, **kwargs).collect()
    ]
    assert salted == exact
    assert unsalted == exact


def test_simhash_near_duplicates_have_close_fingerprints(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", distinct_tokens("text").alias("toks")).limit(200)
    sh = t.select("doc_id", F.col("toks").alias("toks"), simhash63(F.col("toks")).alias("sh"))
    a = sh.select(
        F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"), F.col("sh").alias("a_sh")
    )
    b = sh.select(
        F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"), F.col("sh").alias("b_sh")
    )
    pairs = a.join(b, F.col("a_id") < F.col("b_id")).withColumn(
        "jac", jaccard(F.col("a_toks"), F.col("b_toks"))
    ).withColumn("ham", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))))
    stats = pairs.groupBy((F.col("jac") >= 0.95).alias("is_dup")).agg(
        F.avg("ham").alias("avg_ham")
    )
    res = {r.is_dup: r.avg_ham for r in stats.collect()}
    if True in res and False in res:
        assert res[True] < res[False]


def test_approx_count_distinct_accuracy(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    exact = e.agg(F.countDistinct("user_id").alias("n")).collect()[0].n
    approx = e.agg(F.approx_count_distinct("user_id").alias("n")).collect()[0].n
    assert abs(approx - exact) / exact < 0.1


def test_ivf_recall_against_exact(spark, sf_dir):
    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_topk_pairs,
        ivf_topk_pairs,
    )
    from spark_streaming_join_example_spark import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.a_id, r.b_id) for r in cosine_topk_pairs(emb, k=10).collect()}
    got = {
        (r.a_id, r.b_id)
        for r in ivf_topk_pairs(emb, k=10, n_cells=16, n_probe=2).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, f"IVF recall {recall:.2f} ({got & exact})"


def test_ml_minhash_agrees_with_handrolled(spark, sf_dir):
    """The MLlib MinHashLSH path and our DataFrame LSH must agree on
    high-similarity near-duplicates (both compared to exact Jaccard)."""
    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.operators.ml_lsh import ml_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    got = {
        (r.a_id, r.b_id)
        for r in ml_minhash_pairs(d, jaccard_threshold=0.95).collect()
    }
    # exact ≥0.95 pairs (same computation as q_jaccard_pairs)
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.dedup import (
        distinct_tokens,
        jaccard,
    )

    t = d.select("doc_id", distinct_tokens("text").alias("toks"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    exact = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(jaccard(F.col("a_toks"), F.col("b_toks")) >= 0.95)
        .select("a_id", "b_id")
        .collect()
    }
    assert exact, "fixture should contain exact near-dups"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"MLlib MinHash recall {recall:.2f}"


def test_ml_brp_finds_close_vectors(spark, sf_dir):
    from spark_streaming_join_example_spark import load_table
    from spark_streaming_join_example_spark.operators.ml_lsh import ml_brp_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = ml_brp_neighbors(emb, radius=6.0).collect()
    assert len(pairs) > 0
    assert all(0 <= r.l2_dist <= 6.0 for r in pairs)


def test_block_pair_kernel_matches_hof_join(spark):
    """The distributed block-pair exact kernel must agree value-for-
    value with the pure-JVM HOF all-pairs join on random vectors —
    two independent formulations of the same exact top-k, including
    odd n not divisible by the block count."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_topk_pairs,
        cosine_topk_pairs_hof,
    )

    rng = np.random.default_rng(7)
    n, d = 73, 8
    rows = [
        (int(i), [float(x) for x in rng.normal(size=d)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, cosine_topk_pairs(emb, k=7, n_blocks=5).collect()))
    b = sorted(map(tuple, cosine_topk_pairs_hof(emb, k=7).collect()))
    assert a == b


def test_knn_join_matches_numpy_bruteforce(spark):
    """Corpus-streaming knn_join equals a driver-side brute force
    (unit-norm f64 matmul + stable (-sim, id) sort)."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import knn_join

    rng = np.random.default_rng(11)
    d = 8
    q_rows = [(int(i), [float(x) for x in rng.normal(size=d)]) for i in range(6)]
    c_rows = [
        (int(100 + i), [float(x) for x in rng.normal(size=d)]) for i in range(57)
    ]
    queries = spark.createDataFrame(q_rows, "vec_id long, embedding array<float>")
    corpus = spark.createDataFrame(c_rows, "vec_id long, embedding array<float>")
    got = {
        (r.q_id, r.rank): r.n_id
        for r in knn_join(queries, corpus, k=4).collect()
    }
    qm = np.array([v for _, v in q_rows], dtype=np.float64)
    cm = np.array([v for _, v in c_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)
    sims = qm @ cm.T
    c_ids = np.array([i for i, _ in c_rows])
    for qi, (q_id, _) in enumerate(q_rows):
        order = np.lexsort((c_ids, -sims[qi]))[:4]
        for rank, ci in enumerate(order, start=1):
            assert got[(q_id, rank)] == c_ids[ci]


def test_knn_join_rejects_oversized_query_side(spark):
    """The bounded-broadcast contract: a query side past max_queries
    must raise, not silently materialize on the driver."""
    import pytest as _pytest

    from spark_streaming_join_example_spark.operators.similarity import knn_join

    rows = [(int(i), [1.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="max_queries"):
        knn_join(df, df, k=2, max_queries=10)


def test_knn_ivf_recall_against_exact(spark, sf_dir):
    """knn_join_ivf (no broadcast of either side) must recover most of
    the exact knn_join's neighbor pairs at fixture scale — the recall
    pin for the large-query-set scale path."""
    from spark_streaming_join_example_spark.operators.similarity import (
        knn_join,
        knn_join_ivf,
    )
    from spark_streaming_join_example_spark.sources.batch import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    corpus = emb.filter(F.col("vec_id") >= 100)
    exact = {
        (r.q_id, r.n_id) for r in knn_join(queries, corpus, k=5).collect()
    }
    approx = {
        (r.q_id, r.n_id)
        for r in knn_join_ivf(
            queries, corpus, k=5, n_cells=8, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_simhash_banded_pairs_match_bruteforce(spark, sf_dir):
    """Pigeonhole-bucketed SimHash pairing must find EXACTLY the pairs
    a brute-force all-pairs hamming comparison finds (blocking by
    chunk equality is lossless for hamming <= r — pigeonhole)."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.dedup import (
        distinct_tokens,
        simhash63,
        simhash_near_duplicates,
    )
    from spark_streaming_join_example_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    fp = docs.select("doc_id", simhash63(distinct_tokens("text")).alias("fp"))
    a = fp.select(F.col("doc_id").alias("a_id"), F.col("fp").alias("a_fp"))
    b = fp.select(F.col("doc_id").alias("b_id"), F.col("fp").alias("b_fp"))
    brute = {
        (r.a_id, r.b_id, r.hamming)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp"))).cast("int"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    assert len(brute) > 0  # fixture has near-dups; the test is not vacuous


def test_knn_join_empty_and_tiny_inputs(spark):
    """Review-found edge cases: empty query side returns an empty
    typed frame (not a numpy AxisError); an IVF probe count larger
    than the trained centroid count clamps instead of misaligning."""
    from spark_streaming_join_example_spark.operators.similarity import (
        knn_join,
        knn_join_ivf,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    out = knn_join(empty, corpus, k=3)
    assert out.count() == 0
    assert out.columns == ["q_id", "n_id", "cos_sim", "rank"]
    # 5-vector corpus, n_cells=8 → fewer centroids than n_probe=16
    got = knn_join_ivf(corpus, corpus, k=2, n_cells=8, n_probe=16)
    assert got.count() > 0
    # empty corpus: typed empty result
    assert knn_join_ivf(corpus, empty, k=2).count() == 0


def test_pq_recall_against_exact(spark, sf_dir):
    """PQ-SDC top-10 must substantially agree with the exact kernel —
    the fixture's near-random embeddings are PQ's adversarial case,
    so this pins the scalar-quantization-grade setting (m=16,
    nbits=8) the registered query uses; the wide candidate margin +
    exact re-rank does the rest."""
    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_topk_pairs,
        pq_topk_pairs,
    )
    from spark_streaming_join_example_spark import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.a_id, r.b_id) for r in cosine_topk_pairs(emb, k=10).collect()}
    got = {
        (r.a_id, r.b_id)
        for r in pq_topk_pairs(emb, k=10, m=16, nbits=8).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"PQ recall {recall:.2f} ({got & exact})"


def test_pq_recall_on_clustered_vectors(spark):
    """PQ in its FAVORABLE regime (r7 VERDICT item 6): the parquet
    fixture's near-random embeddings are PQ's documented adversarial
    case, so this fixture is 30 anisotropic clusters (center +
    0.15·noise in 64-dim) — the structure real embedding corpora have
    and sub-quantizers exploit.  At the REGISTERED settings (m=16,
    nbits=8) recall vs the exact kernel must be >= 0.9; the measured
    SDC-vs-exact recall curve across (m, nbits) is recorded in
    SCALE.md §pq."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_topk_pairs,
        pq_topk_pairs,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(30, 64))
    rows = []
    vid = 0
    for c in range(30):
        for _ in range(33):
            v = centers[c] + 0.15 * rng.normal(size=64)
            rows.append((vid, v.tolist()))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.a_id, r.b_id)
        for r in cosine_topk_pairs(emb, k=10, n_rows=len(rows)).collect()
    }
    got = {
        (r.a_id, r.b_id)
        for r in pq_topk_pairs(
            emb, k=10, m=16, nbits=8, n_rows=len(rows)
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"clustered PQ recall {recall:.2f}"


def test_pq_encode_deterministic_and_bounded(spark, sf_dir):
    """PQ codes are layout-independent (deterministic sample +
    seeded k-means + argmin) and every code addresses a real centroid."""
    from spark_streaming_join_example_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )
    from spark_streaming_join_example_spark import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, tables = pq_codebooks(emb, m=4, nbits=4)
    assert len(books) == 4 and len(tables) == 4
    a = {r.vec_id: tuple(r.codes) for r in pq_encode(emb, books).collect()}
    b = {
        r.vec_id: tuple(r.codes)
        for r in pq_encode(emb.repartition(7), books).collect()
    }
    assert a == b
    ksubs = [len(bk) for bk in books]
    for codes in a.values():
        assert len(codes) == 4
        for j, c in enumerate(codes):
            assert 0 <= c < ksubs[j]


def test_pq_sdc_approximates_cosine(spark, sf_dir):
    """The SDC estimate (sum of codebook-dot lookups) must track true
    cosine
    (normalized SDC = cosine of reconstructions): over the exact
    top-50 pairs, mean absolute error < 0.3 — coarse, which is exactly
    why the kernel re-ranks candidates with exact cosine."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        cosine_topk_pairs,
        pq_codebooks,
        pq_encode,
    )
    from spark_streaming_join_example_spark import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, tables = pq_codebooks(emb, m=8, nbits=4)
    codes = {r.vec_id: r.codes for r in pq_encode(emb, books).collect()}
    exact = cosine_topk_pairs(emb, k=50).collect()
    errs = []
    for r in exact:
        ca, cb = codes[r.a_id], codes[r.b_id]
        dot = sum(tables[j][ca[j]][cb[j]] for j in range(8))
        na = sum(tables[j][ca[j]][ca[j]] for j in range(8)) ** 0.5
        nb = sum(tables[j][cb[j]][cb[j]] for j in range(8)) ** 0.5
        errs.append(abs(dot / (na * nb) - r.cos_sim))
    assert np.mean(errs) < 0.3, np.mean(errs)


def test_minhash_incoming_vs_exact_dedup_incoming(spark, sf_dir):
    """r10: the LSH shard-vs-corpus twin (q_minhash_incoming) against
    the EXACT prefix-join answer (q_dedup_incoming) on the same
    corpus/shard split — precision 1.0 by the exact verify; recall
    pinned (128/16 scheme: per-pair detect prob ~0.9999 at s>=0.9)."""
    from spark_streaming_join_example_spark.plans.registry import (
        REGISTRY,
        _load_all_plans,
    )

    _load_all_plans()
    exact = {
        (r.corpus_id, r.incoming_id)
        for r in REGISTRY["q_dedup_incoming"].fn(spark, sf_dir).collect()
    }
    got = {
        (r.corpus_id, r.incoming_id)
        for r in REGISTRY["q_minhash_incoming"].fn(spark, sf_dir).collect()
    }
    assert got <= exact  # precision 1.0
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.95, f"recall {recall:.2f} ({len(got)}/{len(exact)})"


def test_semdedup_exact_matches_bruteforce_closure(spark, sf_dir):
    """q_semdedup_keep's operator (exact mode) against an independent
    Python union-find over the same exact pair set: the (vec_id →
    component) mapping and the kept flags must match exactly — the
    engine-independent twin of the DuckDB recursive-CTE oracle."""
    from spark_streaming_join_example_spark.operators.similarity import (
        semdedup_keep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = [
        (r.a_id, r.b_id)
        for r in cosine_pairs_above(emb, threshold=0.4).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {
        r.vec_id: (r.component, r.kept)
        for r in semdedup_keep(emb, threshold=0.4, mode="exact").collect()
    }
    assert len(got) == emb.count()  # one row per vector
    for vid, (comp, kept) in got.items():
        want = find(vid) if vid in parent else vid
        assert comp == want, f"vec {vid}: component {comp} != {want}"
        assert kept == (vid == comp)


def test_semdedup_lsh_keepset_contains_exact_keepset(spark, sf_dir):
    """LSH mode can only MISS pairs (precision is exact), and missing
    edges only SPLIT components — every exact representative stays
    the min of whatever subcomponent holds it, so exact_kept ⊆
    lsh_kept is a hard guarantee, not a statistical one.  On a
    planted near-identical pile-up (cos → 1, where LSH recall ≈ 1)
    the two keep-sets must be identical."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        semdedup_keep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact_kept = {
        r.vec_id
        for r in semdedup_keep(emb, threshold=0.4, mode="exact").collect()
        if r.kept
    }
    lsh_kept = {
        r.vec_id
        for r in semdedup_keep(
            emb, threshold=0.4, mode="lsh", bands=8
        ).collect()
        if r.kept
    }
    assert exact_kept <= lsh_kept
    # and the LSH keep-set stays close to the exact one on this fixture
    assert len(lsh_kept) <= len(exact_kept) * 1.2

    rng = np.random.default_rng(15)
    base = rng.normal(size=16)
    rows = [
        (int(i), (base + 0.001 * rng.normal(size=16)).tolist())
        for i in range(40)
    ] + [(int(100 + i), rng.normal(size=16).tolist()) for i in range(200)]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    kept_exact = {
        r.vec_id
        for r in semdedup_keep(
            planted, threshold=0.95, mode="exact", n_rows=240
        ).collect()
        if r.kept
    }
    kept_lsh = {
        r.vec_id
        for r in semdedup_keep(
            planted, threshold=0.95, mode="lsh", n_rows=240
        ).collect()
        if r.kept
    }
    assert 0 in kept_exact and len(kept_exact) <= 202
    assert kept_lsh == kept_exact


def test_span_coverage_matches_bruteforce(spark, sf_dir):
    """q_span_coverage against an independent Python re-derivation
    (posting lists → duplicated 5-grams → merged intervals) on the
    full sf0.001 documents table — pins the island-merge semantics
    (overlapping-or-adjacent) the DuckDB oracle shares."""
    from collections import defaultdict

    from spark_streaming_join_example_spark.plans.round15 import (
        q_span_coverage,
    )

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    where = defaultdict(set)  # gram -> {doc_id}
    for did, w in docs.items():
        for i in range(len(w) - 4):
            where[" ".join(w[i : i + 5])].add(did)
    dup = {g for g, ds in where.items() if len(ds) >= 2}
    want = {}
    for did, w in docs.items():
        spans = [
            (i + 1, i + 5)
            for i in range(len(w) - 4)
            if " ".join(w[i : i + 5]) in dup
        ]
        if not spans:
            continue
        merged = [list(spans[0])]
        for s, e in spans[1:]:
            if s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        covered = sum(e - s + 1 for s, e in merged)
        longest = max(e - s + 1 for s, e in merged)
        want[did] = (len(w), covered, round(covered / len(w), 6), longest)

    got = {
        r.doc_id: (r.n_toks, r.covered_toks, r.dup_coverage, r.longest_span)
        for r in q_span_coverage(spark, sf_dir).collect()
    }
    assert got == want


def test_semdedup_kmeans_mode_containment_and_planted(spark, sf_dir):
    """The k-means mode (the paper's literal cluster-then-compare
    recipe) has the SAME structural guarantee as LSH: cells only ever
    MISS pairs, so exact_kept ⊆ kmeans_kept; on the planted pile-up
    (cos → 1, one shared nearest cell) the keep-sets are identical."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        ivf_pairs_above,
        semdedup_keep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # precision: every kmeans-mode pair is in the exact set with the
    # same rounded cosine
    exact_pairs = {
        (r.a_id, r.b_id): r.cos_sim
        for r in cosine_pairs_above(emb, threshold=0.4).collect()
    }
    km_pairs = {
        (r.a_id, r.b_id): r.cos_sim
        for r in ivf_pairs_above(emb, threshold=0.4).collect()
    }
    assert km_pairs, "no kmeans-cell pairs at all — test vacuous"
    wrong = {k: v for k, v in km_pairs.items() if exact_pairs.get(k) != v}
    assert not wrong, f"pairs not in the exact set (or wrong cos): {wrong}"

    exact_kept = {
        r.vec_id
        for r in semdedup_keep(emb, threshold=0.4, mode="exact").collect()
        if r.kept
    }
    km_kept = {
        r.vec_id
        for r in semdedup_keep(emb, threshold=0.4, mode="kmeans").collect()
        if r.kept
    }
    assert exact_kept <= km_kept
    assert len(km_kept) <= len(exact_kept) * 1.2

    rng = np.random.default_rng(23)
    base = rng.normal(size=16)
    rows = [
        (int(i), (base + 0.001 * rng.normal(size=16)).tolist())
        for i in range(40)
    ] + [(int(100 + i), rng.normal(size=16).tolist()) for i in range(200)]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    kept_exact = {
        r.vec_id
        for r in semdedup_keep(
            planted, threshold=0.95, mode="exact", n_rows=240
        ).collect()
        if r.kept
    }
    kept_km = {
        r.vec_id
        for r in semdedup_keep(planted, threshold=0.95, mode="kmeans").collect()
        if r.kept
    }
    assert 0 in kept_exact
    assert kept_km == kept_exact


def test_shared_shingles_results_identical(spark, sf_dir):
    """The MinHash / prefix / SimHash pipelines share one corpus shingle
    build by persisting corpus_shingle_toks' output; Spark's
    CacheManager serves every re-built plan from it until clearCache().
    Sharing must be a pure timing optimization — every query's result
    set is byte-identical with the build persisted and unpersisted."""
    from tests.conftest import cached_plan_of

    from spark_streaming_join_example_spark.operators.dedup import (
        corpus_shingle_toks,
    )
    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )

    qd = queries_dict()
    names = [
        "q_minhash_neardup",
        "q_prefix_shingle_join",
        "q_simhash_shingle_pairs",
    ]
    spark.catalog.clearCache()
    plain = {
        n: sorted(map(tuple, qd[n](spark, sf_dir).collect())) for n in names
    }
    spark.catalog.clearCache()
    try:
        corpus_shingle_toks(spark, sf_dir).persist().count()
        assert "InMemoryRelation" in cached_plan_of(
            corpus_shingle_toks(spark, sf_dir)
        )
        shared = {
            n: sorted(map(tuple, qd[n](spark, sf_dir).collect()))
            for n in names
        }
    finally:
        spark.catalog.clearCache()
    assert "InMemoryRelation" not in cached_plan_of(
        corpus_shingle_toks(spark, sf_dir)
    )
    for n in names:
        assert plain[n] == shared[n], n
        assert plain[n], f"{n} empty — pin vacuous"


# ---------------------------------------------------------------------------
# r16: PQ training-cost optimization pins (VERDICT r15 item 4)
# ---------------------------------------------------------------------------


def test_pq_topk_full_recall_equals_exact_topk(spark, sf_dir):
    """r16 full-recall pin: on the fixture, q_pq_topk's re-ranked
    top-10 must EQUAL the exact kernel's top-10 (pairs AND rounded
    sims).  This is the guard that makes the codebook-training budget
    (pq_codebooks n_iter 10 -> 4, a ~0.3 s driver-side saving per
    invocation) output-invariant: while this pin holds, the query's
    result is the exact top-10, whatever the training internals —
    measured identical at n_iter 10/4/2 on sf0.001/0.01/0.1 before
    adopting."""
    from spark_streaming_join_example_spark.plans.registry import (
        REGISTRY,
        _load_all_plans,
    )

    _load_all_plans()
    exact = sorted(
        (r.a_id, r.b_id, r.cos_sim)
        for r in REGISTRY["q_cosine_topk"].fn(spark, sf_dir).collect()
    )
    pq = sorted(
        (r.a_id, r.b_id, r.cos_sim)
        for r in REGISTRY["q_pq_topk"].fn(spark, sf_dir).collect()
    )
    assert pq == exact


def test_kmeans_1d_assignment_matches_matrix_argmin():
    """r16: the 1-D fast path (_assign_nearest_1d — sorted centroids +
    searchsorted) must reproduce np.argmin over the full distance
    matrix EXACTLY, including first-min-index tie-breaks, on random
    data, crafted midpoint ties, and duplicate centroid values."""
    import numpy as np

    from spark_streaming_join_example_spark.operators.similarity import (
        _assign_nearest_1d,
        _kmeans_l2,
    )

    rng = np.random.default_rng(7)

    def ref(x, cent):
        d2 = (x[:, None] - cent[None, :]) ** 2
        return np.argmin(d2, axis=1)

    # random
    for n, k in ((1000, 256), (50, 8), (5, 5)):
        x = rng.standard_normal(n)
        cent = rng.standard_normal(k)
        assert np.array_equal(_assign_nearest_1d(x, cent), ref(x, cent))

    # exact midpoint ties + duplicate centroid values (integer-valued
    # floats: every distance is exactly representable, so the matrix
    # path's tie is a TRUE fp tie and argmin picks the first index)
    cent = np.array([4.0, 0.0, 2.0, 2.0, 8.0])
    x = np.array([1.0, 3.0, 2.0, 6.0, -5.0, 9.0])
    assert np.array_equal(_assign_nearest_1d(x, cent), ref(x, cent))

    # end-to-end: 1-D k-means equals the matrix-path implementation
    mat = rng.standard_normal((512, 1))
    got = _kmeans_l2(mat, 32, n_iter=6, seed=3)

    def ref_kmeans(mat, kk, n_iter, seed):
        r = np.random.default_rng(seed)
        cent = mat[r.choice(len(mat), size=min(kk, len(mat)), replace=False)].copy()
        sq = (mat**2).sum(axis=1)[:, None]
        for _ in range(n_iter):
            d2 = sq - 2.0 * (mat @ cent.T) + (cent**2).sum(axis=1)[None, :]
            assign = np.argmin(d2, axis=1)
            counts = np.bincount(assign, minlength=len(cent))
            sums = np.stack(
                [np.bincount(assign, weights=mat[:, d], minlength=len(cent))
                 for d in range(mat.shape[1])],
                axis=1,
            )
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz][:, None]
        return cent

    assert np.array_equal(got, ref_kmeans(mat, 32, 6, 3))
