"""LLM-data-pipeline extension queries (SURVEY.md §2.11 X1-X5):
dedup (exact, Jaccard, MinHash-LSH, SimHash), vector similarity
(exact top-k + LSH ANN), multimodal binary columns, text analysis
(tokens, quality, language-ID, fingerprinting).

Oracle-checkable where DuckDB can express the same computation; the
approximate/seeded ones (MinHash, ANN, SimHash, HLL) are rows-only
here and exactness-tested against small local oracles in
tests/test_extensions.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import (
    distinct_tokens,
    jaccard,
    minhash_near_duplicates,
    simhash63,
)
from ..operators.multimodal import attach_binary
from ..operators.similarity import (
    ann_topk_pairs,
    as_double_array,
    cosine_topk_pairs,
)
from ..operators.text import (
    LANG_MARKERS,
    predict_language,
    regex_tokens,
    rolling_fingerprint,
    tokenize,
)
from ..sources.batch import load_table, parquet_num_rows
from .registry import register


# ---------------------------------------------------------------------------
# X5 — text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_tokens",
    tags=("X5", "FN-array"),
    bench=True,
    oracle="""
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
FROM (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
)
GROUP BY lang
""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language: explode + multi-distinct agg over
    one row per token occurrence."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", "doc_id", F.explode(tokenize("text")).alias("tok"))
    return toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


@register(
    "q_text_quality",
    tags=("X5",),
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
       CAST(COUNT(*) FILTER (WHERE n_chars > 300) AS BIGINT) AS n_long_docs
FROM documents
GROUP BY lang, source
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring aggregates (length/token-density per slice) —
    integer sums so every engine agrees exactly."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    return (
        d.withColumn("n_tok", n_tok)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            (
                F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_chars"),
            (
                F.sum("n_tok").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_tokens"),
            F.sum(F.when(F.col("n_chars") > 300, 1).otherwise(0)).alias("n_long_docs"),
        )
    )


@register(
    "q_doc_top_token",
    tags=("X5", "W4"),
    oracle="""
SELECT doc_id, tok AS top_token, CAST(n AS BIGINT) AS top_cnt
FROM (
  SELECT doc_id, tok, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rn
  FROM (
    SELECT doc_id, tok, COUNT(*) AS n
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 100
    )
    GROUP BY doc_id, tok
  )
)
WHERE rn = 1
""",
)
def q_doc_top_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent token per document (top-1-per-group with
    deterministic tiebreak)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_token"), F.col("n").alias("top_cnt"))
    )


@register(
    "q_doc_fingerprint",
    tags=("X5",),
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS fingerprint,
       CAST(length(text) AS INT) AS n_len
FROM documents
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (exact integer
    arithmetic → engine-independent)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint("text").alias("fingerprint"),
        F.length("text").alias("n_len"),
    )


@register(
    "q_token_regex",
    tags=("X5", "FN-string"),
    oracle="""
SELECT lang,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_rtokens,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS n_numbers
FROM documents
GROUP BY lang
""",
)
def q_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish) token counting — extraction, not split, so
    punctuation never produces empty tokens."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(regex_tokens("text", "[a-z0-9]+"))).alias("n_rtokens"),
        F.sum(F.size(regex_tokens("text", "[0-9]+"))).alias("n_numbers"),
    )


_LEX_VALUES = ", ".join(f"('{w}', '{lg}')" for w, lg in LANG_MARKERS)


@register(
    "q_langid",
    tags=("X5",),
    oracle=f"""
WITH lex(marker, marker_lang) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hits AS (
  SELECT t.doc_id, l.marker_lang, COUNT(*) AS n_hits
  FROM toks t JOIN lex l ON t.tok = l.marker
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, marker_lang
  FROM (
    SELECT doc_id, marker_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_hits DESC, marker_lang) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.lang, COALESCE(b.marker_lang, 'und') AS pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d LEFT JOIN best b USING (doc_id)
GROUP BY 1, 2
""",
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language-ID confusion matrix (argmax of marker
    hits per doc, deterministic tiebreaks)."""
    d = load_table(spark, sf_dir, "documents")
    pred = predict_language(d, spark)
    return (
        d.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# X1/X2 — deduplication
# ---------------------------------------------------------------------------


@register(
    "q_exact_dedup_docs",
    tags=("X1",),
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
       CAST(COUNT(DISTINCT array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS BIGINT) AS n_unique_token_sets
FROM documents
GROUP BY lang
""",
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup census: unique raw texts vs unique normalized
    token-sets per language (the bag-of-words collision count)."""
    d = load_table(spark, sf_dir, "documents")
    tokset = F.array_join(F.array_sort(distinct_tokens("text")), " ")
    return (
        d.withColumn("tokset", tokset)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique_texts"),
            F.countDistinct("tokset").alias("n_unique_token_sets"),
        )
    )


@register(
    "q_jaccard_pairs",
    tags=("X2",),
    oracle="""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 2000
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.95
""",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (≥ 0.95) — the all-pairs
    oracle baseline the LSH path approximates. Explicitly bounded
    (doc_id < 2000) AND hard-guarded: above 2,500 input docs the
    builder raises with a pointer to minhash_near_duplicates — the
    quadratic is the point of the LSH path; an unbounded all-pairs
    join is never the production plan."""
    from ..operators.guards import assert_allpairs_bounded

    d = assert_allpairs_bounded(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000),
        max_rows=2500,
        what="q_jaccard_pairs",
        scale_path="operators.dedup.minhash_near_duplicates (banded LSH)",
    )
    # per-pair work is ONE array_intersect: set sizes precompute per
    # document (n times, not n²) and |A∪B| = |A|+|B|−|A∩B|, so the
    # per-pair array_union+dedup materialization disappears; the
    # intersect size + the ratio evaluate once via a staged select
    # instead of twice through filter-then-project (Catalyst does not
    # CSE array expressions across the two).  64 s -> 27 s warm at
    # sf0.1, value-identical (same integer division operands).
    t = d.select("doc_id", distinct_tokens("text").alias("toks"))
    a = t.select(
        F.col("doc_id").alias("a_id"),
        F.col("toks").alias("a_toks"),
        F.size("toks").alias("na"),
    )
    b = t.select(
        F.col("doc_id").alias("b_id"),
        F.col("toks").alias("b_toks"),
        F.size("toks").alias("nb"),
    )
    staged = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            "na",
            "nb",
            F.size(F.array_intersect("a_toks", "b_toks")).alias("ni"),
        )
        .select(
            "a_id",
            "b_id",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni")).cast("double")
            ).alias("j"),
        )
    )
    return staged.filter(F.col("j") >= 0.95).select(
        "a_id", "b_id", F.round("j", 6).alias("jac")
    )


@register(
    "q_prefix_jaccard_join",
    tags=("X2", "W1", "J4"),
    oracle="""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 2000
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.95
""",
)
def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    family) — same output as the all-pairs q_jaccard_pairs at the same
    threshold, through a LOSSLESS sub-quadratic algorithm: candidates
    only from pairs sharing a token in their rarest-first prefix of
    length |X| − ⌈t·|X|⌉ + 1 (operators/dedup.py
    prefix_filter_jaccard_pairs has the pigeonhole proof).  Three
    exact formulations now agree on this output: the quadratic
    baseline, the DuckDB oracle, and the prefix-filtered join.

    Candidate-count honesty (measured, sf0.01 bounded 500 docs at
    t=0.95): 21,348 of 124,750 all-pairs (17%) — the fixture's
    31-token vocabulary makes every prefix token frequent, so pruning
    is modest HERE and mostly the size prefilter's; on a Zipfian
    vocabulary the same plan prunes hard
    (tests/test_extensions.py::test_prefix_filter_prunes_on_zipfian
    pins <10% candidates on a natural-shaped corpus).  Even so, at
    sf0.1 (bounded 2,000 docs) the identical 29,661-row output costs
    **3.4 s here vs 24.9 s all-pairs** (quiet box, warm) — lossless
    pruning pays 7× on the adversarial corpus.  Bounded like the
    all-pairs baseline because the ORACLE is quadratic regardless."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return prefix_filter_jaccard_pairs(d, threshold=0.95)


@register(
    "q_prefix_shingle_join",
    tags=("X2", "W1", "J4", "X1"),
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 2000
), s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' '))
         ELSE [array_to_string(w, ' ')] END) AS toks
  FROM w
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jac
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9
""",
)
def q_prefix_shingle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT prefix-filter set-similarity join over word-3-gram SHINGLE
    units (prefix_filter_jaccard_pairs(shingle=3)) — the small-vocab
    escape hatch for the word-set prefix join's documented weak case:
    on this corpus's 31-word vocabulary every raw token is frequent, so
    the word-set prefix prunes only 83 % of pairs, while shingles give
    a corpus-sized unit vocabulary and rarest-first prefixes prune to
    **25 candidates of 124,750 all-pairs (0.02 % — exactly the planted
    duplicate pairs) at sf0.01, t=0.9** (pinned in
    tests/test_extensions.py).  Lossless by the same
    pigeonhole lemma — the element domain is irrelevant to the proof —
    and the DuckDB oracle recomputes the full quadratic shingle join,
    so this checks value-for-value.  Semantics match q_minhash_neardup
    (shingle-set Jaccard ≥ 0.9) but EXACT, with no per-pair miss rate:
    at 100 TB this is the path when dedup must be provably complete.

    The shingle relation is corpus_shingle_toks (the one the MinHash
    and SimHash pipelines share) FILTERED to this query's doc_id < 2000
    slice — per-row shingling commutes with the filter, and the
    df-order prefix is computed over the filtered relation
    (pytest-pinned identical to shingling the filtered documents)."""
    from ..operators.dedup import (
        corpus_shingle_toks,
        prefix_filter_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    toks = corpus_shingle_toks(spark, sf_dir).filter(F.col("doc_id") < 2000)
    return prefix_filter_jaccard_pairs(d, threshold=0.9, shingle=3, toks=toks)


@register(
    "q_dedup_incoming",
    tags=("X1", "X2", "J4"),
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 500
), s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' '))
         ELSE [array_to_string(w, ' ')] END) AS toks
  FROM w
)
SELECT c.doc_id AS corpus_id, i.doc_id AS incoming_id,
       round(CAST(len(list_intersect(c.toks, i.toks)) AS DOUBLE)
             / CAST(len(list_distinct(c.toks || i.toks)) AS DOUBLE), 6) AS jac
FROM s c JOIN s i ON c.doc_id < 400 AND i.doc_id >= 400
WHERE CAST(len(list_intersect(c.toks, i.toks)) AS DOUBLE)
      / CAST(len(list_distinct(c.toks || i.toks)) AS DOUBLE) >= 0.9
""",
)
def q_dedup_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup, batch form: flag INCOMING documents
    (doc_id ≥ 400) that near-duplicate an EXISTING corpus (doc_id <
    400) at shingle-Jaccard ≥ 0.9 — the shard-vs-corpus step every
    ingest pipeline runs, without ever re-joining the corpus against
    itself.  This is exactly the per-batch step of the streaming exact
    index (streaming/prefix_index.py) as a standalone oracle-checked
    query: frozen hash-order prefixes on BOTH sides (corpus prefixes
    must not depend on what arrives later — the incremental-index
    invariant), prefix_candidate_join between the two prefix
    relations, shared exact-Jaccard verify.  Lossless by the
    order-agnostic pigeonhole lemma; the DuckDB oracle recomputes the
    quadratic corpus×incoming join value-for-value.

    Scale shape: at 100 TB the corpus prefix relation is a persisted
    table (~(1−t)·|X|+1 rows per document); an incoming shard costs
    one per-document window pass plus a scalar-token equi-join against
    it — never corpus × corpus, never corpus × shard all-pairs."""
    from ..operators.dedup import (
        exact_jaccard_verify,
        prefix_candidate_join,
        prefix_rows,
        shingles,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = d.select(
        "doc_id", shingles("text", n=3).alias("toks")
    ).localCheckpoint(eager=False)
    corpus_p = prefix_rows(
        toks.filter(F.col("doc_id") < 400), "doc_id", 0.9, order="hash"
    )
    incoming_p = prefix_rows(
        toks.filter(F.col("doc_id") >= 400), "doc_id", 0.9, order="hash"
    )
    cand = prefix_candidate_join(incoming_p, corpus_p, "doc_id", 0.9)
    # ids are disjoint with corpus < incoming, so the join's
    # (least, greatest) normalization lands corpus on a_id
    return exact_jaccard_verify(cand, toks, "doc_id", 0.9).select(
        F.col("a_id").alias("corpus_id"),
        F.col("b_id").alias("incoming_id"),
        "jac",
    )


@register(
    "q_dup_clusters_incoming",
    tags=("X1", "X2"),
    oracle="""
WITH RECURSIVE w AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 500
), t AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' '))
         ELSE [array_to_string(w, ' ')] END) AS toks
  FROM w
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9
), edges AS MATERIALIZED (
  SELECT a_id AS s, b_id AS d FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), m1 AS MATERIALIZED (
  SELECT s, LEAST(s, MIN(d)) AS m FROM edges GROUP BY s
), e1 AS MATERIALIZED (
  SELECT DISTINCT x.m AS s, y.m AS d
  FROM edges e JOIN m1 x ON e.s = x.s JOIN m1 y ON e.d = y.s
  WHERE x.m <> y.m
), reach(s, d) AS (
  SELECT s, d FROM e1
  UNION
  SELECT r.s, e.d FROM reach r JOIN e1 e ON r.d = e.s
), comp1 AS (
  SELECT s, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s
)
SELECT n.s AS node, COALESCE(c.comp, n.m) AS component
FROM m1 n LEFT JOIN comp1 c ON n.m = c.s
""",
)
def q_dup_clusters_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster ids AFTER an incoming shard merges into an
    already-clustered corpus — the cluster-maintenance step of an
    ingest pipeline as a standalone oracle-checked query, and the
    batch twin of ``maintain_prefix_index(..., maintain_clusters=
    True)`` (streaming/cluster_index.py).

    Phases, exactly as the incremental path runs them: (1) the
    EXISTING corpus (doc_id < 400) is clustered once — lossless
    shingle-Jaccard ≥ 0.9 prefix join (q_prefix_shingle_join
    semantics) → min-label connected components; (2) the INCOMING
    shard (400 ≤ doc_id < 500) contributes only its DELTA pairs —
    shard-vs-(corpus ∪ shard) through frozen hash-order prefixes,
    never corpus × corpus again; (3) the delta folds in through
    ``merge_pairs_into_clusters`` — endpoints contract onto their
    current cluster roots and a connected-components pass over the
    DELTA-SIZED contracted graph remaps merged roots.

    The DuckDB oracle knows nothing of the staging: it recomputes the
    transitive closure over ALL ≥ 0.9 pairs among doc_id < 500 in one
    shot (recursive CTE, one min-label contraction round first — same
    shape as q_dup_clusters' oracle).  Hash-equality against it is
    the proof that incremental merge ≡ from-scratch clustering.

    Scale shape: corpus prefixes and the cluster store are persisted,
    pair-output-sized relations; a shard costs one window pass, one
    scalar-token equi-join, and a CC loop over its own delta graph."""
    from ..operators.dedup import (
        exact_jaccard_verify,
        prefix_candidate_join,
        prefix_rows,
        shingles,
    )
    from ..operators.graph import connected_components
    from ..streaming.cluster_index import merge_pairs_into_clusters

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = d.select(
        "doc_id", shingles("text", n=3).alias("toks")
    ).localCheckpoint(eager=False)
    corpus_p = prefix_rows(
        toks.filter(F.col("doc_id") < 400), "doc_id", 0.9, order="hash"
    ).localCheckpoint(eager=False)
    incoming_p = prefix_rows(
        toks.filter(F.col("doc_id") >= 400), "doc_id", 0.9, order="hash"
    ).localCheckpoint(eager=False)

    # phase 1: the corpus as already clustered (corpus-only pairs)
    corpus_pairs = exact_jaccard_verify(
        prefix_candidate_join(corpus_p, corpus_p, "doc_id", 0.9),
        toks,
        "doc_id",
        0.9,
    )
    prev = connected_components(corpus_pairs)

    # phase 2+3: the shard's delta pairs fold into the mapping
    delta = exact_jaccard_verify(
        prefix_candidate_join(
            incoming_p, corpus_p.unionByName(incoming_p), "doc_id", 0.9
        ),
        toks,
        "doc_id",
        0.9,
    )
    return merge_pairs_into_clusters(prev, delta).select(
        "node", "component"
    )


@register("q_minhash_neardup", tags=("X2",))
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH near-duplicate pairs over word 3-gram
    shingles, exact-Jaccard verified ≥ 0.9 (rows-only: signatures are
    engine-seeded; recall + candidate-rate vs the exact baseline are
    asserted in tests/test_extensions.py).

    r8 retune: shingle units + 128 hashes / 16 bands × 8 rows (see
    minhash_near_duplicates docstring for the S-curve).  The r7 form
    (raw word sets, 16/4) admitted 51 % of all pairs as candidates on
    this small-vocabulary corpus and ran 52 s at sf0.1; the shingled
    form admits ≈ the planted duplicates only.

    The shingle relation is corpus_shingle_toks, shared with the
    prefix-join and SimHash pipelines — it is 54 % of this query's
    wall time when recomputed (SCALE.md §Round-12), so a persisted build
    of it is read from Spark's cache (byte-identical, pytest pin).
    The 64-hash/16-band retune was probed too (identical pairs, recall
    1.0, 24 % faster on THIS fixture) and deliberately NOT adopted:
    4-row bands flatten the S-curve to s⁴ — ~0.64 candidate
    probability at s=0.5 — which re-opens the r7 candidate blow-up on
    any corpus with mid-similarity mass; the steep s⁸ curve is the
    100 TB posture."""
    d = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import corpus_shingle_toks

    return minhash_near_duplicates(
        d, threshold=0.9, toks=corpus_shingle_toks(spark, sf_dir)
    )


@register("q_minhash_incoming", tags=("X2",))
def q_minhash_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-vs-corpus near-dup check through the banded-LSH path —
    the approximate twin of q_dedup_incoming (same corpus/incoming
    split, same shingle-Jaccard ≥ 0.9 semantics, same output shape)
    and the batch form of the signature index's read-only
    ``lookup_near_duplicates`` (streaming/neardup_index.py): sign the
    shard, equi-join its bands against the corpus's bands, exact-
    verify the candidates.  Rows-only by design (the candidate set
    depends on the engine-seeded band scheme); precision is 1.0 by the
    exact verify, and recall vs the EXACT prefix-join answer
    (q_dedup_incoming) is pinned in tests/test_extensions.py.

    Scale shape: at 100 TB the corpus band relation is the persisted
    index; a shard costs one signature pass + a band-bucket equi-join
    against it — never corpus × shard all-pairs, and candidate growth
    is linear in data size (SCALE.md K-probe)."""
    from ..operators.dedup import (
        banded_signatures,
        exact_jaccard_verify,
        minhash_signatures,
        shingles,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = d.select(
        "doc_id", shingles("text", n=3).alias("toks")
    ).localCheckpoint(eager=False)
    sig = minhash_signatures(toks, "doc_id", F.col("toks"), 128)
    banded = banded_signatures(sig, "doc_id", 128, 16)
    corpus_b = banded.filter(F.col("doc_id") < 400)
    incoming_b = banded.filter(F.col("doc_id") >= 400)
    cand = (
        corpus_b.select(F.col("doc_id").alias("a_id"), "band", "bucket")
        .join(
            incoming_b.select(F.col("doc_id").alias("b_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("a_id", "b_id")
        .distinct()
    )
    # ids are disjoint with corpus < incoming, so verify's
    # (least, greatest) normalization keeps corpus on a_id
    return exact_jaccard_verify(cand, toks, "doc_id", 0.9).select(
        F.col("a_id").alias("corpus_id"),
        F.col("b_id").alias("incoming_id"),
        "jac",
    )


@register("q_simhash_fingerprints", tags=("X2",))
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (rows-only: xxhash64-seeded)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", simhash63(distinct_tokens("text")).alias("simhash")
    )


@register("q_approx_distinct_users", tags=("A3",))
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count (rows-only: sketch internals are
    engine-specific; ε-accuracy asserted in tests)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


# ---------------------------------------------------------------------------
# X3 — vector similarity search
# ---------------------------------------------------------------------------


@register(
    "q_cosine_topk",
    tags=("X3", "J11", "O2"),
    bench=True,
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, a_id, b_id
LIMIT 10
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 most-cosine-similar embedding pairs (f64 math,
    6dp rounding, id tiebreaks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pairs(emb, k=10, n_rows=parquet_num_rows(sf_dir, "embeddings"))


@register("q_ann_topk", tags=("X3",))
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 cosine pairs (rows-only;
    recall vs exact asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_pairs(emb, k=10, n_rows=parquet_num_rows(sf_dir, "embeddings"))


@register("q_pq_topk", tags=("X3",))
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 cosine pairs (SDC over
    broadcast codebook tables; rows-only — recall vs the exact kernel
    pinned in tests/test_extensions.py).  PQ is the memory-side scale
    path: codes shuffle at m ints/vector instead of d floats, each
    pair costs m table lookups instead of d multiplies.  The fixture
    embeddings are near-random — PQ's adversarial case — so the
    registered settings are scalar-quantization-grade (m=16, nbits=8:
    one byte per dim, still a 4x shrink vs float32); real anisotropic
    embedding corpora sustain far higher compression."""
    from ..operators.similarity import pq_topk_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk_pairs(
        emb, k=10, m=16, nbits=8,
        n_rows=parquet_num_rows(sf_dir, "embeddings"),
    )


@register(
    "q_embedding_centroid",
    tags=("X3", "F3", "FN-array"),
    oracle="""
SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS centroid_val
FROM (
  SELECT label,
         unnest(range(len(embedding))) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
)
GROUP BY label, pos
""",
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, dimension-wise (posexplode + avg)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("centroid_val")
    )


# ---------------------------------------------------------------------------
# X4 — multimodal columns
# ---------------------------------------------------------------------------


@register(
    "q_vector_join",
    tags=("X4", "J4"),
    oracle="""
SELECT lang, label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY lang, label
""",
)
def q_vector_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ⋈ vector modality join (documents.doc_id = embeddings.vec_id)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_chars"),
        )
    )


@register(
    "q_multimodal_binary",
    tags=("X4",),
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS payload_sha,
       'text/plain' AS mime
FROM documents
WHERE doc_id < 50
""",
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + typed metadata (the multimodal column
    pattern: bytes ride through, metadata is queryable)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    withbin = attach_binary(d)
    return withbin.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("payload_sha"),
        F.col("meta.mime").alias("mime"),
    )


@register(
    "q_embedding_neardup",
    tags=("X2", "X3"),
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (≥ 0.4) via the block
    matmul kernel — the vector-space member of the dedup family."""
    from ..operators.similarity import cosine_pairs_above

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_above(
        emb, threshold=0.4, n_rows=parquet_num_rows(sf_dir, "embeddings")
    )


@register("q_embedding_neardup_lsh", tags=("X2", "X3"))
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.4) via banded hyperplane
    LSH blocking + exact in-bucket verify — the SUB-QUADRATIC scale
    path where the checked q_embedding_neardup runs the exact Θ(n²·d)
    block kernel (its correctness yardstick).  Rows-only (LSH bucket
    membership has no DuckDB twin); precision is exact by
    construction and recall vs the exact kernel is pinned in
    tests/test_extensions.py."""
    from ..operators.similarity import ann_pairs_above

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_pairs_above(
        emb,
        threshold=0.4,
        bands=8,
        n_rows=parquet_num_rows(sf_dir, "embeddings"),
    )


@register("q_ivf_topk", tags=("X3",))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 cosine pairs (seeded k-means coarse
    quantizer → per-cell equi-join → exact re-rank). Rows-only; recall
    vs the exact kernel asserted in tests."""
    from ..operators.similarity import ivf_topk_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_pairs(emb, k=10, n_cells=16, n_probe=2)


@register(
    "q_knn_search",
    tags=("X3",),
    oracle="""
SELECT q_id, n_id, cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id >= 100
  WHERE q.vec_id < 20
) WHERE rank <= 5
""",
)
def q_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN retrieval: 20 query vectors against the rest of the corpus,
    top-5 neighbors each — broadcast-corpus BLAS kernel, exact, so the
    DuckDB window-over-crossjoin oracle checks it value-for-value."""
    from ..operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 100)
    return knn_join(queries, corpus, k=5)


@register(
    "q_ngram_jaccard",
    tags=("X2", "X5"),
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(2, length(text) - 2)),
           i -> substring(text, CAST(i AS INT), 4))) AS grams
  FROM documents WHERE doc_id < 150
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE), 6) AS jac
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.6
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram shingle Jaccard near-dup pairs (≥ 0.6) —
    tokenizer-free dedup (robust to whitespace/punctuation edits,
    the classic web-scale near-dup representation). JVM-side shingling
    via sequence→substr HOFs; same join shape as q_jaccard_pairs.

    Scale: the all-pairs comparison here is the bounded oracle
    baseline; the production path feeds these shingle sets into the
    MinHash-LSH banding of operators/dedup.py unchanged."""
    from ..operators.dedup import jaccard

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - 3)),
            lambda i: F.substr("text", i, F.lit(4)),
        )
    )
    t = d.select("doc_id", grams.alias("grams"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("grams").alias("a_toks"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("grams").alias("b_toks"))
    jac = jaccard(F.col("a_toks"), F.col("b_toks"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(jac >= 0.6)
        .select("a_id", "b_id", F.round(jac, 6).alias("jac"))
    )


@register(
    "q_frame_sample",
    tags=("X4",),
    oracle="""
SELECT doc_id,
       CAST(least(8, greatest(1, length(text) // 1000)) AS BIGINT) AS n_frames
FROM documents WHERE doc_id < 100
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1:N stage: binary payload → sampled frames →
    per-doc frame counts (aggregating JVM-side after the Python
    stage). The fake sampler is deterministic (1 ms/byte), so the
    fan-out itself is oracle-checkable even though frame bytes are
    opaque."""
    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    frames = sample_frames(attach_binary(d), every_ms=1000, max_frames=8)
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))


@register(
    "q_dedup_keep_best",
    tags=("X1", "W4"),
    oracle="""
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY text
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a survivor policy: one representative per
    duplicate text group, the 'best' one (longest, then lowest id) —
    the realistic corpus-dedup shape (you never keep an arbitrary
    member at 100 TB; the policy must be deterministic so reruns and
    different partitionings pick the same survivors).

    Scale: one shuffle on the dup key (here raw text; production uses
    a 128-bit content hash so the shuffle key is 16 bytes, cf.
    q_doc_fingerprint) + WindowGroupLimit keeps only candidate
    survivors per partition before the final sort."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "q_corpus_pipeline",
    tags=("X1", "X3", "X5"),
    oracle="""
WITH survivors AS (
  SELECT doc_id, lang, n_chars
  FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY text
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
    WHERE n_chars >= 80 AND len(string_split(text, ' ')) >= 12
  ) WHERE rn = 1
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars,
       round(avg(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))), 6)
           AS avg_self_sim,
       CAST(COUNT(e.vec_id) AS BIGINT) AS n_with_embedding
FROM survivors s LEFT JOIN embeddings e ON s.doc_id = e.vec_id
GROUP BY s.lang
""",
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline slice: quality gate (length +
    token-count thresholds) → exact dedup keeping the best survivor →
    enrich with the embedding table (left join: not every doc is
    embedded) → per-language corpus stats. The composition every
    LLM-data pipeline runs, expressed as one Catalyst plan: the gate
    pushes into the scan, dedup is one shuffle + group-limit, the
    embedding join shuffles on the id, and aggregation is partial+final.
    (avg_self_sim ≡ 1.0 by construction — it proves the vector column
    survived the relational pipeline intact.)"""
    d = load_table(spark, sf_dir, "documents")
    gated = d.filter(
        (F.col("n_chars") >= 80) & (F.size(F.split("text", " ")) >= 12)
    )
    w = Window.partitionBy("text").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    survivors = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import as_double_array, cosine

    joined = survivors.join(
        emb, survivors.doc_id == emb.vec_id, "left_outer"
    )
    self_sim = cosine(as_double_array("embedding"), as_double_array("embedding"))
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.avg(self_sim), 6).alias("avg_self_sim"),
        F.count("vec_id").alias("n_with_embedding"),
    )


@register("q_ml_minhash_neardup", tags=("X2",))
def q_ml_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH near-dup pairs (rows-only: estimator-seeded
    hashes; agreement with exact Jaccard asserted in
    tests/test_extensions.py). The off-the-shelf alternate to
    q_minhash_neardup's hand-rolled banding."""
    from ..operators.ml_lsh import ml_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    return ml_minhash_pairs(d, jaccard_threshold=0.9)


@register("q_knn_search_ivf", tags=("X3",))
def q_knn_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-celled k-NN retrieval (no broadcast of either side) — the
    scale path for query sets too large for q_knn_search's bounded
    broadcast.  Rows-only; recall vs the exact kernel asserted in
    tests/test_extensions.py."""
    from ..operators.similarity import knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 100)
    return knn_join_ivf(queries, corpus, k=5, n_cells=8, n_probe=4)


@register(
    "q_knn_ivf_exact",
    tags=("X3",),
    oracle="""
SELECT q_id, n_id, cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id >= 100
  WHERE q.vec_id < 20
) WHERE rank <= 5
""",
)
def q_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-celled k-NN with EXHAUSTIVE probing (n_probe = n_cells):
    every query visits every cell, so the routed cogroup kernel must
    reproduce the exact brute-force top-k — the correctness gate for
    the IVF machinery itself (q_knn_search_ivf is the partial-probe,
    rows-only production setting).  Same DuckDB window-over-crossjoin
    oracle as q_knn_search; ranks tie-break on neighbor id in both
    engines."""
    from ..operators.similarity import knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 100)
    return knn_join_ivf(queries, corpus, k=5, n_cells=8, n_probe=8)


@register("q_simhash_pairs", tags=("X2",))
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed SimHash near-dup pairs (hamming <= 3) via pigeonhole
    chunk blocking — the scalable pairing for the SimHash fingerprints
    of q_simhash_fingerprints.  Rows-only (xxhash64-based fingerprint
    is engine-specific); blocking proven LOSSLESS vs brute-force
    all-pairs hamming in tests/test_extensions.py."""
    from ..operators.dedup import simhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, max_hamming=3)


# ---------------------------------------------------------------------------
# Data-mixture reweighting: per-source sampling weights to a target mix.
# ---------------------------------------------------------------------------


@register(
    "q_mixture_weights",
    tags=("A1", "W3", "X5"),
    oracle="""
WITH c AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
t AS (
  SELECT source, n_docs, n_chars,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
  FROM c
)
SELECT source, n_docs, n_chars,
       CAST(n_docs * 1000000 // total_docs AS BIGINT) AS actual_ppm,
       CAST(1000000 // n_sources AS BIGINT) AS target_ppm,
       CAST((1000000 // n_sources) * 1000000 //
            GREATEST(n_docs * 1000000 // total_docs, 1) AS BIGINT) AS weight_ppm
FROM t
""",
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: each source's actual share of the
    corpus vs a uniform target mix, and the per-source sampling weight
    (target/actual, in ppm) that a weighted sampler applies to hit the
    target — the knob every LLM training-data pipeline turns (upsample
    rare high-quality sources, downsample bulk crawl).

    Scale rationale: one partial-aggregable groupBy to per-source
    rollups, then window-over-aggregate arithmetic on the SOURCE table
    (a handful of rows).  All shares/weights are chained BIGINT
    floor-ppm divisions — engine- and partitioning-exact, and the
    weight column feeds q_stratified_sample's fraction map directly.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    t = c.select(
        "source",
        "n_docs",
        "n_chars",
        F.sum("n_docs").over(Window.partitionBy()).alias("total_docs"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_sources"),
    )
    return t.select(
        "source",
        "n_docs",
        "n_chars",
        F.expr("CAST(n_docs * 1000000 div total_docs AS BIGINT)").alias(
            "actual_ppm"
        ),
        F.expr("CAST(1000000 div n_sources AS BIGINT)").alias("target_ppm"),
        # GREATEST(...,1): a source below 1 ppm of the corpus floors to
        # an actual_ppm of 0; without the guard Spark's non-ANSI div
        # yields NULL while DuckDB errors — divergent, and both wrong.
        # The guard caps such a source's upweight at target_ppm*1e6.
        F.expr(
            "CAST((1000000 div n_sources) * 1000000 div "
            "GREATEST(n_docs * 1000000 div total_docs, 1) AS BIGINT)"
        ).alias("weight_ppm"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication diagnostics over exact-dup groups.
# ---------------------------------------------------------------------------


@register(
    "q_cross_source_dups",
    tags=("X1", "A1"),
    oracle="""
WITH g AS (
  SELECT md5(text) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         MIN(doc_id) AS keep_id
  FROM documents GROUP BY md5(text)
)
SELECT CASE WHEN n_docs = 1 THEN 'unique'
            WHEN n_sources = 1 THEN 'dup_within_source'
            ELSE 'dup_cross_source' END AS dup_class,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_removable
FROM g GROUP BY 1
""",
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication provenance: bucket exact-duplicate groups (md5 of
    text) into unique / duplicated-within-one-source /
    duplicated-across-sources, with group, document, and removable-row
    counts — the diagnostic that tells a dedup pipeline whether its
    duplicates are mirror-crawl artifacts (cross-source) or
    re-ingestion bugs (within-source), and how many rows dedup will
    actually delete.

    Scale rationale: the same hash-groupBy as q_exact_dedup_docs (the
    hash collapses map-side, so the shuffle carries digests, not
    text), followed by a 3-row classification aggregate.  COUNT
    (DISTINCT source) inside the group is expand-based but bounded by
    the sources-per-group cardinality (≤ |sources|).
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("keep_id"),
    )
    return (
        g.select(
            F.when(F.col("n_docs") == 1, F.lit("unique"))
            .when(F.col("n_sources") == 1, F.lit("dup_within_source"))
            .otherwise(F.lit("dup_cross_source"))
            .alias("dup_class"),
            "n_docs",
        )
        .groupBy("dup_class")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_docs").alias("n_docs"),
            (F.sum("n_docs") - F.count(F.lit(1))).alias("n_removable"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring against a data-derived query.
# ---------------------------------------------------------------------------

_BM25_K1_E3 = 1200  # k1 = 1.2 in milli-units
_BM25_B_E3 = 750    # b = 0.75 in milli-units


@register(
    "q_bm25_search",
    tags=("X5", "A1", "J3", "O2"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
t AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM dl
),
df AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY tok
),
qterms AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
),
tf AS (
  SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM t JOIN qterms ON t.tok = qterms.tok
  GROUP BY t.doc_id, t.tok
),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln((CAST(stats.n_docs AS DOUBLE) - qterms.df + 0.5)
              / (qterms.df + 0.5) + 1.0)
           * (tf.tf * ({_BM25_K1_E3} / 1000.0 + 1.0))
           / (tf.tf + ({_BM25_K1_E3} / 1000.0)
              * (1.0 - {_BM25_B_E3} / 1000.0
                 + ({_BM25_B_E3} / 1000.0) * dl.dl
                   * CAST(stats.n_docs AS DOUBLE) / stats.total_len))
           * 1000000.0) AS BIGINT) AS s_e6
  FROM tf
  JOIN qterms ON tf.tok = qterms.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(s_e6) AS BIGINT) AS bm25_e6,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25_e6 DESC, doc_id LIMIT 20
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text relevance: score every document against a
    3-term query (the corpus's highest-df tokens — data-derived, so
    the query is self-contained) with the standard Okapi formula
    (k1=1.2, b=0.75), returning the top-20 by score — the retrieval
    primitive under every RAG pipeline and search endpoint.

    Determinism: each (doc, term) partial score — idf · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)) — is computed from exact integers
    (tf, df, dl, N, Σdl) in one double expression written identically
    in both engines, then ROUNDED TO INTEGER MICRO-UNITS before the
    per-doc sum, so the aggregate is associative and the top-20 order
    (ties by doc_id) is engine- and partitioning-exact.

    Scale rationale: term frequencies and doc lengths are the standard
    explode+groupBy inverted-index build (partial-aggregable); the
    3-row query-term table and the 1-row corpus stats broadcast into
    the tf join; the ranking is TakeOrderedAndProject.  At 100 TB the
    same dataflow IS the distributed index build — BM25 at query time
    then reads the precomputed (term → postings) table instead of
    rebuilding it.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    df_t = t.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    qterms = df_t.orderBy(F.col("df").desc(), "tok").limit(3)
    tf = (
        t.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    k1 = _BM25_K1_E3 / 1000.0
    b = _BM25_B_E3 / 1000.0
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * F.col("dl")
                        * F.col("n_docs").cast("double")
                        / F.col("total_len")
                    )
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("s_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("s_e6").alias("bm25_e6"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25_e6").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifier combinations.
# ---------------------------------------------------------------------------


@register(
    "q_kanonymity",
    tags=("A1", "P5", "X5"),
    oracle="""
WITH qi AS (
  SELECT n_name,
         c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS grp_size
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
),
audit AS (
  SELECT CASE WHEN grp_size >= 10 THEN 'k10_safe'
              WHEN grp_size >= 5 THEN 'k5_only'
              ELSE 'unsafe' END AS k_band,
         grp_size
  FROM qi
)
SELECT k_band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(grp_size) AS BIGINT) AS n_rows,
       CAST(MIN(grp_size) AS BIGINT) AS min_group,
       CAST(MAX(grp_size) AS BIGINT) AS max_group
FROM audit GROUP BY k_band
""",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: bucket every quasi-identifier combination
    (nation × market segment) by its equivalence-class size — rows in
    classes smaller than k are re-identifiable and must be generalized
    or suppressed before a dataset ships (the release gate privacy
    reviews run on training data and analytics extracts alike).

    Scale rationale: the audit is ONE partial-aggregable groupBy over
    the quasi-identifier tuple (map-side combine collapses each class
    to a count) plus a 3-row band rollup; the dimension join
    broadcasts.  At 100 TB the class-size histogram is exactly this
    dataflow, and the k-threshold sweep reuses the same aggregate.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    qi = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("grp_size"))
    )
    audit = qi.select(
        F.when(F.col("grp_size") >= 10, F.lit("k10_safe"))
        .when(F.col("grp_size") >= 5, F.lit("k5_only"))
        .otherwise(F.lit("unsafe"))
        .alias("k_band"),
        "grp_size",
    )
    return audit.groupBy("k_band").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("grp_size").alias("n_rows"),
        F.min("grp_size").alias("min_group"),
        F.max("grp_size").alias("max_group"),
    )


# ---------------------------------------------------------------------------
# Content-addressed train/valid/test split (deterministic, portable).
# ---------------------------------------------------------------------------


@register(
    "q_content_split",
    tags=("A1", "P5", "X5", "FN-string"),
    oracle="""
WITH h AS (
  SELECT source,
         ('0x' || substr(md5(text), 1, 6))::BIGINT % 100 AS bucket
  FROM documents
),
tagged AS (
  SELECT source,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM h
)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n
FROM tagged GROUP BY source, split
""",
)
def q_content_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 80/10/10 split: the split bucket is a pure
    function of md5(text) — NOT a seeded RNG — so (a) any engine, any
    language, any re-run assigns the identical split (this oracle
    proves it cross-engine, unlike the rand(seed)-based
    q_train_test_split which is rows-only by necessity), and (b)
    byte-identical duplicate documents land in the SAME split, closing
    the classic train/test leakage hole that row-position or RNG
    splits leave open.  Reported as per-source split counts.

    Scale rationale: one hash + modulo per row (zero-shuffle map) and
    a partial-aggregable rollup; the split column travels with the row
    into downstream joins — no forked scans, no sampling pass.
    """
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "source",
        (
            F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast("long") % 100
        ).alias("bucket"),
    )
    tagged = h.select(
        "source",
        F.when(F.col("bucket") < 80, F.lit("train"))
        .when(F.col("bucket") < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted downsampling to a target mixture.
# ---------------------------------------------------------------------------


@register(
    "q_weighted_sample",
    tags=("A1", "P5", "X5"),
    oracle="""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
t AS (
  SELECT source, n_docs,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
  FROM c
),
w AS (
  SELECT source,
         LEAST(CAST((1000000 // n_sources) * 1000000 //
                    GREATEST(n_docs * 1000000 // total_docs, 1) AS BIGINT),
               1000000) AS keep_ppm
  FROM t
),
kept AS (
  SELECT d.source
  FROM documents d JOIN w ON d.source = w.source
  WHERE ('0x' || substr(md5(d.text), 1, 6))::BIGINT % 1000000 < w.keep_ppm
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept GROUP BY source
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted downsampling to a uniform source
    mixture: q_mixture_weights' keep rate (capped at 1) applied
    through the content-hash gate — a document survives iff
    md5(text) % 1e6 < keep_ppm, so the sample is reproducible in any
    engine, stable across re-ingestion, and duplicate documents are
    kept or dropped TOGETHER (the q_content_split leak-closing
    property, applied to mixture rebalancing).

    Scale rationale: the weight table is source-cardinality
    (broadcast); the filter is one hash + compare per row,
    zero-shuffle, followed by a partial-aggregable count.  This is the
    entire 100 TB mixture-rebalance job: no shuffle of the corpus at
    all.  (Downsample-only by design — upsampling repeats rows, which
    is a generator concern, not a filter.)
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(Window.partitionBy()).alias("total_docs"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_sources"),
    )
    w = t.select(
        "source",
        F.least(
            # GREATEST guard: see q_mixture_weights (sub-ppm source)
            F.expr(
                "CAST((1000000 div n_sources) * 1000000 div "
                "GREATEST(n_docs * 1000000 div total_docs, 1) AS BIGINT)"
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("keep_ppm"),
    )
    kept = d.join(F.broadcast(w), "source").filter(
        F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast("long")
        % 1_000_000
        < F.col("keep_ppm")
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# ---------------------------------------------------------------------------
# Snapshot diff: reconcile two table versions into add/remove/change.
# ---------------------------------------------------------------------------


@register(
    "q_snapshot_diff",
    tags=("J10", "A1", "P5"),
    oracle="""
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 3
              THEN CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5)
                        // 10 AS DOUBLE) / 100.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 100 <> 7
),
d AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         CASE WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN a.o_totalprice <> b.o_totalprice
                   OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM orders a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY change
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions (v2 = orders
    with 10% re-priced and 1% deleted — the q_merge_upsert change
    spec) into added / removed / changed / unchanged counts — the
    data-diff audit every pipeline runs after a backfill or migration
    to prove the blast radius matched the intent.

    Scale rationale: one full-outer join on the key (co-shuffled or
    bucketed, the q_merge_upsert shape) with codegen'd column
    comparisons and a 4-row rollup.  The price comparison is exact
    because both versions derive from the same integer cent math —
    floats are compared only for identity, never recomputed
    differently.  At 100 TB add a per-column xxhash64 digest to
    compare wide rows with one comparison per row.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    _cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    v2 = (
        o.filter(F.expr("o_orderkey % 100 <> 7"))
        .select(
            "o_orderkey",
            F.when(
                F.expr("o_orderkey % 10 = 3"),
                F.expr(f"CAST(({_cents} * 11 + 5) div 10 AS DOUBLE) / 100.0"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    a = o.toDF("k_a", "price_a", "status_a")
    b = v2.toDF("k_b", "price_b", "status_b")
    d = a.join(b, a["k_a"] == b["k_b"], "full_outer").select(
        F.when(F.col("k_b").isNull(), F.lit("removed"))
        .when(F.col("k_a").isNull(), F.lit("added"))
        .when(
            (F.col("price_a") != F.col("price_b"))
            | (F.col("status_a") != F.col("status_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change")
    )
    return d.groupBy("change").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Binary format sniffing: real magic-byte classification on binary cols.
# ---------------------------------------------------------------------------

#: (tag, magic-bytes hex) — real file-format signatures.
_MAGICS = [
    ("png", "89504E470D0A1A0A"),
    ("jpeg", "FFD8FFE0"),
    ("gif", "47494638"),
    ("pdf", "25504446"),
]


@register(
    "q_binary_magic",
    tags=("X4", "P5", "FN-string"),
    oracle=f"""
WITH b AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN from_hex('{_MAGICS[0][1]}')
           WHEN 1 THEN from_hex('{_MAGICS[1][1]}')
           WHEN 2 THEN from_hex('{_MAGICS[2][1]}')
           ELSE from_hex('{_MAGICS[3][1]}')
         END || encode(text) AS payload
  FROM documents
),
sniffed AS (
  SELECT doc_id, octet_length(payload) AS n_bytes,
         CASE
           WHEN substr(hex(payload), 1, 16) = '{_MAGICS[0][1]}' THEN 'png'
           WHEN substr(hex(payload), 1, 8) = '{_MAGICS[1][1]}' THEN 'jpeg'
           WHEN substr(hex(payload), 1, 8) = '{_MAGICS[2][1]}' THEN 'gif'
           WHEN substr(hex(payload), 1, 8) = '{_MAGICS[3][1]}' THEN 'pdf'
           ELSE 'unknown'
         END AS format
  FROM b
)
SELECT format,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM sniffed GROUP BY format
""",
)
def q_binary_magic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary format sniffing on opaque payload columns: build binary
    blobs carrying REAL file-format magic bytes (PNG/JPEG/GIF/PDF
    signatures prepended to the text payload), then classify each blob
    by inspecting its leading bytes — the container-detection pass a
    multimodal ingest runs before routing blobs to format-specific
    decoders (and, unlike the stubbed decode in
    operators/multimodal.py, this byte-level logic is fully real).

    Scale rationale: binary construction and sniffing are per-row
    byte ops (concat/substring/hex — codegen'd, zero-shuffle) over the
    pruned text column; the rollup is partial-aggregable.  At 100 TB
    of media this is the map stage that partitions the corpus by
    container type without decoding anything.
    """
    d = load_table(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.expr(f"X'{_MAGICS[0][1]}'"))
        .when(F.col("doc_id") % 4 == 1, F.expr(f"X'{_MAGICS[1][1]}'"))
        .when(F.col("doc_id") % 4 == 2, F.expr(f"X'{_MAGICS[2][1]}'"))
        .otherwise(F.expr(f"X'{_MAGICS[3][1]}'"))
    )
    b = d.select(
        "doc_id",
        F.concat(magic, F.encode(F.col("text"), "UTF-8")).alias("payload"),
    )
    sniffed = b.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.when(
            F.substring(F.hex("payload"), 1, 16) == _MAGICS[0][1], "png"
        )
        .when(F.substring(F.hex("payload"), 1, 8) == _MAGICS[1][1], "jpeg")
        .when(F.substring(F.hex("payload"), 1, 8) == _MAGICS[2][1], "gif")
        .when(F.substring(F.hex("payload"), 1, 8) == _MAGICS[3][1], "pdf")
        .otherwise("unknown")
        .alias("format"),
    )
    return sniffed.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization for web-corpus dedup.
# ---------------------------------------------------------------------------


@register(
    "q_url_canonicalize",
    tags=("FN-string", "X1", "A1"),
    oracle="""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
         || '.COM/Path' || CAST(doc_id % 13 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN '?utm_source=feed&utm_campaign=x&id='
                      || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR) END
         AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '^https?://(www\\.)?', ''),
                 '&utm_[^&]*', '', 'g'),
               '\\?utm_[^&]*&', '?', 'g'),
             '\\?utm_[^&]*$', ''),
           '/(\\?|$)', '\\1') AS curl
  FROM raw
)
SELECT curl, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM canon GROUP BY curl
""",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase, strip scheme
    and www., drop utm_* tracking parameters, trim trailing slashes —
    then group by canonical URL (keeping the smallest doc id) so that
    the same page crawled under cosmetically different URLs collapses
    to one representative.  The URLs are synthesized deterministically
    from doc ids (identical expressions both engines), with collisions
    by construction so the dedup actually fires.

    Scale rationale: canonicalization is a chain of per-row regexp
    rewrites (codegen'd, zero-shuffle — and the SAME regex dialect
    subset runs in both engines: anchored groups, no lookarounds);
    the dedup groupBy collapses map-side on the canonical key exactly
    like q_exact_dedup_docs does on content hashes.  In a real crawl
    pipeline this runs BEFORE content dedup — URL collapse is ~free,
    content hashing costs a full read.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.expr(
            "concat('HTTPS://WWW.Example', CAST(doc_id % 7 AS STRING), "
            "'.COM/Path', CAST(doc_id % 13 AS STRING), "
            "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END, "
            "CASE WHEN doc_id % 2 = 0 "
            "THEN concat('?utm_source=feed&utm_campaign=x&id=', "
            "CAST(doc_id % 5 AS STRING)) "
            "ELSE concat('?id=', CAST(doc_id % 5 AS STRING)) END)"
        ).alias("url"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("url")), r"^https?://(www\.)?", ""
                    ),
                    r"&utm_[^&]*",
                    "",
                ),
                r"\?utm_[^&]*&",
                "?",
            ),
            r"\?utm_[^&]*$",
            "",
        ),
        r"/(\?|$)",
        "$1",
    )
    canon = raw.select("doc_id", curl.alias("curl"))
    return canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
    )


#: single source for both the oracle VALUES clause and the broadcast
#: DataFrame below — the two formulations cannot drift apart.
_SENTIMENT_LEXICON: tuple[tuple[str, int], ...] = (
    ("fast", 2),
    ("small", 1),
    ("slow", -2),
    ("big", -1),
    ("dup", -3),
)
_LEXICON_VALUES = ", ".join(f"('{w}', {wt})" for w, wt in _SENTIMENT_LEXICON)


@register(
    "q_lexicon_sentiment",
    tags=("X5", "J3", "A1"),
    oracle=f"""
WITH lexicon(word, weight) AS (
  VALUES {_LEXICON_VALUES}
),
toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(SUM(weight) AS BIGINT) AS sentiment
  FROM toks JOIN lexicon ON tok = word
  GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       COALESCE(n_hits, 0) AS n_hits,
       COALESCE(sentiment, 0) AS sentiment,
       CASE WHEN COALESCE(sentiment, 0) > 0 THEN 'positive'
            WHEN COALESCE(sentiment, 0) < 0 THEN 'negative'
            ELSE 'neutral' END AS label
FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
""",
)
def q_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring — the X5 operator SURVEY.md §2
    names verbatim ('lexicon-based sentiment score = token join
    against a lexicon table + sum(weight) per doc'; grounding:
    "Large Scale Sentiment Analysis on Twitter with Spark", EDBT'16,
    PAPERS.md:6): explode tokens, equi-join a signed word-weight
    lexicon, sum weights per document, classify by sign.  Zero-hit
    documents survive via a left join with COALESCE(0) — a sentiment
    report that silently drops neutral documents is wrong.

    Scale rationale: the lexicon is a constant-sized broadcast (real
    lexicons are 10⁴-10⁵ rows — still broadcast territory), so token
    scoring is a map-side hash probe with no shuffle; the per-doc sum
    shuffles once on doc_id, and the final enrich joins the scored
    aggregate (≤ |docs|) back to the document list on the same key.
    Integer weights keep every engine's sum exact."""
    d = load_table(spark, sf_dir, "documents")
    lexicon = spark.createDataFrame(
        list(_SENTIMENT_LEXICON), "word string, weight int"
    )
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    scored = (
        toks.join(F.broadcast(lexicon), F.col("tok") == F.col("word"))  # bounded: constant lexicon
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("h"),
            F.sum("weight").cast("long").alias("s"),
        )
    )
    sent = F.coalesce(F.col("s"), F.lit(0).cast("long"))
    return (
        d.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("h"), F.lit(0).cast("long")).alias("n_hits"),
            sent.alias("sentiment"),
            F.when(sent > 0, "positive")
            .when(sent < 0, "negative")
            .otherwise("neutral")
            .alias("label"),
        )
    )
