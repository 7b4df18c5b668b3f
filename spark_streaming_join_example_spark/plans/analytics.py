"""Round-4 analytics surface: data-layout clustering, iterative graph
ranking, time-series smoothing/interpolation, corpus vocabulary
statistics, and robust (winsorized) aggregation.

Determinism doctrine (same as the rest of the registry): every query
here is arithmetic-identical between the Spark and DuckDB
formulations — integer/fixed-point math wherever a sum crosses a
shuffle boundary, explicit tie-breaks on every top-k, and float
expressions written term-for-term in the same order on both sides so
IEEE evaluation is bit-identical.  That is also the 100 TB property:
results do not move when the partition count does.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import VALUE, exact_sum, oracle_exact_sum
from ..operators.ranking import global_cumsum, global_ntile, global_row_number
from ..sources.batch import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# O3/P1 — Z-order (Morton) layout statistics.
# ---------------------------------------------------------------------------

_ZBITS = 4  # 4 bits per dimension → 8-bit Morton code, 256 z-values


def _morton_sql(bx: str, by: str) -> str:
    """8-bit Morton interleave of two 4-bit bucket ids, written with
    only integer // and % so Spark (`div`) and DuckDB (`//`) evaluate
    the identical arithmetic."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(({bx} {{d}} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({by} {{d}} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@register(
    "q_zorder_stats",
    tags=("O3", "P1", "A1"),
    oracle=f"""
WITH z AS (
  SELECT {_morton_sql('(l_partkey % 16)', '(l_suppkey % 16)').format(d='//')} AS zval,
         l_extendedprice
  FROM lineitem
)
SELECT CAST(zval // 4 AS INT) AS zcell,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(zval) AS INT) AS z_lo,
       CAST(MAX(zval) AS INT) AS z_hi,
       {oracle_exact_sum('l_extendedprice')} AS sum_price
FROM z
GROUP BY 1
""",
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) curve statistics over (l_partkey, l_suppkey)
    buckets: interleave 4 bits of each key into an 8-bit z-value and
    aggregate per 4-z-value cell.

    Scale rationale: Z-ordering is THE multi-dimensional data-layout
    tool at 100 TB — `repartitionByRange(zval)` +
    `sortWithinPartitions(zval)` before the write clusters rows so
    parquet row-group min/max footers prune scans on EITHER predicate
    column (a single-column sort prunes only one).  This query is the
    layout's audit: each z-cell's count and key spread show the
    clustering the writer would produce.  The z-value itself is pure
    integer bit-arithmetic — no UDF, whole-stage-codegen'd, identical
    in any engine.
    """
    li = _t(spark, sf_dir, "lineitem")
    z = li.select(
        F.expr(
            _morton_sql("(l_partkey % 16)", "(l_suppkey % 16)").format(d="div")
        ).alias("zval"),
        "l_extendedprice",
    )
    return (
        z.groupBy(F.expr("CAST(zval div 4 AS INT)").alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zval").cast("int").alias("z_lo"),
            F.max("zval").cast("int").alias("z_hi"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# J5/A1 (iterative) — fixed-point PageRank on the part co-purchase graph.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # rank unit = 1e-12


@register(
    "q_pagerank",
    tags=("J5", "A1", "X2"),
    oracle=f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
deg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
),
r0 AS MATERIALIZED (
  SELECT node, {_PR_SCALE} // n_nodes AS r FROM nodes CROSS JOIN nn
),
c1 AS (
  SELECT e.dst, SUM(r0.r // d.outdeg) AS c
  FROM edges e JOIN r0 ON r0.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r1 AS MATERIALIZED (
  SELECT nodes.node,
         (15 * ({_PR_SCALE} // n_nodes)) // 100
           + (85 * COALESCE(c1.c, 0)) // 100 AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node
),
c2 AS (
  SELECT e.dst, SUM(r1.r // d.outdeg) AS c
  FROM edges e JOIN r1 ON r1.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT nodes.node,
         (15 * ({_PR_SCALE} // n_nodes)) // 100
           + (85 * COALESCE(c2.c, 0)) // 100 AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node
)
SELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_e12
FROM r2 ORDER BY r DESC, node LIMIT 20
""",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed iterations of PageRank (d=0.85) over the co-purchase
    part graph (parts sharing an order — suppliers were tried first but
    their co-order graph is COMPLETE on these fixtures, which collapses
    PageRank to uniform ranks; the 2000-node part graph has a 42..206
    degree spread), in pure INTEGER fixed-point
    (rank unit 1e-12) so the result is bit-identical at any partition
    count and in any engine — floating-point PageRank is famously
    non-reproducible because contribution sums reorder.

    Scale rationale: each iteration is one shuffle of |edges| keyed by
    dst (partial-aggregable integer SUM) plus a broadcast-able
    node/degree side; the edge list is the shared co-purchase build
    (plans/copurchase.py), keyed on l_orderkey, never all-pairs.  The
    graph is symmetric, so every node has outdeg ≥ 1 — no dangling-mass
    redistribution term is needed (documented deviation from the
    full PageRank formulation).  Iteration count is fixed (2), so the
    whole computation is one declarative plan — no driver-side
    convergence probe.

    Iterative-plan hygiene: without persistence Catalyst re-derives the
    edge list from the parquet scan once per reference (5× here — the
    classic iterative-algorithm trap; exchange reuse does not rescue
    identical subtrees under AQE reliably), so the loop-invariant
    edges/degrees are persisted once.  The per-iteration rank/degree/
    contribution sides are NODE-cardinality: hard broadcast hints on
    them would OOM the executors at ~10⁹ nodes, so the joins carry no
    hints — AQE's size-gated broadcast picks the hash-join locally
    while the same plan degrades gracefully to co-partitioned shuffle
    joins at web scale (the triangle-count discipline); edges stay the
    only edge-cardinality shuffle either way.
    """
    from .copurchase import copurchase_edges

    edges = (
        copurchase_edges(spark, sf_dir)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .persist()
    )
    # r15 iteration restructure (guide §2.4, A/B in
    # OPTIMIZATION_r15.md §3): ONE persisted groupBy("src") yields the
    # degree table AND the node set (the graph is symmetric, so every
    # node appears as src) — the separate nodes-distinct shuffle over
    # edges disappears — and the per-src quotient ``r div outdeg`` is
    # computed at NODE cardinality (r ⋈ deg, both node-sized) BEFORE
    # touching edges, so each iteration joins the edge relation
    # exactly once into the dst-keyed sum instead of twice.  Per-edge
    # addends are unchanged integers (r div outdeg depends only on
    # src), so the result is bit-identical to the two-join form.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
        .persist()
    )
    nodes = deg.select(F.col("src").alias("node"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))

    r = nodes.crossJoin(nn).select(
        "node", F.expr(f"{_PR_SCALE} div n_nodes").alias("r")
    )
    for _ in range(2):
        quot = r.join(deg, r.node == deg.src).select(
            "src", F.expr("r div outdeg").alias("q")
        )
        contrib = edges.join(quot, "src").groupBy("dst").agg(
            F.sum("q").alias("c")
        )
        r = (
            nodes.crossJoin(nn)
            .join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                F.expr(
                    f"(15 * ({_PR_SCALE} div n_nodes)) div 100"
                    " + (85 * coalesce(c, 0)) div 100"
                ).alias("r"),
            )
        )
    return (
        r.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("p_partkey"), F.col("r").alias("rank_e12"))
    )


# ---------------------------------------------------------------------------
# W2/W3 — bounded-depth EWMA (exponentially weighted moving average).
# ---------------------------------------------------------------------------

_EWMA_W = 0.6
_EWMA_K = 8


def _ewma_weights() -> list[float]:
    return [_EWMA_W**k for k in range(_EWMA_K)]


@register(
    "q_ewma",
    tags=("W2", "W3", "FN-math"),
    oracle=f"""
WITH p AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
       CAST(round((({
           ' + '.join(
               f"COALESCE(lag(value, {k}) OVER w * {w!r}, 0.0)"
               for k, w in enumerate(_ewma_weights())
           )
       }) / ({
           ' + '.join(
               f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL"
               f" THEN {w!r} ELSE 0.0 END"
               for k, w in enumerate(_ewma_weights())
           )
       })) * 1000000.0) AS BIGINT) AS ewma_e6
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth EWMA (w=0.6, depth 8) of purchase values per user,
    normalized over the weights actually present — the streaming-native
    smoother (each row needs only the last K rows, so state is bounded;
    the unbounded-recursion EWMA is NOT partition-safe).

    Determinism: the weighted sum is written as the SAME left-to-right
    chain of 8 terms in both engines, with weight literals emitted via
    ``repr`` so both sides parse to the identical double — IEEE
    addition order matches, the quotient matches bit-for-bit, and the
    micro-unit rounding is stable.  Scale: one window shuffle keyed by
    user_id; no unbounded frame, no Python.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num_terms = [
        F.coalesce(F.lag("value", k).over(win) * F.lit(w), F.lit(0.0))
        for k, w in enumerate(_ewma_weights())
    ]
    den_terms = [
        F.when(F.lag("value", k).over(win).isNotNull(), F.lit(w)).otherwise(
            F.lit(0.0)
        )
        for k, w in enumerate(_ewma_weights())
    ]
    num = reduce(lambda x, y: x + y, num_terms)
    den = reduce(lambda x, y: x + y, den_terms)
    return e.select(
        "user_id",
        "event_id",
        F.round((num / den) * F.lit(1000000.0)).cast("long").alias("ewma_e6"),
    )


# ---------------------------------------------------------------------------
# J10/W2 — linear interpolation over a dense time spine.
# ---------------------------------------------------------------------------


@register(
    "q_interpolate",
    tags=("J10", "W2", "FN-datetime"),
    oracle="""
WITH e2 AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         CAST(round(value * 1000000.0) AS BIGINT) AS microval
  FROM events
),
agg AS MATERIALIZED (
  SELECT hr, event_type, CAST(SUM(microval) // COUNT(*) AS BIGINT) AS v_e6
  FROM e2 GROUP BY hr, event_type
),
b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM e2),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b
),
types AS (SELECT DISTINCT event_type FROM e2),
grid AS (
  SELECT s.hr, t.event_type, a.v_e6,
         epoch_us(s.hr) // 3600000000 AS hk
  FROM spine s CROSS JOIN types t
  LEFT JOIN agg a ON a.hr = s.hr AND a.event_type = t.event_type
),
nb AS (
  SELECT hr, event_type, v_e6, hk,
         last_value(v_e6 IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v_e6 IS NOT NULL THEN hk END IGNORE NULLS)
           OVER wp AS pk,
         first_value(v_e6 IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v_e6 IS NOT NULL THEN hk END IGNORE NULLS)
           OVER wn AS nk
  FROM grid
  WINDOW wp AS (PARTITION BY event_type ORDER BY hk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY hk
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT hr, event_type,
       CASE WHEN v_e6 IS NOT NULL THEN v_e6
            ELSE pv + CAST(round((nv - pv) * 1.0 * (hk - pk) / (nk - pk))
                           AS BIGINT)
       END AS val_e6,
       CAST(v_e6 IS NULL AS INT) AS interp
FROM nb
WHERE v_e6 IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
""",
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hourly buckets per event type:
    dense hour spine, then each gap hour gets the straight line between
    its nearest observed neighbors (leading/trailing gaps are dropped —
    extrapolation is a modeling choice, not a resample).

    This is the other half of q_gap_fill's resampler (zeros → lines).
    Determinism: hourly means are integer micro-units (floor division —
    both engines floor on non-negative operands); the interpolation
    weight is computed in doubles from exact small integers, identical
    bits both sides, then rounded half-away-from-zero in both.  Scale:
    one hash aggregate + two bounded-frame windows keyed by event_type;
    the spine is derived from a 1-row global agg.
    """
    e = _t(spark, sf_dir, "events")
    e2 = e.select(
        F.date_trunc("hour", "ts").alias("hr"),
        "event_type",
        F.round(F.col("value") * 1000000.0).cast("long").alias("microval"),
    )
    agg = e2.groupBy("hr", "event_type").agg(
        F.expr("CAST(SUM(microval) div COUNT(*) AS BIGINT)").alias("v_e6")
    )
    bounds = e2.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = e2.select("event_type").distinct()
    grid = (
        spine.crossJoin(types)
        .join(agg, ["hr", "event_type"], "left")
        .withColumn("hk", F.expr("unix_micros(hr) div 3600000000"))
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hk")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hk = F.when(F.col("v_e6").isNotNull(), F.col("hk"))
    nb = grid.select(
        "hr",
        "event_type",
        "v_e6",
        "hk",
        F.last("v_e6", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_hk, ignorenulls=True).over(wp).alias("pk"),
        F.first("v_e6", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_hk, ignorenulls=True).over(wn).alias("nk"),
    )
    line = F.col("pv") + F.round(
        (F.col("nv") - F.col("pv"))
        * F.lit(1.0)
        * (F.col("hk") - F.col("pk"))
        / (F.col("nk") - F.col("pk"))
    ).cast("long")
    return nb.filter(
        F.col("v_e6").isNotNull()
        | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
    ).select(
        "hr",
        "event_type",
        F.when(F.col("v_e6").isNotNull(), F.col("v_e6"))
        .otherwise(line)
        .alias("val_e6"),
        F.col("v_e6").isNull().cast("int").alias("interp"),
    )


# ---------------------------------------------------------------------------
# X5/O2 — vocabulary coverage (Zipf head) of the document corpus.
# ---------------------------------------------------------------------------


@register(
    "q_vocab_coverage",
    tags=("X5", "O2", "W1"),
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
freq AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
ranked AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS rank,
         SUM(n) OVER (ORDER BY n DESC, token
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM freq
)
SELECT CAST(rank AS BIGINT) AS rank, token, n,
       CAST((cum * 1000000) // total AS BIGINT) AS cum_ppm
FROM ranked CROSS JOIN tot
WHERE rank <= 100
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the top-100 tokens by corpus
    frequency with their cumulative share of all tokens (ppm) — the
    Zipf-head diagnostic that tells an LM-data pipeline how much of the
    corpus a small vocabulary already covers.

    All-integer output (rank, count, ppm via integer division) — no
    float crosses the hash gate.  Scale: token counting is a hash
    aggregate over the exploded corpus; only the 100-row head is ever
    ranked, so the head is taken FIRST with a distributed top-100
    (TakeOrderedAndProject — per-partition heads, merged) and the
    rank/cumulative window runs over those 100 rows only.  The head's
    running sum equals the global running sum for those rows by
    construction (they ARE the first 100 of the total order), so this
    is lossless vs windowing the whole vocabulary — no vocab-sized
    single-partition pass anywhere; only the total-token count scans
    the full vocab (one partial aggregate).
    """
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = freq.agg(F.sum("n").alias("total"))
    head = freq.orderBy(F.col("n").desc(), "token").limit(100)
    w = Window.orderBy(F.col("n").desc(), "token")
    ranked = head.select(
        "token",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    return ranked.crossJoin(tot).select(
        F.col("rank").cast("long").alias("rank"),
        "token",
        "n",
        F.expr("CAST((cum * 1000000) div total AS BIGINT)").alias("cum_ppm"),
    )


# ---------------------------------------------------------------------------
# J9 — dual correlated EXISTS / NOT EXISTS (TPC-H Q21 shape).
# ---------------------------------------------------------------------------


@register(
    "q_late_supplier_blame",
    tags=("J9", "J5", "O2"),
    oracle="""
WITH li_o AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_name,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM li_o l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM li_o l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li_o l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def q_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely to blame for late multi-supplier orders
    (TPC-H Q21 shape re-expressed on the fixture schema: "late" =
    shipped more than 90 days after the order date): EXISTS another
    supplier on the order, NOT EXISTS another LATE supplier.

    Spark-first: the correlated EXISTS pair becomes a left-semi plus a
    left-anti join against the same projected (orderkey, suppkey, late)
    relation — both shuffle on l_orderkey, so with AQE they share the
    exchange; the supplier dimension broadcasts.  Count semantics
    follow TPC-H: one row per late lineitem occurrence.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    li_o = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias(
            "late"
        ),
    )
    l1 = li_o.filter("late").alias("l1")
    others = li_o.select("l_orderkey", "l_suppkey").alias("l2")
    late_others = li_o.filter("late").select("l_orderkey", "l_suppkey").alias("l3")
    cond2 = (F.col("l1.l_orderkey") == F.col("l2.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l2.l_suppkey")
    )
    cond3 = (F.col("l1.l_orderkey") == F.col("l3.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l3.l_suppkey")
    )
    blamed = l1.join(others, cond2, "left_semi").join(
        late_others, cond3, "left_anti"
    )
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A1/W1 — winsorized (clipped) aggregation with discrete percentiles.
# ---------------------------------------------------------------------------


@register(
    "q_winsorized_agg",
    tags=("A1", "W1", "FN-math"),
    oracle=f"""
WITH r AS MATERIALIZED (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS lo,
         MIN(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS hi
  FROM r GROUP BY event_type
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN r.value < b.lo THEN 1 END) AS BIGINT)
         AS n_clip_lo,
       CAST(COUNT(CASE WHEN r.value > b.hi THEN 1 END) AS BIGINT)
         AS n_clip_hi,
       {oracle_exact_sum('LEAST(GREATEST(r.value, b.lo), b.hi)', VALUE)}
         AS sum_winsorized
FROM r JOIN bounds b ON b.event_type = r.event_type
GROUP BY r.event_type
""",
)
def q_winsorized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized sum of event values per type: clip to the discrete
    5th/95th percentile values, then aggregate — the robust-statistics
    primitive that keeps heavy-tailed telemetry from letting a few
    outliers own the sum.

    DISCRETE percentiles by construction: the bound IS a value that
    occurs (row_number selection with an event_id tie-break), so no
    interpolation arithmetic exists to drift between engines —
    interpolated percentile_cont differs in last-ulp between
    implementations and would break the hash gate.  The index formula
    ceil(p*n) is pure integer ((5n+99)//100).  Scale: one window
    shuffle keyed by event_type (AQE splits skewed types), a 5-row
    bounds broadcast back, then a partial-aggregable exact sum.
    """
    e = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    bounds = r.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(5 * n + 99) div 100"), F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(F.col("rn") == F.expr("(95 * n + 99) div 100"), F.col("value"))
        ).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        r.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clip_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clip_hi"),
            exact_sum(clipped, VALUE).alias("sum_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# J6/J9 — Pareto skyline (dominance anti-join) per blocking group.
# ---------------------------------------------------------------------------


@register(
    "q_skyline",
    tags=("J6", "J9", "O2"),
    oracle="""
SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
""",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier per brand: parts not dominated on
    (minimize retail price, maximize size) — the multi-objective
    shortlist operator (cheapest-per-capability catalog pruning).

    Spark-first: dominance is a correlated NOT EXISTS → one left-anti
    theta join whose equi-component (p_brand) is the shuffle key, so
    the quadratic dominance test stays inside blocking groups — the
    same bounded-block discipline as q_levenshtein_fuzzy.  At 100 TB
    the group key bounds the work; a global (unblocked) skyline would
    need the sort-filter-scan algorithm instead.  Double comparisons
    are exact (no arithmetic, just ordering).
    """
    p = _t(spark, sf_dir, "part").alias("p")
    q = _t(spark, sf_dir, "part").alias("q")
    dominated = (
        (F.col("q.p_brand") == F.col("p.p_brand"))
        & (F.col("q.p_retailprice") <= F.col("p.p_retailprice"))
        & (F.col("q.p_size") >= F.col("p.p_size"))
        & (
            (F.col("q.p_retailprice") < F.col("p.p_retailprice"))
            | (F.col("q.p_size") > F.col("p.p_size"))
        )
    )
    return p.join(q, dominated, "left_anti").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )


# ---------------------------------------------------------------------------
# A1/FN-math — z-score anomaly flagging from exact integer moments.
# ---------------------------------------------------------------------------


@register(
    "q_anomaly_zscore",
    tags=("A1", "FN-math", "W1"),
    oracle="""
WITH c AS (
  SELECT event_type, event_id,
         CAST(round(value * 100.0) AS BIGINT) AS xc
  FROM events
),
m AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(xc * xc) AS BIGINT) AS s2
  FROM c GROUP BY event_type
),
f AS (
  SELECT c.event_type, c.xc,
         (CAST(m.n * c.xc - m.s1 AS DOUBLE)
          * CAST(m.n * c.xc - m.s1 AS DOUBLE))
           > (9.0 * (CAST(m.n AS DOUBLE) * CAST(m.s2 AS DOUBLE)
                     - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)))
           AS is_anomaly
  FROM c JOIN m ON m.event_type = c.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN is_anomaly THEN 1 END) AS BIGINT) AS n_anomalies,
       MIN(CASE WHEN is_anomaly THEN xc END) AS min_anomaly_c,
       MAX(CASE WHEN is_anomaly THEN xc END) AS max_anomaly_c
FROM f GROUP BY event_type
""",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population 3-sigma outlier flagging per event type, with the
    moments (n, Σx, Σx²) accumulated as EXACT integers in centi-units —
    float moment sums reorder across partitions and make "is this row
    an anomaly?" nondeterministic right at the threshold; integer sums
    don't.  The final |x-μ| > 3σ test is algebraically cleared of
    divisions and sqrt: (n·x − S1)² > 9·(n·S2 − S1²), evaluated in
    doubles CONVERTED FROM the same exact integers on both engines, so
    every comparison sees bit-identical operands.

    Scale: one partial-aggregable moment pass, a 5-row broadcast back,
    one more aggregate.  Envelope: BIGINT Σx² holds to ~1e9 rows/group
    at these magnitudes; past that swap S2 to DECIMAL(38,0) — same
    shape, wider lane.
    """
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("xc"),
    )
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).cast("long").alias("s2"),
    )
    f = c.join(F.broadcast(m), "event_type").select(
        "event_type",
        "xc",
        (
            (
                F.expr("CAST(n * xc - s1 AS DOUBLE)")
                * F.expr("CAST(n * xc - s1 AS DOUBLE)")
            )
            > (
                F.lit(9.0)
                * (
                    F.expr("CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)")
                    - F.expr("CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)")
                )
            )
        ).alias("is_anomaly"),
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("is_anomaly"), 1)).alias("n_anomalies"),
        F.min(F.when(F.col("is_anomaly"), F.col("xc"))).alias("min_anomaly_c"),
        F.max(F.when(F.col("is_anomaly"), F.col("xc"))).alias("max_anomaly_c"),
    )


# ---------------------------------------------------------------------------
# X5/O2 — collocation extraction via integer PMI lift.
# ---------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 5


@register(
    "q_pmi_collocations",
    tags=("X5", "O2", "J3"),
    oracle=f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
),
grams AS MATERIALIZED (
  SELECT t[i] AS w1, t[i+1] AS w2, t[i] || ' ' || t[i+1] AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) u
),
uni AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
),
bi AS (
  SELECT gram, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM grams GROUP BY gram, w1, w2
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t_uni FROM uni)
SELECT b.gram, b.n_ab,
       CAST((b.n_ab * tot.t_uni * 1000000) // (ua.n * ub.n) AS BIGINT)
         AS lift_ppm
FROM bi b
JOIN uni ua ON ua.token = b.w1
JOIN uni ub ON ub.token = b.w2
CROSS JOIN tot
WHERE b.n_ab >= {_PMI_MIN_SUPPORT}
ORDER BY lift_ppm DESC, gram
LIMIT 20
""",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 bigrams by pointwise-mutual-
    information LIFT, P(a,b)/(P(a)·P(b)), computed as the INTEGER
    n_ab·T·1e6 // (n_a·n_b) so ranking and output never touch a float
    log — the phrase-mining primitive for tokenizer/vocabulary
    induction over a training corpus.

    Scale: two hash aggregates (bigram counts, unigram counts); the
    unigram table joins onto the bigram table twice — at corpus scale
    the unigram side is vocabulary-sized and broadcasts (hinted
    implicitly by AQE here; a Zipf-truncated explicit broadcast at
    100 TB).  Min-support 5 prunes the heavy tail before the join.
    TakeOrderedAndProject keeps only 20 rows at the driver.  Integer
    envelope: n_ab·T·1e6 needs BIGINT headroom ~(corpus tokens)²·1e6 —
    beyond ~1e6-token corpora, promote to DECIMAL(38,0) or rescale.
    """
    from .advanced import _bigrams

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(_bigrams(F.col("t"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_SUPPORT)
        .withColumn("w1", F.split("gram", " ")[0])
        .withColumn("w2", F.split("gram", " ")[1])
    )
    tot = uni.agg(F.sum("n").cast("long").alias("t_uni"))
    ua = uni.select(F.col("token").alias("w1"), F.col("n").alias("na"))
    ub = uni.select(F.col("token").alias("w2"), F.col("n").alias("nb"))
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(tot)
        .select(
            "gram",
            "n_ab",
            F.expr("CAST((n_ab * t_uni * 1000000) div (na * nb) AS BIGINT)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.col("lift_ppm").desc(), "gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J9/A1 — scalar-subquery threshold + anti join (TPC-H Q22 shape).
# ---------------------------------------------------------------------------


@register(
    "q_idle_customers",
    tags=("J9", "A1", "P5"),
    oracle="""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) / 100.0 AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(ROUND(c.c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_bal
FROM customer c CROSS JOIN avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_mktsegment
""",
)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers gone quiet (TPC-H Q22 shape): balance
    above the positive-balance average, and no order since 2000-01-01
    — the scalar-subquery-threshold + anti-join combination.  (Every
    fixture customer has SOME order, so the classic "never ordered"
    predicate is vacuous; the recency filter keeps the anti-join's
    probe semantics with a non-degenerate result, and pushes a date
    predicate into the anti-join's build side.)

    Determinism: the average threshold is derived from an exact integer
    centi-unit sum, so both engines compare against the bit-identical
    double.  Scale: the 1-row average broadcasts (BroadcastNestedLoop
    on a single row is free); the NOT EXISTS is a left-anti shuffle
    join on c_custkey; the final agg is 5 groups.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(100.0)
        ).alias("a")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (
                F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# J9/A1 — per-priority EXISTS probe (TPC-H Q4 shape).
# ---------------------------------------------------------------------------


@register(
    "q_order_priority",
    tags=("J9", "A1", "O1"),
    oracle="""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority
""",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one slow lineitem, counted per priority
    class (TPC-H Q4 shape; "slow" = shipped more than 60 days after
    the order date).

    The correlated EXISTS with a cross-table predicate (l_shipdate vs
    o_orderdate) can't pre-reduce the lineitem side alone, so it is a
    left-semi join on l_orderkey with the date comparison in the join
    condition — semi stops probing an order at its first match, and
    the 5-group aggregate is partial-aggregable.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# J5/X2 — local triangle counting (node-iterator on oriented edges).
# ---------------------------------------------------------------------------


@register(
    "q_triangle_count",
    tags=("J5", "X2", "O2"),
    oracle="""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
pernode AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT node AS p_partkey, n_tri
FROM pernode ORDER BY n_tri DESC, node LIMIT 20
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local triangle counts on the part co-purchase graph (top-20
    vertices) — the clustering-coefficient numerator, and the classic
    distributed graph benchmark after PageRank.

    Node-iterator formulation on DEGREE-ORIENTED edges: each edge is
    directed from its lower-(degree, id) endpoint to the higher one,
    which caps every out-degree at O(sqrt(m)) and bounds the wedge
    count at the provable O(m^1.5) — versus Σ deg² for the naive
    id-orientation, the classic blow-up on skewed graphs (and a
    measured 24 s → ~2 s win on this dense co-purchase graph at
    sf0.01).  Orientation by a TOTAL order means each triangle's
    three vertices are linearly ordered a<b<c with edges a→b, a→c,
    b→c; the unique out-degree-2 apex `a` yields the wedge
    (a→b, a→c) with b<c, closed by the oriented edge b→c — every
    triangle found exactly once, no post-hoc dedup.  Per-triangle
    counts are orientation-independent, so the (id-oriented) oracle
    still matches bit-for-bit.

    Both wedge joins stay equi-joins keyed on one column: the wedge
    join co-partitions the cached edge list on the apex, and the
    closure is a left-semi on a packed y·2³²+z key (see inline notes —
    this replaced round-4's edge-list broadcasts, which were an
    edge-cardinality driver shortcut AND 2.2× slower at sf0.1).  Only
    the node-cardinality degree table broadcasts.  The oriented edge
    list is persisted — it feeds three join sides — and the sweep/test
    drivers clear the cache between queries (tools/verify_local.py).
    """
    from .copurchase import copurchase_edges_undirected

    # collect_set inside basket_pairs dedupes (order, part) up front —
    # no separate distinct pre-pass needed; the edge relation comes
    # from the shared builder (bench-scoped memo; identical plan when
    # sharing is off).  r15: read the undirected half directly — the
    # old ``directed.filter(u < v)`` recomputed the mirrored rows just
    # to drop them; the half relation IS the u < v orientation set.
    e0 = copurchase_edges_undirected(spark, sf_dir)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # u < v already, so the du == dv tie resolves to forward.
    fwd = (F.col("du") < F.col("dv")) | (F.col("du") == F.col("dv"))
    # degree sides are NODE-cardinality: no hard broadcast hint (OOMs
    # at ~10⁹ nodes); AQE size-gates the broadcast locally and the
    # plan degrades to co-partitioned shuffle joins at web scale
    e = (
        e0.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
        .persist()
    )
    e1 = e.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.col("ddeg").alias("ydeg")
    )
    e2 = e.select(
        F.col("src").alias("x"), F.col("dst").alias("z"), F.col("ddeg").alias("zdeg")
    )
    # Wedge enumeration as a CO-PARTITIONED shuffle join on the apex
    # (both sides are the same cached edge list keyed on src) — NOT a
    # broadcast of the edge-cardinality relation, which works on one
    # node but is exactly what cannot ship to 1000 executors.  The
    # (deg, id) ordering stays a post-join filter.
    wedge = e1.join(e2, "x").filter(
        (F.col("ydeg") < F.col("zdeg"))
        | ((F.col("ydeg") == F.col("zdeg")) & (F.col("y") < F.col("z")))
    )
    # Close wedges with a semi-join on a SINGLE packed key: (y,z) →
    # y·2³² + z.  One 8-byte join column instead of two halves the
    # shuffle key width and hashes once; measured 8.1 s → 3.6 s at
    # sf0.1 together with the shuffle wedge join.  Envelope: part keys
    # < 2³¹ (true by fixture construction and any practical part
    # dictionary; repack to (y, z) two-column join past that).
    pack = F.lit(4294967296)  # 2^32
    ekey = e.select((F.col("src") * pack + F.col("dst")).alias("yz"))
    tri = (
        wedge.select("x", "y", "z", (F.col("y") * pack + F.col("z")).alias("yz"))
        .join(ekey, "yz", "left_semi")
        .select("x", "y", "z")
    )
    # One pass over the triangle stream: explode the three corners
    # instead of a 3-way unionAll, which would re-run the wedge-close
    # joins once per branch (exchange reuse does not cover the
    # post-join projections).
    nodes = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .orderBy(F.col("n_tri").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("p_partkey"), "n_tri")
    )


# ---------------------------------------------------------------------------
# W1/O2 — reciprocal-rank fusion of two rankings.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000_000


@register(
    "q_rrf_fusion",
    tags=("W1", "O2", "X3"),
    oracle=f"""
WITH ranked AS (
  SELECT p_partkey,
         row_number() OVER (ORDER BY p_retailprice, p_partkey) AS r_price,
         row_number() OVER (ORDER BY p_size DESC, p_partkey) AS r_size
  FROM part
)
SELECT p_partkey,
       CAST(r_price AS BIGINT) AS r_price,
       CAST(r_size AS BIGINT) AS r_size,
       CAST({_RRF_SCALE} // ({_RRF_K} + r_price)
            + {_RRF_SCALE} // ({_RRF_K} + r_size) AS BIGINT) AS rrf_e9
FROM ranked
ORDER BY rrf_e9 DESC, p_partkey
LIMIT 20
""",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent rankings (cheapest
    price, largest size): score = Σ 1/(60+rank), the standard
    hybrid-retrieval combiner (e.g. lexical + vector hit lists) — in
    INTEGER 1e-9 units (floor division) so the fused ordering is
    engine- and partitioning-exact.

    Scale: RRF needs global ranks — in a retrieval setting each
    ranking is already a top-k list, but this registered form ranks
    the whole relation, so both ranks run through
    operators/ranking.global_row_number (range-partitioned two-phase
    rank, broadcast offsets; one range shuffle per ordering) and meet
    again in a co-partitioned equi-join on the key — no
    single-partition sort anywhere; the fused top-20 stays
    TakeOrderedAndProject.
    """
    p = _t(spark, sf_dir, "part")
    by_price = global_row_number(
        p.select("p_partkey", "p_retailprice"),
        ["p_retailprice", "p_partkey"],
        out="r_price",
    ).select("p_partkey", "r_price")
    by_size = global_row_number(
        p.select("p_partkey", "p_size"),
        [F.col("p_size").desc(), "p_partkey"],
        out="r_size",
    ).select("p_partkey", "r_size")
    ranked = by_price.join(by_size, "p_partkey")
    return (
        ranked.select(
            "p_partkey",
            "r_price",
            "r_size",
            F.expr(
                f"CAST({_RRF_SCALE} div ({_RRF_K} + r_price)"
                f" + {_RRF_SCALE} div ({_RRF_K} + r_size) AS BIGINT)"
            ).alias("rrf_e9"),
        )
        .orderBy(F.col("rrf_e9").desc(), "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A1/P1 — column profiling (the data-quality ANALYZE pass).
# ---------------------------------------------------------------------------


@register(
    "q_column_profile",
    tags=("A1", "P1", "X5"),
    oracle="""
SELECT 'event_type' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) - COUNT(event_type) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(value) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT)
FROM events
UNION ALL
SELECT 'props', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(props) AS BIGINT),
       CAST(COUNT(DISTINCT props) AS BIGINT)
FROM events
""",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events table (count / nulls / distinct per
    column) — the data-quality pass every ingestion pipeline runs
    before training on a new source.

    Spark-first: ONE scan computes all per-column aggregates side by
    side (count + conditional-null count + count(distinct col) each),
    then the wide 1-row result unpivots to the (col_name, stats) grain
    with a stack() expression — no per-column re-scan (the naive
    UNION-of-scans shape the oracle uses is fine for DuckDB but reads
    the table four times; at 100 TB single-scan profiling is the only
    viable form).  Distinct counts expand to two-phase aggregates
    under one shuffle each.
    """
    e = _t(spark, sf_dir, "events")
    wide = e.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            c
            for col in ("event_type", "user_id", "value", "props")
            for c in (
                (F.count(F.lit(1)) - F.count(col)).alias(f"null_{col}"),
                F.countDistinct(col).alias(f"dist_{col}"),
            )
        ],
    )
    stack = ", ".join(
        f"'{col}', null_{col}, dist_{col}"
        for col in ("event_type", "user_id", "value", "props")
    )
    return wide.select(
        "n",
        F.expr(
            f"stack(4, {stack}) AS (col_name, n_null, n_distinct)"
        ),
    ).select(
        "col_name",
        F.col("n").cast("long").alias("n"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# §3.2/T5 — optimizer hints through the SQL front door.
# ---------------------------------------------------------------------------


@register(
    "q_hints_battery",
    tags=("J4", "T5", "A1"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total
FROM orders
GROUP BY o_orderpriority
""",
)
def q_hints_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-hint surface through spark.sql(): REBALANCE the scan
    (AQE splits output partitions to target size — the pre-write
    small-file killer), then aggregate.  Hints steer the PHYSICAL plan
    only, so the result is identical to the plain aggregate — which is
    exactly what the oracle checks.

    At 100 TB, `/*+ REBALANCE */` (or REPARTITION(n, col)) before a
    write is how you bound output file counts without a hard
    repartition that fights AQE; the result-identity proven here is
    the property that makes hints safe to sprinkle.
    """
    e = _t(spark, sf_dir, "orders")
    e.createOrReplaceTempView("orders_hintdemo")
    return spark.sql(
        """
        SELECT /*+ REBALANCE */ o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS total
        FROM orders_hintdemo
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# S1/P1 — hidden _metadata columns (file-level lineage).
# ---------------------------------------------------------------------------


@register(
    "q_file_lineage",
    tags=("S1", "P1"),
    oracle="""
SELECT 'events.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
""",
)
def q_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden `_metadata` struct of file-based
    sources: every row knows which file it came from — the lineage
    primitive a 100 TB pipeline uses to trace a bad record back to its
    source shard, quarantine one file, or incremental-reprocess.

    The fixture is a single file, so the profile collapses to one row
    (the oracle pins the same literal); on a sharded table the same
    query yields per-file row counts.  `_metadata` is populated at
    scan time from the file split — no extra I/O.
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# §3.2 — SQL pipe syntax front door (Spark 4).
# ---------------------------------------------------------------------------


@register(
    "q_sql_pipe",
    tags=("A1", "P2"),
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total
FROM orders
WHERE o_totalprice > 1000.0
GROUP BY o_orderstatus
""",
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 SQL *pipe syntax* front door (`FROM t |> WHERE …
    |> AGGREGATE … GROUP BY …`) — the composable query form, checked
    for exact equality with its classic-SQL twin.  Pipe operators
    lower to the same logical plan, so filters still push down and
    aggregates still split partial/final; this query pins that
    contract.
    """
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_pipedemo")
    return spark.sql(
        """
FROM orders_pipedemo
|> WHERE o_totalprice > 1000.0
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total
   GROUP BY o_orderstatus
|> SELECT o_orderstatus, n, total
"""
    )


# ---------------------------------------------------------------------------
# J8 — forward as-of join (next-event attribution).
# ---------------------------------------------------------------------------


@register(
    "q_asof_forward",
    tags=("J8", "J7"),
    oracle="""
WITH c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM c ASOF JOIN p
  ON c.user_id = p.user_id AND c.ts <= p.ts
""",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click attributed to the user's NEXT purchase
    (earliest purchase at-or-after the click) — the attribution twin of
    the backward as-of quote lookup, matching DuckDB's `ASOF JOIN ON
    l.ts <= r.ts`.

    Same union-sort-carry kernel as the backward direction (one
    shuffle on the key, a first-ignorenulls over the FOLLOWING frame,
    zero joins) — operators/joins.asof_join(direction="forward").
    Fixture (user_id, ts) pairs are unique, so the match is total-
    ordered and the hash gate is deterministic.
    """
    from ..operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    j = asof_join(
        clicks,
        buys,
        left_on="c_user",
        right_on="p_user",
        left_ts="c_ts",
        right_ts="p_ts",
        how="inner",
        direction="forward",
    )
    return j.select(
        "click_id",
        "purchase_id",
        F.expr("unix_micros(p_ts) - unix_micros(c_ts)").alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# W3/FN-math — running maximum drawdown (integer window algebra).
# ---------------------------------------------------------------------------


@register(
    "q_max_drawdown",
    tags=("W3", "W2", "FN-math"),
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(round(value * 100.0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM events WHERE event_type = 'purchase'
),
d AS (
  SELECT user_id, cum_c,
         MAX(cum_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cum_c AS dd_c
  FROM s
)
SELECT user_id,
       CAST(MAX(dd_c) AS BIGINT) AS max_drawdown_c,
       CAST(MAX(cum_c) AS BIGINT) AS peak_c,
       CAST(COUNT(*) AS BIGINT) AS n
FROM d GROUP BY user_id
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative purchase series:
    running sum → running max → max(peak − current) — the
    path-dependent risk statistic, in exact centi-units so the chained
    windows are partitioning-independent (float cumsums would drift
    at every re-partition).

    Scale: both windows share ONE shuffle and sort (same partition/
    order spec — Spark plans a single Window operator for them); the
    final per-user reduce is partial-aggregable.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.round(F.col("value") * 100.0).cast("long")).over(w).alias("cum_c"),
    ).withColumn("dd_c", F.max("cum_c").over(w) - F.col("cum_c"))
    return s.groupBy("user_id").agg(
        F.max("dd_c").cast("long").alias("max_drawdown_c"),
        F.max("cum_c").cast("long").alias("peak_c"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# X5/FN-array — LM context windowing (fixed window, fixed stride).
# ---------------------------------------------------------------------------

_CTX_W = 32
_CTX_S = 16


@register(
    "q_context_windows",
    tags=("X5", "FN-array", "P1"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS win_start,
         array_to_string(t[i : i + {_CTX_W - 1}], ' ') AS win_text
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
                  1, GREATEST(len(t) - {_CTX_W - 1}, 1), {_CTX_S})) AS i) u
)
SELECT doc_id, win_start,
       CAST(len(string_split(win_text, ' ')) AS INT) AS n_tokens,
       md5(win_text) AS win_md5
FROM w
""",
)
def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context windows (32 tokens, stride 16) per document —
    the LM training-sample cutter: overlapping windows preserve
    cross-boundary context, the md5 is the sample's dedup/provenance
    key downstream.

    Pure JVM array algebra: sequence() for the stride starts, explode,
    slice + concat_ws for the window — no Python, no shuffle at all
    until a downstream consumer groups (the plan is scan → generate →
    project, embarrassingly parallel).  Window text is hashed so the
    oracle compares fixed-width keys, not megabyte strings.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t") - (_CTX_W - 1), F.lit(1)), F.lit(_CTX_S)
    )
    w = toks.select(
        "doc_id", F.explode(starts).alias("i"), "t"
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("win_start"),
        F.concat_ws(" ", F.slice("t", F.col("i"), _CTX_W)).alias("win_text"),
    )
    return w.select(
        "doc_id",
        "win_start",
        F.size(F.split("win_text", " ")).alias("n_tokens"),
        F.md5("win_text").alias("win_md5"),
    )


# ---------------------------------------------------------------------------
# FN-array — arrays_zip / posexplode battery.
# ---------------------------------------------------------------------------


@register(
    "q_arrays_zip",
    tags=("FN-array", "P1"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
z AS (
  SELECT doc_id,
         CAST(i - 1 AS INT) AS pos,
         t[i] AS token,
         len(t[i]) AS tok_len
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u
  WHERE i <= 5
)
SELECT doc_id, pos, token, CAST(tok_len AS INT) AS tok_len
FROM z
""",
)
def q_arrays_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrays_zip + posexplode: pair each of a document's first five
    tokens with its position and length in one generate pass — the
    parallel-array flattening idiom (Spark's posexplode emits 0-based
    positions; the oracle subtracts 1 from its 1-based series).

    arrays_zip aligns the token array with its per-element lengths
    JVM-side (transform), posexplode adds the ordinal — no join
    against a generated index table, which is the slow relational
    spelling of the same thing.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr("slice(split(text, ' '), 1, 5)").alias("t"))
    zipped = toks.select(
        "doc_id",
        F.arrays_zip(
            F.col("t"), F.expr("transform(t, x -> length(x))")
        ).alias("z"),
    )
    return zipped.select(
        "doc_id", F.posexplode("z")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("col.t").alias("token"),
        F.col("col.1").cast("int").alias("tok_len"),
    )


# ---------------------------------------------------------------------------
# A1 (double grouping) — customer order-count distribution (TPC-H Q13).
# ---------------------------------------------------------------------------


@register(
    "q_order_count_dist",
    tags=("A1", "J10", "O1"),
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
""",
)
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer (TPC-H Q13): left join so
    zero-order customers appear in the c_count=0 bucket, then a second
    aggregate over the first — the canonical double-grouping.

    Scale: the first aggregate co-partitions with the join key (one
    shuffle serves both); the second groups on a low-cardinality count
    value — a classic AQE-coalesce target.  COUNT(o_orderkey) (not
    COUNT(*)) makes the unmatched-left rows count 0, preserving Q13's
    semantics without a CASE.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# A1/W1 — leave-one-out target encoding (leakage-free categorical feature).
# ---------------------------------------------------------------------------


@register(
    "q_target_encoding",
    tags=("A1", "W1", "FN-math"),
    oracle="""
WITH c AS (
  SELECT event_type, event_id,
         CAST(round(value * 1000000.0) AS BIGINT) AS x_e6
  FROM events
),
m AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_e6) AS BIGINT) AS s
  FROM c GROUP BY event_type
)
SELECT c.event_id,
       c.event_type,
       CAST(round(CAST(m.s - c.x_e6 AS DOUBLE)
                  / CAST(m.n - 1 AS DOUBLE)) AS BIGINT) AS loo_mean_e6
FROM c JOIN m ON m.event_type = c.event_type
WHERE m.n > 1
""",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type: each row gets the
    mean target value of its OWN category computed WITHOUT itself,
    (S − x)/(n − 1) — the leakage-free categorical encoder every
    tabular-ML feature pipeline ships (plain category means leak the
    row's own label into its feature).

    Determinism: S and x are exact micro-unit integers, so both
    engines divide bit-identical doubles; singleton categories are
    excluded (n−1 = 0).  Scale: ONE partial-aggregable moment pass and
    a tiny broadcast back — no per-row window, no second shuffle; the
    encoded table is the same size as the input, never wider.
    """
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1000000.0).cast("long").alias("x_e6"),
    )
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_e6").cast("long").alias("s"),
    )
    return (
        c.join(F.broadcast(m.filter(F.col("n") > 1)), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                F.expr("CAST(s - x_e6 AS DOUBLE)") / F.expr("CAST(n - 1 AS DOUBLE)")
            )
            .cast("long")
            .alias("loo_mean_e6"),
        )
    )


# ---------------------------------------------------------------------------
# J9 (null-aware) — NOT IN subquery (TPC-H Q16 shape).
# ---------------------------------------------------------------------------


@register(
    "q_supplier_shortlist",
    tags=("J9", "A2", "O2"),
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 25
""",
)
def q_supplier_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct eligible suppliers per (brand, type, size) (TPC-H Q16
    shape): supplier NOT IN a denylist subquery — exercising the
    NULL-AWARE anti join, the semantics that silently differ from NOT
    EXISTS the moment the subquery can yield NULL (here it can't, so
    Catalyst may degrade to a plain anti join; the denylist is a
    broadcastable 6-row set either way).

    Written through spark.sql() because NOT IN's null-aware semantics
    ARE the SQL front door's contract; the aggregate is
    COUNT(DISTINCT) over the shuffled (brand,type,size) grain with an
    explicit total-order LIMIT.
    """
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_q16")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q16")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q16")
    return spark.sql(
        """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part_q16 p JOIN lineitem_q16 l ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier_q16 WHERE s_acctbal < 0
)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 25
"""
    )


# ---------------------------------------------------------------------------
# A1/FN-string — Benford first-digit audit (data-forensics primitive).
# ---------------------------------------------------------------------------

#: log10(1 + 1/d), emitted via repr so both engines parse the same double.
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def _benford_case() -> str:
    return (
        "CASE digit "
        + " ".join(f"WHEN '{d}' THEN {p!r}" for d, p in _BENFORD_P.items())
        + " END"
    )


@register(
    "q_benford",
    tags=("A1", "FN-string", "P5"),
    oracle=f"""
WITH d AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),
                1, 1) AS digit
  FROM orders WHERE o_totalprice > 0.0
),
c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT digit, n,
       CAST(round(CAST(total AS DOUBLE) * ({_benford_case()}))
            AS BIGINT) AS expected_n
FROM c CROSS JOIN t
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    data-forensics screen (fabricated or truncated monetary data
    deviates from the log10(1+1/d) digit law).

    The first significant digit is extracted from the EXACT integer
    cents as a string head — no float log10, no precision cliff; the
    expected counts multiply the exact total by repr-emitted double
    literals, so both engines round the identical product.  Scale: one
    hash aggregate over nine groups; the digit projection is
    whole-stage-codegen string arithmetic on the scan.
    """
    o = _t(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0.0).select(
        F.expr(
            "substr(CAST(CAST(round(o_totalprice * 100.0) AS BIGINT) AS STRING), 1, 1)"
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    return c.crossJoin(t).select(
        "digit",
        "n",
        F.expr(
            f"CAST(round(CAST(total AS DOUBLE) * ({_benford_case()})) AS BIGINT)"
        ).alias("expected_n"),
    )


# ---------------------------------------------------------------------------
# FN-math/W2 — lag-1 autocorrelation of the hourly event-count series.
# ---------------------------------------------------------------------------


@register(
    "q_autocorr",
    tags=("FN-math", "W2", "A1"),
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
p AS (
  SELECT x, lag(x) OVER (ORDER BY hr) AS y FROM h
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM p WHERE y IS NOT NULL
)
SELECT n,
       CAST(round(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         * 1000000.0) AS BIGINT) AS autocorr_e6
FROM m
""",
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series — the
    seasonality/burstiness diagnostic a stream-health monitor tracks.

    Hourly counts are exact integers, so all five correlation moments
    (Σx, Σy, Σxy, Σx², Σy²) are EXACT BIGINT sums; the Pearson formula
    then runs on doubles converted from those identical integers —
    same bits, same sqrt, same rounding in both engines (the recipe
    from q_anomaly_zscore extended to a two-variable statistic).
    Scale: the hourly rollup is the only data-sized aggregate; the
    lag window runs over hours, not events.
    """
    e = _t(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("x")
    )
    p = h.select("x", F.lag("x").over(Window.orderBy("hr")).alias("y")).filter(
        F.col("y").isNotNull()
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        "n",
        F.expr(
            """CAST(round(
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                 * 1000000.0) AS BIGINT)"""
        ).alias("autocorr_e6"),
    )


# ---------------------------------------------------------------------------
# W3/A1 — revenue concentration (Pareto 80/20 audit).
# ---------------------------------------------------------------------------


@register(
    "q_revenue_concentration",
    tags=("W3", "A1", "O1"),
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_custkey
),
t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS total_c,
             CAST(COUNT(*) AS BIGINT) AS n_cust FROM per_cust),
r AS (
  SELECT rev_c,
         row_number() OVER (ORDER BY rev_c DESC, o_custkey) AS rk,
         SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_c
  FROM per_cust
)
SELECT CAST(decile AS INT) AS decile,
       CAST(MAX(cum_ppm) AS BIGINT) AS cum_rev_ppm
FROM (
  SELECT ((rk - 1) * 10) // n_cust AS decile,
         (cum_c * 1000000) // total_c AS cum_ppm
  FROM r CROSS JOIN t
) GROUP BY decile
""",
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration curve: customers ranked by revenue, the
    cumulative revenue share (ppm) at each decile boundary — the
    Pareto/Lorenz 80-20 audit every revenue dashboard carries.

    All-integer: per-customer revenue in exact cents, cumulative sums
    over a total order (revenue desc, key), decile and ppm by integer
    division.  Scale: the per-customer rollup carries the data volume;
    the rank and cumulative revenue over the CUSTOMER-cardinality
    rollup run through operators/ranking.global_cumsum (one range
    shuffle, local running sums, broadcast offsets — no
    single-partition window), the same treatment as q_rfm_segments.
    """
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    t = per_cust.agg(
        F.sum("rev_c").cast("long").alias("total_c"),
        F.count(F.lit(1)).cast("long").alias("n_cust"),
    )
    r = global_cumsum(
        per_cust,
        [F.col("rev_c").desc(), "o_custkey"],
        sums={"cum_c": "rev_c"},
        rn_out="rk",
    )
    return (
        r.crossJoin(t)
        .select(
            F.expr("CAST(((rk - 1) * 10) div n_cust AS INT)").alias("decile"),
            F.expr("(cum_c * 1000000) div total_c").alias("cum_ppm"),
        )
        .groupBy("decile")
        .agg(F.max("cum_ppm").cast("long").alias("cum_rev_ppm"))
    )


# ---------------------------------------------------------------------------
# §3.2 — SQL scripting front door (Spark 4: BEGIN/DECLARE/SET blocks).
# ---------------------------------------------------------------------------


@register(
    "q_sql_scripting",
    tags=("A1", "P2"),
    oracle="""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_totalprice > 2000.0
GROUP BY o_orderstatus
""",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL *scripting* front door: a BEGIN…END block with a
    DECLAREd session variable, procedural SET arithmetic, and a final
    SELECT whose result is the block's value — the stored-procedure-
    style interface for parameterized report logic, checked for exact
    equality with the equivalent constant-folded query.

    Variables resolve at analysis time, so the data-path plan is
    IDENTICAL to the literal query (pushed filter and all) — scripting
    adds control flow, not execution overhead.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    return spark.sql(
        """
BEGIN
  DECLARE threshold DOUBLE DEFAULT 1000.0;
  SET threshold = threshold * 2;
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders_script WHERE o_totalprice > threshold
  GROUP BY o_orderstatus;
END
"""
    )


# ---------------------------------------------------------------------------
# W2/FN-datetime — period-over-period change (the dashboard delta).
# ---------------------------------------------------------------------------


@register(
    "q_period_over_period",
    tags=("W2", "FN-datetime", "A1"),
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
),
p AS (
  SELECT mon, rev_c, lag(rev_c) OVER (ORDER BY mon) AS prev_c FROM m
)
SELECT mon, rev_c,
       CAST(round(CAST(rev_c - prev_c AS DOUBLE)
                  / CAST(prev_c AS DOUBLE) * 1000000.0) AS BIGINT)
         AS delta_ppm
FROM p WHERE prev_c IS NOT NULL
""",
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta in ppm — the canonical dashboard
    statistic.  Monthly revenue in exact cents, the relative change
    computed in doubles converted from those exact integers and
    rounded half-away in both engines (safe for negative deltas, where
    integer floor-vs-trunc division would diverge cross-engine).
    Scale: the monthly rollup carries the volume; the lag window runs
    over months.
    """
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    p = m.select(
        "mon", "rev_c", F.lag("rev_c").over(Window.orderBy("mon")).alias("prev_c")
    ).filter(F.col("prev_c").isNotNull())
    return p.select(
        "mon",
        "rev_c",
        F.expr(
            "CAST(round(CAST(rev_c - prev_c AS DOUBLE)"
            " / CAST(prev_c AS DOUBLE) * 1000000.0) AS BIGINT)"
        ).alias("delta_ppm"),
    )


# ---------------------------------------------------------------------------
# A1/W3 — weighted median (cumulative-weight selection).
# ---------------------------------------------------------------------------


@register(
    "q_weighted_median",
    tags=("A1", "W3", "FN-math"),
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price_c,
         CAST(ROUND(l_quantity * 100.0) AS BIGINT) AS qty_c
  FROM lineitem
),
c AS (
  SELECT l_returnflag, price_c, qty_c,
         SUM(qty_c) OVER (PARTITION BY l_returnflag
                          ORDER BY price_c, qty_c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_w,
         SUM(qty_c) OVER (PARTITION BY l_returnflag) AS tot_w
  FROM w
)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN 2 * cum_w >= tot_w THEN price_c END) AS BIGINT)
         AS wmedian_price_c,
       CAST(MAX(tot_w) AS BIGINT) AS total_qty_c
FROM c GROUP BY l_returnflag
""",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the first price
    (in cumulative-weight order) whose running weight reaches half the
    total — the robust center for volume-weighted data, where the
    plain median over-counts penny lots.

    All weights and prices are exact integer centi-units; the
    selection rule 2·cum ≥ tot avoids any division.  Both window
    passes share the per-flag partition; the cum-weight sort is the
    only per-row cost — the same shape Spark's own percentile uses.
    Ties on price are broken by weight, making the running sum (and
    therefore the selected row) a total order in both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100.0).cast("long").alias("price_c"),
        F.round(F.col("l_quantity") * 100.0).cast("long").alias("qty_c"),
    )
    cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c", "qty_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = w.select(
        "l_returnflag",
        "price_c",
        F.sum("qty_c").over(cum).alias("cum_w"),
        F.sum("qty_c").over(Window.partitionBy("l_returnflag")).alias("tot_w"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.lit(2) * F.col("cum_w") >= F.col("tot_w"), F.col("price_c"))
        )
        .cast("long")
        .alias("wmedian_price_c"),
        F.max("tot_w").cast("long").alias("total_qty_c"),
    )


# ---------------------------------------------------------------------------
# A1/FN-datetime — seasonal activity profile (day-of-week × hour grid).
# ---------------------------------------------------------------------------


@register(
    "q_seasonal_profile",
    tags=("A1", "FN-datetime"),
    oracle="""
WITH h AS (
  SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INT) AS hod FROM events
),
c AS (
  SELECT dow, hod, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY dow, hod
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT CAST(dow AS INT) AS dow, hod, n,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
""",
)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity grid with each cell's traffic
    share in ppm — the seasonality fingerprint capacity planning and
    anomaly baselines start from.

    Convention check: Spark's dayofweek() is 1=Sunday..7=Saturday and
    DuckDB's dayofweek() is 0=Sunday..6 — the Spark side subtracts 1
    to meet DuckDB's numbering (the same trap q_calendar_battery2
    documents).  Integer shares; one hash aggregate over ≤168 cells.
    """
    e = _t(spark, sf_dir, "events")
    c = e.select(
        (F.dayofweek("ts") - F.lit(1)).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).groupBy("dow", "hod").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    return c.crossJoin(t).select(
        "dow", "hod", "n",
        F.expr("CAST((n * 1000000) div total AS BIGINT)").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# FN-string — LIKE-family pattern battery.
# ---------------------------------------------------------------------------


@register(
    "q_like_battery",
    tags=("FN-string", "P2"),
    oracle="""
SELECT
  CAST(COUNT(CASE WHEN p_type LIKE '%BRUSHED%' THEN 1 END) AS BIGINT)
    AS n_brushed,
  CAST(COUNT(CASE WHEN p_type ILIKE '%steel' THEN 1 END) AS BIGINT)
    AS n_steel_suffix,
  CAST(COUNT(CASE WHEN p_name LIKE '__a%' THEN 1 END) AS BIGINT)
    AS n_third_a,
  CAST(COUNT(CASE WHEN p_type LIKE '%PLATED%' OR p_type LIKE '%POLISHED%'
             THEN 1 END) AS BIGINT) AS n_finish,
  CAST(COUNT(CASE WHEN p_type NOT LIKE '%STEEL%'
              AND p_type NOT LIKE '%BRASS%' THEN 1 END) AS BIGINT)
    AS n_other_metal
FROM part
""",
)
def q_like_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-family semantics battery over part attributes: % and _
    wildcards, case-insensitive ILIKE, the LIKE ANY disjunction
    (spelled as OR in the oracle — DuckDB has no LIKE ANY), and NOT
    LIKE conjunctions.

    LIKE compiles to JVM string matching inside codegen — for
    prefix/suffix shapes Catalyst rewrites to StartsWith/EndsWith/
    Contains, which parquet can push as filters; the battery pins the
    SEMANTICS so those rewrites stay behavior-preserving.
    """
    p = _t(spark, sf_dir, "part")
    return p.agg(
        F.count(F.when(F.col("p_type").like("%BRUSHED%"), 1)).alias("n_brushed"),
        F.count(F.when(F.col("p_type").ilike("%steel"), 1)).alias(
            "n_steel_suffix"
        ),
        F.count(F.when(F.col("p_name").like("__a%"), 1)).alias("n_third_a"),
        F.count(
            F.when(
                F.expr("p_type LIKE ANY ('%PLATED%', '%POLISHED%')"), 1
            )
        ).alias("n_finish"),
        F.count(
            F.when(
                ~F.col("p_type").like("%STEEL%") & ~F.col("p_type").like("%BRASS%"),
                1,
            )
        ).alias("n_other_metal"),
    )


# ---------------------------------------------------------------------------
# A2/A1 — conditional distinct counts (one-pass cohort reporting).
# ---------------------------------------------------------------------------


@register(
    "q_conditional_distinct",
    tags=("A2", "A1", "P5"),
    oracle="""
SELECT
  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
       AS BIGINT) AS buyers,
  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
       AS BIGINT) AS clickers,
  CAST(COUNT(DISTINCT CASE WHEN event_type IN ('error', 'signup')
             THEN user_id END) AS BIGINT) AS edge_users,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS all_users
FROM events
""",
)
def q_conditional_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cohorts under different predicates in ONE
    aggregate — COUNT(DISTINCT CASE WHEN …) — the reporting idiom that
    replaces N separate filtered queries with one pass.

    Catalyst expands multiple distinct aggregates with an expand+
    double-aggregate plan (one row per distinct spec per input row,
    then two-phase dedup) — one scan regardless of cohort count; at
    extreme scale swap each to approx_count_distinct and keep the
    shape.
    """
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("buyers"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("clickers"),
        F.countDistinct(
            F.when(
                F.col("event_type").isin("error", "signup"), F.col("user_id")
            )
        ).alias("edge_users"),
        F.countDistinct("user_id").alias("all_users"),
    )


# ---------------------------------------------------------------------------
# W1/A1 — equi-depth histogram (ntile bucketing).
# ---------------------------------------------------------------------------


@register(
    "q_equi_depth_histogram",
    tags=("W1", "A1", "FN-math"),
    oracle="""
WITH b AS (
  SELECT ntile(8) OVER (ORDER BY value, event_id) AS bucket,
         CAST(round(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(v_e6) AS BIGINT) AS lo_e6,
       CAST(MAX(v_e6) AS BIGINT) AS hi_e6
FROM b GROUP BY bucket
""",
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of event values (8 ntile buckets, equal
    row counts, data-driven boundaries) — the complement of
    q_histogram's equi-WIDTH width_bucket, and the shape optimizers
    build for selectivity estimation (bucket bounds ARE the octile
    values).

    ntile's SQL-standard distribution (first n%8 buckets get the extra
    rows) is identical in both engines once the ORDER BY is a total
    order (value, event_id tie-break).  The assignment runs through
    operators/ranking.global_ntile — range-partitioned two-phase rank
    plus a broadcast total, NTILE as a closed form of (rn, n) — so the
    plan carries no single-partition sort; at corpus scale the approx
    quantile boundaries (q_approx_quantiles) + width_bucket remain the
    sampling alternative with the same output grain.
    """
    e = _t(spark, sf_dir, "events")
    b = global_ntile(
        e.select(
            F.round(F.col("value") * 1000000.0).cast("long").alias("v_e6"),
            "value",
            "event_id",
        ),
        8,
        ["value", "event_id"],
        out="bucket",
    )
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v_e6").cast("long").alias("lo_e6"),
        F.max("v_e6").cast("long").alias("hi_e6"),
    )


# ---------------------------------------------------------------------------
# O1/P5 — explicit NULL ordering (cross-engine portability pin).
# ---------------------------------------------------------------------------


@register(
    "q_null_ordering",
    tags=("O1", "P5"),
    oracle="""
SELECT o_orderkey,
       nullif(o_orderpriority, '3-MEDIUM') AS pri
FROM orders
ORDER BY pri ASC NULLS FIRST, o_orderkey
LIMIT 15
""",
)
def q_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST ordering over a column with manufactured
    NULLs — pinned because the DEFAULTS diverge: Spark sorts ASC
    NULLS FIRST, DuckDB (and Postgres) ASC NULLS LAST, so any query
    that orders a nullable key without an explicit modifier is
    silently non-portable.  The registry rule is therefore: always
    spell the null position when a sort key can be NULL (every other
    ordered query here has non-nullable keys).
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.expr("nullif(o_orderpriority, '3-MEDIUM')").alias("pri"),
        )
        .orderBy(F.col("pri").asc_nulls_first(), "o_orderkey")
        .limit(15)
    )
