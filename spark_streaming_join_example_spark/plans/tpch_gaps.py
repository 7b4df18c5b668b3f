"""The eight TPC-H query shapes the registry did not yet carry —
Q2, Q6, Q7, Q8, Q9, Q11, Q12, Q20 — completing the 22-query suite.

The fixtures are a trimmed TPC-H star (TESTDATA.md): there is no
``partsupp`` table, no ``l_shipmode``/``l_commitdate``/``l_receiptdate``,
and no ``ps_supplycost``/``ps_availqty``.  Where a query needs those,
the shape is preserved and the column adapted, with the adaptation
named in the docstring:

- ``partsupp`` is DERIVED from lineitem as the distinct
  (l_partkey, l_suppkey) supply pairs, with ``ps_supplycost`` proxied
  by the minimum observed unit price (cents, exact integer) and
  ``ps_qty`` by the total shipped quantity.  This keeps Q2/Q11/Q20's
  defining plan shapes (correlated min, scalar-threshold HAVING,
  nested-aggregate semi-join) intact on real data.
- Q12's commit/receipt lateness becomes ``l_shipdate > o_orderdate``
  and ship modes become line statuses.
- Q9's supply cost becomes a fixed 60% of ``p_retailprice`` per unit.

All money/rate comparisons follow the repo's integer doctrine
(functions/numeric): scale to cents / basis points, compare and sum as
BIGINT, divide once at the end — so every oracle hash-matches exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import (
    MONEY,
    VALUE,
    exact_sum,
    oracle_exact_sum,
)
from ..sources.batch import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _derived_partsupp(li: DataFrame) -> DataFrame:
    """lineitem → the (partkey, suppkey) supply catalog.

    ps_supplycost_c = min observed unit price in cents (exact BIGINT),
    ps_qty_c        = total shipped quantity in centi-units.
    One |lineitem| shuffle on the composite key; output is bounded by
    |part|×|suppliers-per-part|, i.e. dimension-sized, and every
    downstream join on it is an equi-join."""
    unit_c = F.round(F.col("l_extendedprice") / F.col("l_quantity") * F.lit(100.0)).cast(
        "long"
    )
    qty_c = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(
        F.min(unit_c).alias("ps_supplycost_c"),
        F.sum(qty_c).alias("ps_qty_c"),
    )


_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(ROUND(l_extendedprice / l_quantity * 100.0) AS BIGINT)) AS ps_supplycost_c,
         SUM(CAST(ROUND(l_quantity * 100.0) AS BIGINT)) AS ps_qty_c
  FROM lineitem GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change: the pure scan-pushdown aggregate
# ---------------------------------------------------------------------------
@register(
    "q_forecast_revenue",
    tags=("P2", "A1"),
    oracle=f"""
SELECT {oracle_exact_sum('l_extendedprice * l_discount', VALUE)} AS lost_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filter + ungrouped aggregate —
    the canonical predicate-pushdown / column-pruning probe.

    Scale rationale: all three predicates and the 3-column projection
    reach the parquet scan (PushedFilters + ReadSchema — pinned in
    tests/test_plans.py, including the discount band); the aggregate
    is a map-side partial with a 1-row exchange.  At 100 TB this query
    IS the scan: nothing else survives.  The discount band compares
    the RAW double column against double literals — a ROUND()-based
    basis-point rewrite would be expression-over-column and ineligible
    for parquet pushdown; raw literals are safe cross-engine because
    '0.05'/'0.07' parse to the identical nearest-doubles the fixture
    generator stored (both sides CAST the DuckDB decimals to DOUBLE
    explicitly)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(F.lit(0.05), F.lit(0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), VALUE).alias(
                "lost_revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------
@register(
    "q_volume_shipping",
    tags=("J4", "J3", "A1", "FN-datetime"),
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
       {oracle_exact_sum('l_extendedprice * (1 - l_discount)', VALUE)} AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, ship_year
""",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume — a join
    tree whose defining feature is the DISJUNCTIVE pair predicate over
    two aliases of the same dimension.

    Scale rationale: both nation aliases are 25-row broadcasts, so the
    pair predicate evaluates inside the probe side of two broadcast
    joins — no shuffle is spent on it; the two fact-fact equi-joins
    (lineitem⋈orders on orderkey; ⋈customer via orders) are left to
    AQE.  Because each nation filter is applied to its OWN broadcast
    before the OR (Catalyst can't split the disjunction across
    relations), the big probe stream is pre-filtered to the two
    nations' suppliers/customers only."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))  # bounded: supplier is dimension-sized
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))  # bounded: 2-row nation slice
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))  # bounded: 2-row nation slice
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), VALUE
            ).alias("volume")
        )
    )


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------
@register(
    "q_market_share",
    tags=("J5", "J3", "A1", "P5"),
    oracle="""
WITH vol AS (
  SELECT CAST(date_part('year', o_orderdate) AS INT) AS order_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000.0) AS BIGINT) AS volume_u,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN part     ON l_partkey = p_partkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT order_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_u ELSE 0 END) AS BIGINT) AS nation_volume_u,
       CAST(SUM(volume_u) AS BIGINT) AS total_volume_u,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_u ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume_u) AS DOUBLE) AS mkt_share
FROM vol GROUP BY order_year
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of ECONOMY-part
    revenue sold into ASIA, by year — the widest join tree in the
    suite (8 relations, nation joined twice on different keys) feeding
    a conditional-ratio aggregate.

    Scale rationale: part/supplier/nation/region are broadcast dims;
    the only shuffles are the two fact-fact equi-joins and one tiny
    (year) aggregate.  The share is computed as a ratio of two exact
    micro-unit BIGINT sums with a single IEEE divide at the end, so
    the double is bit-identical across engines and partitionings."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol_u = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * F.lit(1_000_000.0)
    ).cast("long")
    nation_u = F.when(F.col("supp_nation") == "NATION_3", vol_u).otherwise(F.lit(0))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))  # bounded: supplier is dimension-sized
        .join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))  # bounded: 25-row nation
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n1_region") == F.col("r_regionkey"))  # bounded: region is a 5-row constant dimension
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))  # bounded: 25-row nation
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(nation_u).alias("nation_volume_u"),
            F.sum(vol_u).alias("total_volume_u"),
        )
        .select(
            "order_year",
            "nation_volume_u",
            "total_volume_u",
            (
                F.col("nation_volume_u").cast("double")
                / F.col("total_volume_u").cast("double")
            ).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (supply cost proxied from p_retailprice)
# ---------------------------------------------------------------------------
@register(
    "q_product_profit",
    tags=("J5", "J3", "A1", "FN-string"),
    oracle=f"""
SELECT n_name AS supp_nation,
       CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       {oracle_exact_sum('l_extendedprice * (1 - l_discount) - p_retailprice * 0.6 * l_quantity', VALUE)} AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY supp_nation, order_year
""",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on '%gear%' parts by supplier nation and
    order year.  Adaptation (no partsupp): unit supply cost is a fixed
    60% of p_retailprice — the expression keeps Q9's defining feature,
    an arithmetic combination of columns from THREE different
    relations (lineitem price/discount/qty, part cost, orders date)
    inside one aggregated measure.

    Scale rationale: the infix-LIKE part filter can't prune the scan
    but cuts the broadcast build side to ~13% before it ships; the
    profit expression is computed per-row pre-shuffle, so the (nation
    × year) aggregate moves only grouped partials."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.6) * F.col("l_quantity")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p.filter(F.col("p_name").like("%gear%"))), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))  # bounded: supplier is dimension-sized
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))  # bounded: 25-row nation
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(exact_sum(profit, VALUE).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (partsupp derived from lineitem)
# ---------------------------------------------------------------------------
@register(
    "q_min_cost_supplier",
    tags=("J5", "J3", "W1", "O2"),
    oracle=f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
eligible AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, ps_supplycost_c,
         MIN(ps_supplycost_c) OVER (PARTITION BY p_partkey) AS min_cost_c
  FROM partsupp
  JOIN part     ON ps_partkey = p_partkey
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND p_size = 15
)
SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
       CAST(ps_supplycost_c AS BIGINT) AS supplycost_c
FROM eligible WHERE ps_supplycost_c = min_cost_c
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each size-15 part, the EUROPE supplier(s)
    offering the minimum supply cost — the correlated-MIN-subquery
    query.  Adaptation (no partsupp): the supply catalog is derived
    from lineitem's distinct (partkey, suppkey) pairs with cost = min
    observed unit price in exact cents (_derived_partsupp).

    Scale rationale: the correlated subquery decorrelates to a
    per-part MIN window over the region-filtered catalog — a
    KEY-cardinality partition (suppliers per part ≈ single digits),
    never a global sort; the catalog itself is one |lineitem| shuffle
    that a real deployment would amortize as a maintained table.  The
    final ORDER BY ... LIMIT 100 executes as TakeOrderedAndProject
    under a total order (acctbal, nation, supplier, part) so the
    rowset is engine-independent.

    r15 (guide §3.2 / §2.3): the catalog aggregate — the query's only
    lineitem-sized exchange — used to run over ALL of lineitem even
    though the downstream inner join keeps only size-15 parts (~2% of
    part keys).  A broadcast LEFT SEMI on the filtered part keys now
    drops non-qualifying rows BEFORE the groupBy.  Exact because the
    predicate is on a grouping key: it removes whole (partkey,
    suppkey) groups the p_size join removed identically, never a row
    of a surviving group (OPTIMIZATION_r15.md §6: row identity asserted;
    interleaved timing 1.209 s → 0.687 s at sf0.1).  At 100 TB this
    is the §3.2 semi-join/Bloom shape: shuffle 2% of the catalog
    rows instead of all of them."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p15 = p.filter(F.col("p_size") == 15)
    li = li.join(
        F.broadcast(p15.select(F.col("p_partkey").alias("l_partkey"))),
        "l_partkey",
        "left_semi",
    )
    ps = _derived_partsupp(li)
    eligible = (
        ps.join(F.broadcast(p15), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey"))  # bounded: supplier is dimension-sized
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))  # bounded: 25-row nation
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))  # bounded: region is a 5-row constant dimension
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("min_cost_c", F.min("ps_supplycost_c").over(w))
        .filter(F.col("ps_supplycost_c") == F.col("min_cost_c"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "s_acctbal",
            "n_name",
            F.col("ps_supplycost_c").alias("supplycost_c"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (scalar-subquery threshold HAVING)
# ---------------------------------------------------------------------------
@register(
    "q_important_stock",
    tags=("A1", "J3", "P2"),
    oracle=f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
scoped AS (
  SELECT ps_partkey, ps_supplycost_c * ps_qty_c AS value_cc
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
),
by_part AS (
  SELECT ps_partkey, CAST(SUM(value_cc) AS BIGINT) AS part_value_cc
  FROM scoped GROUP BY ps_partkey
)
SELECT ps_partkey, part_value_cc
FROM by_part
WHERE part_value_cc > 2 * (SELECT SUM(part_value_cc) // COUNT(*) FROM by_part)
""",
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value within a nation
    group exceeds a GLOBAL-AGGREGATE threshold — the
    scalar-subquery-in-HAVING query.  Adaptation: value = derived
    supply cost × shipped quantity (exact integer cents×centi-units),
    and the threshold is 2× the integer-average part value rather
    than TPC-H's fixed fraction (which the spec itself scales as
    0.0001/SF precisely because a constant fraction degenerates to an
    empty result as |part| grows — this form is scale-invariant).

    Scale rationale: the global (sum, count) is a 1-row aggregate
    broadcast back over the per-part relation (cross-join of a scalar
    — Spark plans BroadcastNestedLoopJoin with a single build row);
    the threshold is an exact integer floor-average, so no float ever
    enters the predicate.  Envelope (measured, not estimated):
    Σ cost_c×qty_c ≈ 3.1e14 at sf0.1 and linear in |lineitem| →
    int64-safe past sf100.  Both aggregates shuffle on
    ps_partkey once; the nation filter prunes via a 3-row broadcast
    before any shuffle.

    r15 (guide §3.2 / §2.3): the catalog aggregate used to run over
    ALL of lineitem even though the downstream supplier⋈nation join
    keeps only the 3 scoped nations' suppliers (~12% of supplier
    keys).  A broadcast LEFT SEMI on that supplier-key slice now
    drops non-qualifying rows BEFORE the (partkey, suppkey) groupBy.
    Exact because the predicate is on a grouping key — whole groups
    the post-aggregate inner join removed identically
    (OPTIMIZATION_r15.md §6: row identity asserted; interleaved timing
    1.431 s → 0.777 s at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n3 = n.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
    sk = s.join(
        F.broadcast(n3),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    li = li.join(F.broadcast(sk), "l_suppkey", "left_semi")
    ps = _derived_partsupp(li)
    scoped = (
        ps.join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey"))  # bounded: supplier is dimension-sized
        .join(
            F.broadcast(n3),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )  # bounded: 3-row nation slice
        .select("ps_partkey", (F.col("ps_supplycost_c") * F.col("ps_qty_c")).alias("value_cc"))
    )
    by_part = scoped.groupBy("ps_partkey").agg(F.sum("value_cc").alias("part_value_cc"))
    avg_floor = by_part.agg(
        F.expr("sum(part_value_cc) div count(*)").alias("avg_cc")
    )  # bounded: 1-row scalar aggregate
    return (
        by_part.join(F.broadcast(avg_floor))
        .filter(F.col("part_value_cc") > F.lit(2) * F.col("avg_cc"))
        .select("ps_partkey", "part_value_cc")
    )


# ---------------------------------------------------------------------------
# Q12 — late shipments by line status (shipmode/commitdate adapted)
# ---------------------------------------------------------------------------
@register(
    "q_priority_shipping",
    tags=("J4", "A1", "P5"),
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate
GROUP BY l_linestatus
""",
)
def q_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship category, how many HIGH- vs
    LOW-priority orders it carried — the conditional-count (pivot by
    CASE) aggregate over a fact-fact join.  Adaptation (no
    l_shipmode/l_commitdate): categories are line statuses and the
    lateness predicate is l_shipdate > o_orderdate, a cross-relation
    inequality applied POST-join exactly like the original's
    receipt/commit comparison.

    Scale rationale: the date-range predicate prunes the lineitem scan
    before the orderkey shuffle; the cross-relation inequality filters
    inside the join stage; output is 2 groups, so the aggregate is
    all map-side."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — potential promotion suppliers (nested-aggregate semi-join)
# ---------------------------------------------------------------------------
@register(
    "q_potential_promotion",
    tags=("J9", "J3", "A1", "O2"),
    oracle=f"""
WITH promo_qty AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(ROUND(l_quantity * 100.0) AS BIGINT)) AS supp_qty_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
part_total AS (
  SELECT l_partkey AS pt_partkey, SUM(supp_qty_c) AS total_qty_c
  FROM promo_qty GROUP BY 1
),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM promo_qty JOIN part_total ON l_partkey = pt_partkey
  WHERE supp_qty_c * 5 > total_qty_c
)
SELECT s_name, s_acctbal, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
ORDER BY s_name
""",
)
def q_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who DOMINATED the 1997 supply of a
    PROMO part (shipped >20% of that part's total) in a nation group —
    the nested-aggregate-feeding-a-semi-join query.  Adaptation (no
    ps_availqty): the original's 'stock > half the year's shipments'
    becomes 'supplier share > 1/5 of the part's shipments', keeping
    the two-level aggregate → threshold → semi-join pipeline intact.

    Scale rationale: both aggregates shuffle on (partkey[, suppkey]);
    the share threshold multiplies integers (×5) instead of dividing;
    the dominant-supplier set is dimension-sized, so the final
    left-semi join broadcasts it; ORDER BY s_name is a
    dimension-cardinality sort on the 100-row output side, not the
    fact side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    qty_c = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    promo_qty = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qty_c).alias("supp_qty_c"))
    )
    part_total = promo_qty.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("supp_qty_c").alias("total_qty_c")
    )
    dominant = (
        promo_qty.join(part_total, F.col("l_partkey") == F.col("pt_partkey"))
        .filter(F.col("supp_qty_c") * F.lit(5) > F.col("total_qty_c"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")  # bounded: dominant ⊆ supplier, dimension-sized
        .join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )  # bounded: 4-row nation slice
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q1 in typed DECIMAL — the beyond-int64 exactness path
# ---------------------------------------------------------------------------
@register(
    "q_pricing_summary_decimal",
    tags=("A1", "P4"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(5,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(5,4)))
                      * (1 + CAST(l_tax AS DECIMAL(5,4)))), 2) AS DOUBLE) AS sum_charge,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 with TYPED DECIMAL arithmetic end to end — the
    beyond-int64 exactness path SCALE.md prescribes for groups past
    the scaled-BIGINT envelope (~6e8 rows/group at scale 1e6).

    Determinism discipline: every intermediate stays EXACT — decimal
    products only widen scale (2+4 → 6 → 10 digits, precision ≤ 38,
    never rounded), decimal sums are exact at any partitioning — and
    the single rounding step is ROUND(sum, 2) BEFORE the double cast,
    so the unscaled value (~6e11 cents at sf0.1) sits far inside
    2^53 and the decimal→double conversions in Spark and DuckDB
    cannot disagree (a scale-10 sum cast directly to double WOULD
    risk last-bit divergence: its unscaled integer exceeds 2^53).

    Scale rationale: identical plan to q_pricing_summary (scan →
    partial hash agg → 6-group exchange → final agg); decimal(38,x)
    partials are 16-byte fixed-width and combine map-side exactly
    like longs, at ~2× the ALU cost — the price of exactness past
    the int64 wall."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_disc = F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast(
        "decimal(5,4)"
    )
    one_plus_tax = F.lit(1).cast("decimal(5,4)") + F.col("l_tax").cast("decimal(5,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(qty), 2).cast("double").alias("sum_qty"),
        F.round(F.sum(price), 2).cast("double").alias("sum_base"),
        F.round(F.sum(price * one_minus_disc), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(price * one_minus_disc * one_plus_tax), 2)
        .cast("double")
        .alias("sum_charge"),
        F.count(F.lit(1)).alias("n_lines"),
    )
