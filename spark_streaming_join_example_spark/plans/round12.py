"""Round-12 rotation stock: fresh oracle-checked queries in the §2
families whose never-driver-checked pool empties once the r11 panel
consumes the plans/round11.py members (A4 A5 A6 A7 A9 FN-map J1 J2 J6
J8 J11 O3 P3 P4 S1 T2 T4 T5 U1 U2 U3 X4 — the F-series third members
live in plans/udf_queries.py, the only module sanctioned for row
UDFs).  Same program as round10/round11 one round later: the driver
hash-checks 50 names per round, and a family with no never-checked
member forces its panel slot into a permanent keeper — one genuinely
new surface per family keeps the ~27-first-evers-per-round rotation
cadence alive.  Every query is a different shape from its checked and
round-11 siblings (noted per docstring).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import (
    MONEY,
    VALUE,
    exact_sum,
    oracle_exact_sum,
)
from ..sources.batch import load_table
from .events_queries import EV_CTE
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A4 — CUBE with an irregular HAVING-on-grouping filter
# ---------------------------------------------------------------------------


@register(
    "q_cube_filtered",
    tags=("A4", "A1"),
    oracle=f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(year(l_shipdate) AS INT) AS ship_year, l_extendedprice
  FROM lineitem
)
SELECT l_returnflag, l_linestatus, ship_year,
       CAST(4 * GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus)
            + GROUPING(ship_year) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       {oracle_exact_sum('l_extendedprice', MONEY)} AS revenue
FROM li
GROUP BY CUBE (l_returnflag, l_linestatus, ship_year)
HAVING GROUPING(ship_year) = 0 OR (GROUPING(l_returnflag) = 1
       AND GROUPING(l_linestatus) = 1 AND GROUPING(ship_year) = 1)
""",
)
def q_cube_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimension CUBE pruned by a HAVING over grouping flags —
    keep only lattice levels that retain the ship year, plus the grand
    total (an irregular subset neither ROLLUP nor plain CUBE emits;
    the checked A4 siblings are 2-dim rollup/cube/explicit-sets).
    The filter runs AFTER aggregation on the grouping bitmask, the
    slice-the-lattice idiom OLAP dashboards use to fetch several
    marginals in one shuffle instead of one query per level."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    g = li.cube("l_returnflag", "l_linestatus", "ship_year").agg(
        (
            F.grouping("l_returnflag") * 4
            + F.grouping("l_linestatus") * 2
            + F.grouping("ship_year")
        )
        .cast("long")
        .alias("gid"),
        F.count(F.lit(1)).alias("n"),
        exact_sum("l_extendedprice", MONEY).alias("revenue"),
    )
    return g.filter(
        (F.col("gid") % 2 == 0)  # ship_year kept (low bit of gid)
        | (F.col("gid") == 7)
    ).select(
        "l_returnflag", "l_linestatus", "ship_year", "gid", "n", "revenue"
    )


# ---------------------------------------------------------------------------
# A5 — tumbling window via window() on a DATE-grained key
# ---------------------------------------------------------------------------


@register(
    "q_tumbling_week_orders",
    tags=("A5", "A1"),
    oracle=f"""
SELECT make_timestamp((epoch_us(o_orderdate) // 604800000000)
                      * 604800000000) AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {oracle_exact_sum('o_totalprice', MONEY)} AS total
FROM orders
GROUP BY 1
""",
)
def q_tumbling_week_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day tumbling windows over ORDER DATES via the streaming-grade
    `window()` function (the checked A5 siblings tumble event
    timestamps / use date_trunc).  Spark's window('7 days') aligns
    buckets to the Unix epoch, so the oracle reproduces the bucket
    start with integer µs arithmetic — pinning the alignment contract
    a batch/streaming twin pair relies on."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.window(F.col("o_orderdate").cast("timestamp"), "7 days")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", MONEY).alias("total"),
        )
        .select(
            F.col("window.start").alias("wstart"), "n_orders", "total"
        )
    )


# ---------------------------------------------------------------------------
# A6 — sliding windows where slide < width (4 windows per event)
# ---------------------------------------------------------------------------


@register(
    "q_sliding_28d_events",
    tags=("A6", "A1"),
    oracle=f"""
{EV_CTE}
SELECT make_timestamp(((epoch_us(ts) // 604800000000) - k.k)
                      * 604800000000) AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
GROUP BY 1
""",
)
def q_sliding_28d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window(ts, '28 days', '7 days') — width a multiple of slide,
    so every event lands in exactly width/slide = 4 windows (the
    checked A6 siblings slide hour-scale windows over type keys; this
    is the global month-over-week roll).  The oracle replicates each
    event into its 4 windows with integer µs bucket arithmetic
    (wstart = (floor(t/slide) - k)·slide, k in 0..3 — every such
    window contains t when width = 4·slide), which is exactly the
    replicate-then-group plan Spark's window() explodes into."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "28 days", "7 days"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("wstart"), "n_events", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# A7 — session windows: per-user span + composition profile
# ---------------------------------------------------------------------------


@register(
    "q_session_spans",
    tags=("A7", "A2"),
    oracle=f"""
{EV_CTE}
, seq AS (
  SELECT user_id, ts, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 2700000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), isl AS (
  SELECT user_id, ts, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM seq
)
SELECT user_id, MIN(ts) AS s_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       MAX(ts) AS last_ts
FROM isl GROUP BY user_id, sid
""",
)
def q_session_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, '45 minutes') keyed by user, reporting the
    session's start, size, distinct-type mix and last event time (the
    checked A7 siblings count/sum per session; this profiles session
    COMPOSITION and avoids window.end so the gap-padding convention
    stays out of the comparison).  Oracle: classic gaps-and-islands —
    a 45-min break starts a new island; cumulative break-count is the
    session id."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "45 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            "n_events",
            "n_types",
            "last_ts",
        )
    )


# ---------------------------------------------------------------------------
# A9 — pivot with TWO aggregates per pivot value
# ---------------------------------------------------------------------------


@register(
    "q_pivot_dual_agg",
    tags=("A9", "A1"),
    oracle=f"""
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(COUNT(*) FILTER (l_returnflag = 'A') AS BIGINT) AS a_n,
       {oracle_exact_sum("CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END", MONEY)} AS a_qty,
       CAST(COUNT(*) FILTER (l_returnflag = 'N') AS BIGINT) AS n_n,
       {oracle_exact_sum("CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END", MONEY)} AS n_qty,
       CAST(COUNT(*) FILTER (l_returnflag = 'R') AS BIGINT) AS r_n,
       {oracle_exact_sum("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END", MONEY)} AS r_qty
FROM lineitem
GROUP BY 1
""",
)
def q_pivot_dual_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count AND exact
    quantity sum per return flag) — Spark suffixes the generated
    columns `{value}_{aggAlias}`; the checked A9 siblings pivot one
    aggregate.  Every pivot cell is a FILTERed aggregate in the
    oracle.  Explicit value list keeps the output schema static (the
    planner never scans for distinct pivot values — the 100 TB rule:
    pivot only on enumerable domains)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    p = (
        li.groupBy("ship_year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("l_quantity", MONEY).alias("qty"),
        )
    )
    return p.select(
        "ship_year",
        F.col("A_n").alias("a_n"),
        F.col("A_qty").alias("a_qty"),
        F.col("N_n").alias("n_n"),
        F.col("N_qty").alias("n_qty"),
        F.col("R_n").alias("r_n"),
        F.col("R_qty").alias("r_qty"),
    )


# ---------------------------------------------------------------------------
# FN-map — map_zip_with / map_filter over per-group maps
# ---------------------------------------------------------------------------


@register(
    "q_map_zip_stats",
    tags=("FN-map", "A1"),
    oracle=f"""
{EV_CTE}
, g AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_exact_sum('value', VALUE)} AS sv
  FROM ev GROUP BY user_id, event_type
)
SELECT user_id, event_type, n,
       ROUND(sv / n, 6) AS avg_value
FROM g WHERE n >= 5
""",
)
def q_map_zip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user type→count and type→sum MAPS combined with
    map_zip_with (avg = sum/count), thinned with map_filter (n ≥ 5),
    then exploded back to rows — the map-as-small-dictionary idiom for
    per-entity profiles (the checked FN-map siblings build/inspect
    maps; this one COMPUTES with two of them zipped).  Pre-aggregated
    (user, type) rows keep map keys unique by construction; the
    exact-sum fixed-point makes the single division deterministic on
    both engines."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value", VALUE).alias("sv"),
    )
    m = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m_n"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "sv"))
        ).alias("m_sv"),
    )
    combined = m.select(
        "user_id",
        F.map_filter(
            F.map_zip_with(
                "m_n",
                "m_sv",
                lambda k, n, sv: F.struct(
                    n.alias("n"), F.round(sv / n, 6).alias("avg_value")
                ),
            ),
            lambda k, v: v["n"] >= 5,
        ).alias("m"),
    )
    ex = combined.select("user_id", F.explode("m"))
    return ex.select(
        "user_id",
        F.col("key").alias("event_type"),
        F.col("value.n").alias("n"),
        F.col("value.avg_value").alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# J1/J3 — stream-static enrich on a DERIVED shard key
# ---------------------------------------------------------------------------


@register(
    "q_events_supplier_mix",
    tags=("J1", "J3", "A1"),
    oracle=f"""
{EV_CTE}
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM ev JOIN supplier ON user_id % 10 + 1 = s_suppkey
GROUP BY s_nationkey
""",
)
def q_events_supplier_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment on a DERIVED shard key (user_id % 10
    + 1 → supplier) — the routing-table join shape where the fact
    side's key is computed, not stored (the checked J1 siblings join
    stored keys; q_stream_static_nation snowflakes two hops).  The
    dim stays broadcast-able because the derived key lands in the
    join condition, not a pre-shuffle; at 100 TB the same plan holds
    for any pure key expression."""
    e = _t(spark, sf_dir, "events")
    s = _t(spark, sf_dir, "supplier")
    return (
        e.join(
            F.broadcast(s),
            (F.col("user_id") % 10 + 1) == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# J11/J10 — dense type × weekday grid (bounded cross, fact pre-agg)
# ---------------------------------------------------------------------------


@register(
    "q_type_day_grid",
    tags=("J11", "J10", "A1"),
    oracle=f"""
{EV_CTE}
, types AS (SELECT DISTINCT event_type FROM ev),
dows AS (SELECT unnest(range(0, 7)) AS dow),
agg AS (
  SELECT event_type, isodow(ts) - 1 AS dow,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
)
SELECT t.event_type, CAST(d.dow AS INT) AS dow,
       COALESCE(a.n, 0) AS n_events
FROM types t CROSS JOIN dows d
LEFT JOIN agg a ON a.event_type = t.event_type AND a.dow = d.dow
""",
)
def q_type_day_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense event-type × weekday activity grid: tiny dim×dim cross
    (|types| × 7), LEFT-joined to the PRE-AGGREGATED fact and
    zero-filled — the make-the-zeroes-visible scaffold (the checked
    J11 siblings cross nation×status; this derives one axis with
    weekday()).  The fact is aggregated BEFORE it meets the grid, so
    the cross never multiplies fact rows — the only safe J11 shape at
    scale."""
    e = _t(spark, sf_dir, "events")
    agg = (
        e.select("event_type", F.weekday("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    types = e.select("event_type").distinct()
    dows = spark.range(7).select(F.col("id").cast("int").alias("dow"))
    grid = types.crossJoin(dows)
    return (
        grid.join(
            agg.withColumnRenamed("event_type", "a_type").withColumnRenamed(
                "dow", "a_dow"
            ),
            (F.col("event_type") == F.col("a_type"))
            & (F.col("dow") == F.col("a_dow")),
            "left",
        )
        .select(
            "event_type",
            "dow",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# J2/J7 — click→purchase conversion: earliest match in a bounded band
# ---------------------------------------------------------------------------


@register(
    "q_click_purchase",
    tags=("J2", "J7", "W4"),
    oracle=f"""
{EV_CTE}
, clicks AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts FROM ev
  WHERE event_type = 'click'
), buys AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
  WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id,
       CAST(arg_min(b.p_id, epoch_us(b.p_ts)) AS BIGINT) AS purchase_id,
       CAST(MIN(epoch_us(b.p_ts)) - MIN(epoch_us(c.c_ts)) AS BIGINT)
         AS gap_us
FROM clicks c JOIN buys b
  ON c.user_id = b.user_id
 AND b.p_ts > c.c_ts
 AND epoch_us(b.p_ts) <= epoch_us(c.c_ts) + 1800000000
GROUP BY c.user_id, c.click_id
""",
)
def q_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion: for each click, the EARLIEST
    purchase by the same user within the following 30 minutes — the
    both-bounds interval join plus a per-left top-1 (min_by), i.e. the
    batch twin of a stream-stream join whose consumer keeps the first
    match (the r11 J2 sibling counts view→click funnels; this one
    picks a representative).  Fixture (user_id, ts) pairs are unique,
    so min_by's key has no ties.  The time band bounds stream-side
    state exactly like the watermarked twin."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_uid"), F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    j = c.join(
        b,
        (F.col("user_id") == F.col("b_uid"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (
            F.unix_micros("p_ts")
            <= F.unix_micros("c_ts") + F.lit(1800000000)
        ),
    )
    return j.groupBy("user_id", "click_id").agg(
        F.min_by("p_id", "p_ts").alias("purchase_id"),
        (
            F.min(F.unix_micros("p_ts")) - F.min(F.unix_micros("c_ts"))
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# J6 — interval-overlap theta join over per-nation balance ranges
# ---------------------------------------------------------------------------


@register(
    "q_balance_overlap",
    tags=("J6", "A1"),
    oracle="""
WITH r AS (
  SELECT c_nationkey,
         CAST(ROUND(MIN(c_acctbal) * 100.0) AS BIGINT) AS lo,
         CAST(ROUND(MAX(c_acctbal) * 100.0) AS BIGINT) AS hi
  FROM customer GROUP BY c_nationkey
)
SELECT a.c_nationkey AS nation_a, b.c_nationkey AS nation_b,
       CAST(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS BIGINT)
         AS overlap_cents
FROM r a JOIN r b
  ON a.c_nationkey < b.c_nationkey
 AND a.lo <= b.hi AND b.lo <= a.hi
""",
)
def q_balance_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP theta join: per-nation customer balance ranges
    [min,max] (≤ 25 rows after aggregation) self-joined on range
    intersection — the genuinely non-equi condition class (the checked
    J6 siblings band on distance; this one intersects intervals).
    Both sides are AGGREGATES, so the nested-loop is bounded 25×25 by
    construction — the only safe theta shape at 100 TB: collapse to
    entity summaries first, theta-join the summaries.  Integer cents
    keep the overlap arithmetic exact."""
    c = _t(spark, sf_dir, "customer")
    r = c.groupBy("c_nationkey").agg(
        F.round(F.min("c_acctbal") * 100).cast("long").alias("lo"),
        F.round(F.max("c_acctbal") * 100).cast("long").alias("hi"),
    )
    a = r.select(
        F.col("c_nationkey").alias("nation_a"),
        F.col("lo").alias("a_lo"), F.col("hi").alias("a_hi"),
    )
    b = r.select(
        F.col("c_nationkey").alias("nation_b"),
        F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"),
    )
    return (
        a.join(
            b,
            (F.col("nation_a") < F.col("nation_b"))
            & (F.col("a_lo") <= F.col("b_hi"))
            & (F.col("b_lo") <= F.col("a_hi")),
        )
        .select(
            "nation_a",
            "nation_b",
            (
                F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo")
            ).alias("overlap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# J8 — as-of join with a TOLERANCE bound (stale matches nulled)
# ---------------------------------------------------------------------------


@register(
    "q_asof_tolerance",
    tags=("J8", "W2"),
    oracle=f"""
{EV_CTE}
, buys AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
  WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, event_id AS v_id, ts AS v_ts FROM ev
  WHERE event_type = 'view'
), matched AS (
  SELECT b.user_id, b.p_id, b.p_ts, v.v_id, v.v_ts
  FROM buys b ASOF LEFT JOIN views v
    ON b.user_id = v.user_id AND b.p_ts >= v.v_ts
)
SELECT user_id, p_id,
       CASE WHEN epoch_us(p_ts) - epoch_us(v_ts) <= 3600000000
            THEN CAST(v_id AS BIGINT) END AS view_id,
       CASE WHEN epoch_us(p_ts) - epoch_us(v_ts) <= 3600000000
            THEN CAST(epoch_us(p_ts) - epoch_us(v_ts) AS BIGINT)
       END AS age_us
FROM matched
""",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITH TOLERANCE: each purchase matched to
    the user's most recent prior view, but matches older than 1 hour
    are nulled out (kept as unmatched rows) — the staleness-bounded
    attribution semantics (the checked J8 siblings are unbounded
    forward/backward).  Implemented as the tagged-union + running
    last_value window — one shuffle, no join — with the tolerance
    applied as a post-filter on the matched age, exactly how a
    streaming twin would expire state.  DuckDB's native ASOF LEFT
    JOIN plus the same CASE is the oracle."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    b = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.unix_micros("ts").alias("t_us"),
        F.lit(1).alias("is_buy"),
        F.lit(None).cast("long").alias("v_id"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.lit(None).cast("long").alias("p_id"),
        F.unix_micros("ts").alias("t_us"),
        F.lit(0).alias("is_buy"),
        F.col("event_id").alias("v_id"),
    )
    # views sort before purchases at the same instant (is_buy asc) so a
    # same-µs view is visible to the purchase, matching p_ts >= v_ts
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_buy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = b.unionByName(v).withColumn(
        "last_v_id", F.last("v_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_v_ts",
        F.last(
            F.when(F.col("is_buy") == 0, F.col("t_us")), ignorenulls=True
        ).over(w),
    )
    m = u.filter(F.col("is_buy") == 1)
    fresh = F.col("t_us") - F.col("last_v_ts") <= 3600000000
    return m.select(
        "user_id",
        "p_id",
        F.when(fresh, F.col("last_v_id")).alias("view_id"),
        F.when(fresh, F.col("t_us") - F.col("last_v_ts")).alias("age_us"),
    )


# ---------------------------------------------------------------------------
# P3 — JSON parse + build + re-parse round trip
# ---------------------------------------------------------------------------


@register(
    "q_json_roundtrip",
    tags=("P3", "FN-string"),
    oracle=f"""
{EV_CTE}
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(
         to_json(struct_pack(
           t := event_type,
           k2 := 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
         )), '$.k2') AS BIGINT) AS k2,
       json_extract_string(
         to_json(struct_pack(
           t := event_type,
           k2 := 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
         )), '$.t') AS t
FROM ev WHERE event_id % 5 = 0
""",
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON round trip: extract k from the REAL props payload
    (get_json_object), build a NEW JSON document with to_json(struct),
    then re-parse it with a schema'd from_json and extract both fields
    — the parse→construct→parse cycle of a pipeline that rewrites
    event payloads (the checked P3 siblings each do one direction).
    Integer fields only, so the JSON text is canonical on both
    engines."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    k = F.get_json_object("props", "$.k").cast("long")
    built = F.to_json(
        F.struct(F.col("event_type").alias("t"), (2 * k).alias("k2"))
    )
    parsed = F.from_json(built, "t string, k2 long")
    return e.select(
        "event_id",
        k.alias("k"),
        parsed["k2"].alias("k2"),
        parsed["t"].alias("t"),
    )


# ---------------------------------------------------------------------------
# P4 — try_cast over temporal strings and numeric overflow
# ---------------------------------------------------------------------------


@register(
    "q_try_cast_temporal",
    tags=("P4", "P5"),
    oracle="""
WITH s AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0
              THEN strftime(o_orderdate, '%Y') || '-13-'
                   || strftime(o_orderdate, '%d')
              ELSE strftime(o_orderdate, '%Y-%m-%d')
         END AS ds,
         CASE WHEN o_orderkey % 4 = 0 THEN '99999999999999999999'
              ELSE CAST(o_orderkey AS VARCHAR) END AS ns
  FROM orders
), c AS (
  SELECT o_orderstatus, try_cast(ds AS DATE) AS d,
         try_cast(ns AS BIGINT) AS nk
  FROM s
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(d) AS BIGINT) AS n_dates,
       CAST(COUNT(*) - COUNT(d) AS BIGINT) AS n_bad_dates,
       MIN(d) AS first_date,
       CAST(COUNT(*) - COUNT(nk) AS BIGINT) AS n_overflow
FROM c GROUP BY o_orderstatus
""",
)
def q_try_cast_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast on TEMPORAL strings and numeric OVERFLOW — malformed
    dates (month 13) and out-of-int64 digit strings null out instead
    of raising under ANSI mode (the checked P4 siblings cover numeric
    width/float round-trips; this is the dirty-string-ingest shape).
    The malformed rows are built deterministically from the key so
    both engines see byte-identical inputs."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    ds = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.concat(
            F.date_format(d, "yyyy"), F.lit("-13-"), F.date_format(d, "dd")
        ),
    ).otherwise(F.date_format(d, "yyyy-MM-dd"))
    ns = F.when(
        F.col("o_orderkey") % 4 == 0, F.lit("99999999999999999999")
    ).otherwise(F.col("o_orderkey").cast("string"))
    c = o.select(
        "o_orderstatus",
        F.try_to_timestamp(ds, F.lit("yyyy-MM-dd")).cast("date").alias("d"),
        ns.cast("string").alias("ns"),
    ).withColumn("nk", F.expr("try_cast(ns AS BIGINT)"))
    return c.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("d").alias("n_dates"),
        (F.count(F.lit(1)) - F.count("d")).alias("n_bad_dates"),
        F.min("d").alias("first_date"),
        (F.count(F.lit(1)) - F.count("nk")).alias("n_overflow"),
    )


# ---------------------------------------------------------------------------
# S1 — both hidden _metadata provenance columns on a third table
# ---------------------------------------------------------------------------


@register(
    "q_file_row_profile",
    tags=("S1", "P1", "A1"),
    oracle="""
SELECT 'lineitem.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_idx,
       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS sum_idx
FROM lineitem
""",
)
def q_file_row_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH hidden provenance columns in one scan — `_metadata.file_name`
    grouping plus the `row_index` closed form (count, max = n-1,
    triangular sum) on the biggest fixture table (q_file_lineage pins
    file_name on events; q_row_index pins row_index on documents).
    One file per fixture table keeps the closed form exact; on a
    sharded table the same query profiles every shard in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("ri"),
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("ri").alias("max_idx"),
            F.sum("ri").alias("sum_idx"),
        )
    )


# ---------------------------------------------------------------------------
# T2 — keyed dedup keeping the HIGHEST-VALUE record (keep-best)
# ---------------------------------------------------------------------------


@register(
    "q_best_event",
    tags=("T2", "A1"),
    oracle=f"""
{EV_CTE}
SELECT user_id,
       CAST(arg_max(event_id,
                    CAST(ROUND(value * 1000000.0) AS BIGINT) * 10000000
                    + event_id) AS BIGINT) AS best_event_id,
       ROUND(MAX(value), 6) AS best_value,
       CAST(COUNT(*) AS BIGINT) AS n_seen
FROM ev GROUP BY user_id
""",
)
def q_best_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the BEST record by a value metric (the
    third dedup policy — q_dedup_events keeps first-seen,
    q_latest_event keeps last-in-time).  The max_by ordering key is a
    scalar bigint (fixed-point value ⊕ event_id tiebreak) so the
    representative is deterministic even under value ties, and the
    same key expression works in both engines (composite arg_max
    isn't portable)."""
    e = _t(spark, sf_dir, "events")
    key = F.round(F.col("value") * 1000000).cast("long") * F.lit(
        10000000
    ) + F.col("event_id")
    return e.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("best_event_id"),
        F.round(F.max("value"), 6).alias("best_value"),
        F.count(F.lit(1)).alias("n_seen"),
    )


# ---------------------------------------------------------------------------
# T4 — batch twin of run-length encoding over per-user event streams
# ---------------------------------------------------------------------------


@register(
    "q_run_lengths",
    tags=("T4", "W2", "A1"),
    oracle=f"""
{EV_CTE}
, seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rnt
  FROM ev
), runs AS (
  SELECT user_id, event_type, rn - rnt AS grp,
         CAST(COUNT(*) AS BIGINT) AS run_len
  FROM seq GROUP BY user_id, event_type, rn - rnt
)
SELECT event_type, run_len, CAST(COUNT(*) AS BIGINT) AS n_runs
FROM runs GROUP BY event_type, run_len
""",
)
def q_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length distribution of consecutive same-type events per
    user — the batch twin of a run-length-encoding stateful transducer
    (T4's state = current run; the checked siblings sessionize on time
    gaps or count streaks).  Classic rn − rn_by_type islands trick:
    the difference is constant exactly within a maximal run.  Ordering
    ties broken by event_id so both engines see one canonical
    sequence."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "grp"
        ),
    )
    runs = seq.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).alias("n_runs")
    )


# ---------------------------------------------------------------------------
# T5 — explicit repartition → coalesce pipeline (result identity)
# ---------------------------------------------------------------------------


@register(
    "q_shuffle_pipeline",
    tags=("T5", "A1"),
    oracle=f"""
{EV_CTE}
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM ev WHERE value > 1.0
GROUP BY event_type
""",
)
def q_shuffle_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical-layout pipeline: repartition(7, user_id) →
    filter → coalesce(3) → aggregate on a DIFFERENT key — the
    rewrite-the-layout-mid-plan shape (the checked T5 siblings use SQL
    hints; this is the DataFrame API form).  Results must be
    partitioning-invariant: the exact-sum fixed point and the
    order-insensitive oracle hash check exactly that.  coalesce(3)
    narrows without a shuffle; the groupBy then re-shuffles on
    event_type — three distinct exchanges the planner must keep
    straight."""
    e = _t(spark, sf_dir, "events")
    return (
        e.repartition(7, "user_id")
        .filter(F.col("value") > 1.0)
        .coalesce(3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# U1 — unionByName with missing columns (schema-evolution append)
# ---------------------------------------------------------------------------


@register(
    "q_union_evolved_agg",
    tags=("U1", "P5"),
    oracle=f"""
{EV_CTE}
, clicks AS (
  SELECT 'click' AS src, user_id, value FROM ev WHERE event_type = 'click'
), signups AS (
  SELECT 'signup' AS src, user_id, CAST(NULL AS DOUBLE) AS value
  FROM ev WHERE event_type = 'signup'
), u AS (
  SELECT * FROM clicks UNION ALL BY NAME SELECT * FROM signups
)
SELECT src, user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(value) AS BIGINT) AS n_valued,
       {oracle_exact_sum('COALESCE(value, 0.0)', VALUE)} AS sum_value
FROM u GROUP BY src, user_id
""",
)
def q_union_evolved_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation OVER a schema-evolved unionByName append: the
    second branch lacks the value column entirely and gets NULL-filled
    by NAME with scrambled column order (q_union_by_name pins the raw
    fill; this one proves the filled nulls flow correctly through a
    downstream aggregate — n_valued counts only real values while n
    counts both legs)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("src"), "user_id", "value"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.lit("signup").alias("src")  # scrambled order, no value
    )
    u = clicks.unionByName(signups, allowMissingColumns=True)
    return u.groupBy("src", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n_valued"),
        exact_sum(F.coalesce("value", F.lit(0.0)), VALUE).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# U2/U3 — BAG-semantics set operators composed (INTERSECT ALL / EXCEPT ALL)
# ---------------------------------------------------------------------------


@register(
    "q_setops_modes",
    tags=("U2", "U3", "A1"),
    oracle="""
WITH ret AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
ok AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'N'),
both_bag AS (SELECT l_suppkey FROM ret INTERSECT ALL
             SELECT l_suppkey FROM ok),
only_ret AS (SELECT l_suppkey FROM ret EXCEPT ALL
             SELECT l_suppkey FROM ok)
SELECT 'both' AS leg, l_suppkey, CAST(COUNT(*) AS BIGINT) AS copies
FROM both_bag GROUP BY l_suppkey
UNION ALL
SELECT 'only_returned', l_suppkey, CAST(COUNT(*) AS BIGINT)
FROM only_ret GROUP BY l_suppkey
""",
)
def q_setops_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL + EXCEPT ALL composed under BAG semantics: the
    per-supplier multiset of RETURNED shipments intersected/
    differenced against delivered-fine shipments, keeping MULTIPLICITY (min(a,b) copies /
    max(a-b,0) copies) — q_setops_years composes the DISTINCT-set
    trio; this is the ALL-variant twin where duplicate counts carry
    the signal (shipment volume, not membership).  The copies count
    per key pins the multiset cardinality exactly."""
    li = _t(spark, sf_dir, "lineitem")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    ok = li.filter(F.col("l_returnflag") == "N").select("l_suppkey")
    tag = lambda df, t: df.groupBy("l_suppkey").agg(  # noqa: E731
        F.count(F.lit(1)).alias("copies")
    ).select(F.lit(t).alias("leg"), "l_suppkey", "copies")
    return tag(ret.intersectAll(ok), "both").unionAll(
        tag(ret.exceptAll(ok), "only_returned")
    )


# ---------------------------------------------------------------------------
# O3 — range-clustered layout with a DESCENDING secondary sort
# ---------------------------------------------------------------------------


@register(
    "q_desc_range_layout",
    tags=("O3", "P2"),
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE o_totalprice >= 150000.0
""",
)
def q_desc_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartitionByRange + sortWithinPartitions with a DESCENDING
    secondary key (newest-biggest-first within each range bucket — the
    layout a top-k-per-key reader wants to early-exit on), where
    q_clustered_layout sorts ascending on one key.  The logical row
    set is unchanged; the order-insensitive oracle hash pins exactly
    that — layout ops must never change content."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 150000.0
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        .repartitionByRange(6, "o_custkey")
        .sortWithinPartitions("o_custkey", F.col("o_totalprice").desc())
    )


# ---------------------------------------------------------------------------
# X4 — fixed-size binary chunking with per-chunk digests
# ---------------------------------------------------------------------------


@register(
    "q_payload_chunks",
    tags=("X4", "FN-array"),
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n_bytes
  FROM documents WHERE doc_id < 300
), chunks AS (
  SELECT doc_id, n_bytes, i.i AS chunk_idx,
         md5(substr(h, CAST(i.i * 128 + 1 AS INT), 128)) AS chunk_md5
  FROM b, LATERAL (SELECT unnest(range(0, (n_bytes + 63) // 64)) AS i) i
)
SELECT doc_id,
       CAST(MAX(n_bytes) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       MIN(CASE WHEN chunk_idx = 0 THEN chunk_md5 END) AS first_chunk_md5,
       CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks
FROM chunks GROUP BY doc_id
""",
)
def q_payload_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size BINARY chunking with per-chunk digests — the
    content-addressed-storage prep stage (dedupe blocks, not files):
    split each payload into 64-byte blocks, fingerprint each, report
    the block profile per document (the checked X4 siblings sniff
    magic bytes / sample frames; this is the chunk-level pass).
    Chunking happens on the hex encoding (2 chars = 1 byte) so the
    same substring arithmetic is exact on both engines; digests are
    md5 over the hex text.  explode(sequence(...)) is the row
    generator — per-row fan-out is ⌈bytes/64⌉, linear in payload
    volume."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    b = d.select(
        "doc_id",
        F.hex(F.encode("text", "UTF-8")).alias("h"),
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
    ).filter(
        # zero-byte guard: Spark's sequence(0, -1) yields a DESCENDING
        # [0, -1] (two bogus chunk rows), while the oracle's
        # range(0, 0) is empty — drop empty payloads before the
        # generator so both engines emit no chunks for them
        F.col("n_bytes") > 0
    )
    chunks = b.select(
        "doc_id",
        "n_bytes",
        "h",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.col("n_bytes") + 63) / 64) - 1
            )
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "n_bytes",
        "chunk_idx",
        F.md5(
            F.encode(
                F.substring(
                    F.col("h"),
                    (F.col("chunk_idx") * 128 + 1).cast("int"),
                    128,
                ),
                "UTF-8",
            )
        ).alias("chunk_md5"),
    )
    return chunks.groupBy("doc_id").agg(
        F.max("n_bytes").alias("n_bytes"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.min(
            F.when(F.col("chunk_idx") == 0, F.col("chunk_md5"))
        ).alias("first_chunk_md5"),
        F.countDistinct("chunk_md5").alias("n_distinct_chunks"),
    )


# ---------------------------------------------------------------------------
# X2 — SimHash near-dup pairs over SHINGLE units (the scale mode)
# ---------------------------------------------------------------------------


@register("q_simhash_shingle_pairs", tags=("X2",))
def q_simhash_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with word-3-gram SHINGLE fingerprint
    units — the corpus-scale self-join mode (q_simhash_pairs is the
    token-unit form, whose blocker measurably saturates on this
    fixture's 31-word vocabulary: 14.24 % of all-pairs admitted vs
    0.0100 % shingled, SCALE.md §Round-10).  Rows-only (xxhash64-based
    fingerprints have no DuckDB twin); the pigeonhole-lossless
    equivalence to brute force is pytest-pinned for both unit modes
    (tests/test_extensions.py, tests/test_simhash_index.py).

    The shingle arrays come from corpus_shingle_toks, the relation
    the MinHash and prefix-join pipelines share; a persisted build of
    it is read from Spark's cache (pytest-pinned identical).  Its
    scan_fanout suits the fingerprint kernel fused on the scan (0.44×
    interleaved, OPTIMIZATION_r15.md)."""
    from ..operators.dedup import corpus_shingle_toks, simhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    toks = corpus_shingle_toks(spark, sf_dir)
    return simhash_near_duplicates(d, max_hamming=3, shingle=3, toks=toks)
