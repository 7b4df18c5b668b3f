"""Round-22 rotation stock (authored in round 14): one fresh shape for
each family that would sit at depth < 3 in the never-checked pool once
the published r15 shortlist (NOTES_r14.md) is consumed — keeping the
larder two panels ahead per the rotation discipline.  Same program as
plans/round10-21.py: every query is a different SHAPE from its checked
siblings (noted per docstring), integer-exact or convention-pinned so
the DuckDB twin hashes equal at any partitioning.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

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
# FN-map — map_filter + transform_values + fold: the
# threshold-then-reweight readout chain
# ---------------------------------------------------------------------------


@register(
    "q_map_filter_values",
    tags=("FN-map", "A1"),
    oracle=f"""
{EV_CTE}
, g AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) FILTER (WHERE n >= 3) AS BIGINT) AS n_frequent,
       CAST(SUM(CASE WHEN event_type = 'click' THEN n END) AS BIGINT)
         AS n_click,
       CAST(COALESCE(SUM(CASE WHEN n >= 3 THEN n END), 0) AS BIGINT)
         AS n_in_frequent
FROM g GROUP BY user_id
""",
)
def q_map_filter_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user type→count map THRESHOLDED with ``map_filter`` (keep
    entries with count ≥ 3) and folded with ``aggregate`` over
    ``map_values`` — the prune-then-total readout a feature store runs
    on sparse count maps.  The checked FN-map siblings build, zip,
    concat, or parse maps; filtering entries BY VALUE and folding the
    survivors is the remaining higher-order-map flavor.  ``element_at``
    on a missing key yields NULL, matching the oracle's unguarded
    conditional SUM; the fold's 0 seed matches its COALESCE."""
    e = _t(spark, sf_dir, "events")
    m = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "n"))
            ).alias("m")
        )
    )
    frequent = F.map_filter("m", lambda k, v: v >= 3)
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.size(frequent).cast("long").alias("n_frequent"),
        F.element_at("m", F.lit("click")).alias("n_click"),
        F.aggregate(
            F.map_values(frequent), F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("n_in_frequent"),
    )


# ---------------------------------------------------------------------------
# FN-map — transform_values reweighting + entry fold (second FN-map
# restock: the family is the pool's scarcest)
# ---------------------------------------------------------------------------


@register(
    "q_map_transform_fold",
    tags=("FN-map", "FN-array", "A1"),
    oracle=f"""
{EV_CTE}
, g AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN n * length(event_type) END) AS BIGINT)
         AS purchase_weight,
       CAST(SUM(n * length(event_type)) AS BIGINT) AS total_weight
FROM g GROUP BY user_id
""",
)
def q_map_transform_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user type→count map REWEIGHTED with ``transform_values``
    (count × key length — a stand-in for any per-key weight table
    folded into the value) and reduced with ``aggregate`` over
    ``map_entries`` — the reweight-then-total chain.  The checked
    FN-map siblings never rewrite values in place; transform_values is
    the one remaining map HOF.  Key-length weights keep the arithmetic
    integer-exact in both engines."""
    e = _t(spark, sf_dir, "events")
    m = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "n"))
            ).alias("m")
        )
    )
    weighted = F.transform_values("m", lambda k, v: v * F.length(k))
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.element_at(weighted, F.lit("purchase")).alias("purchase_weight"),
        F.aggregate(
            F.map_values(weighted),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# A3 — sketch readout FEEDING A SECOND PASS: count the rows inside the
# sketched interquartile band
# ---------------------------------------------------------------------------


@register(
    "q_approx_midband",
    tags=("A3", "A1", "J3"),
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         quantile_disc(l_quantity, 0.25) AS q25,
         quantile_disc(l_quantity, 0.75) AS q75,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(ANY_VALUE(q.q25) AS DOUBLE) AS q25,
       CAST(ANY_VALUE(q.q75) AS DOUBLE) AS q75,
       ANY_VALUE(q.n) AS n,
       CAST(COUNT(*) FILTER (WHERE l.l_quantity BETWEEN q.q25 AND q.q75)
            AS BIGINT) AS n_mid
FROM lineitem l JOIN q USING (l_returnflag)
GROUP BY l.l_returnflag
""",
)
def q_approx_midband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-percentile sketch whose readouts FEED A SECOND AGGREGATE
    pass: per returnflag, count the rows inside the sketched [q25, q75]
    band — the trimmed-population census robust estimators start from.
    The checked A3 siblings stop at the readout (quantiles, deciles,
    IQR, grid); closing the loop back over the data through a
    broadcast join of the tiny quantile relation is the fresh shape.

    Exactness: same argument as q_approx_quartiles — the (returnflag,
    {{0.25, 0.75}}) ranks are a SUBSET of that query's proven gate
    ranks (gates list in tests/test_batch_queries.py covers this
    grouping), so percentile_approx at accuracy 10000 returns exactly
    DuckDB's quantile_disc and the band edges are identical integers.

    Scale: pass 1 is one partial-agg sketch; the 3-row quantile
    relation broadcasts; pass 2 is one more partial agg — no
    quantile-sized shuffle ever forms."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", [0.25, 0.75], 10000).alias("qs"),
        F.count(F.lit(1)).alias("n"),
    )
    q = q.select(
        "l_returnflag",
        F.col("qs")[0].alias("q25"),
        F.col("qs")[1].alias("q75"),
        "n",
    )
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("q25").alias("q25"),
            F.any_value("q75").alias("q75"),
            F.any_value("n").alias("n"),
            F.count_if(
                F.col("l_quantity").between(F.col("q25"), F.col("q75"))
            ).alias("n_mid"),
        )
    )


# ---------------------------------------------------------------------------
# A4 — CUBE over a DERIVED temporal key × a JOINED dimension attribute
# ---------------------------------------------------------------------------


@register(
    "q_cube_year_segment",
    tags=("A4", "A1", "J3", "FN-datetime"),
    oracle=f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       c_mktsegment AS seg,
       CAST(GROUPING(EXTRACT(year FROM o_orderdate)) * 2
            + GROUPING(c_mktsegment) AS INT) AS lvl,
       CAST(COUNT(*) AS BIGINT) AS n,
       {oracle_exact_sum("o_totalprice")} AS sum_price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (EXTRACT(year FROM o_orderdate), c_mktsegment)
""",
)
def q_cube_year_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (order year, customer segment) — one grouping key
    DERIVED from a timestamp, the other arriving through a BROADCAST
    join — with the grouping_id level decode and exact-cents money.
    The checked A4 siblings cube/rollup stored columns of one table;
    a lattice whose axes cross a join is the data-mart shape (the
    dimension attribute only exists after enrichment).

    Scale: customer broadcasts under the fact scan; CUBE expands each
    row into 4 lattice cells BEFORE the partial aggregate, so the
    shuffle carries (4 × |groups|) partial rows, not 4 × |orders|."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).withColumn(
        "yr", F.year("o_orderdate")
    ).withColumn("seg", F.col("c_mktsegment"))
    return (
        j.cube("yr", "seg")
        .agg(
            (
                F.grouping("yr").cast("int") * 2
                + F.grouping("seg").cast("int")
            ).alias("lvl"),
            F.count(F.lit(1)).alias("n"),
            exact_sum("o_totalprice", MONEY).alias("sum_price_cents"),
        )
        .select("yr", "seg", "lvl", "n", "sum_price_cents")
    )


# ---------------------------------------------------------------------------
# A5 + W4 — tumbling buckets reduced to the PEAK bucket per day
# ---------------------------------------------------------------------------


@register(
    "q_tumbling_10m_peak",
    tags=("A5", "W4", "A1", "FN-datetime"),
    oracle=f"""
{EV_CTE}
, b AS (
  SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS bstart,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
)
SELECT day,
       CAST(arg_max(bstart, n * 1000 + (143 - (epoch_us(bstart)
             % 86400000000) // 600000000)) AS TIMESTAMP) AS peak_bucket,
       CAST(MAX(n) AS BIGINT) AS peak_n
FROM b GROUP BY day
""",
)
def q_tumbling_10m_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling buckets reduced to each day's PEAK bucket
    (argmax with an earliest-bucket tie-break) — the traffic-spike
    report.  The checked A5 siblings emit every bucket; collapsing the
    bucket axis through a second argmax aggregate is the fresh
    composition (tumble → rank-1-per-day without a window function).

    Tie-break: the argmax key packs (count, 143 − bucket-index-in-day)
    into one integer — equal counts resolve to the EARLIEST bucket,
    deterministically in both engines (144 ten-minute buckets per day;
    counts × 1000 dominate the index term)."""
    e = _t(spark, sf_dir, "events")
    b = (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("bstart"),
            F.date_trunc("day", F.col("w.start")).alias("day"),
            "n",
        )
    )
    # integer `div` end-to-end (no double quotient to reason about)
    idx = F.expr(
        "(unix_micros(bstart) % 86400000000) div 600000000"
    )
    key = F.col("n") * 1000 + (F.lit(143) - idx)
    return b.groupBy("day").agg(
        F.max_by("bstart", key).alias("peak_bucket"),
        F.max("n").alias("peak_n"),
    )


# ---------------------------------------------------------------------------
# A6 — sliding window over an exact-cents MONEY metric
# ---------------------------------------------------------------------------


@register(
    "q_sliding_8h_value",
    tags=("A6", "A1"),
    oracle=f"""
{EV_CTE}
SELECT make_timestamp(((epoch_us(ts) // 14400000000) - k.k)
                      * 14400000000) AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n,
       {oracle_exact_sum("value", VALUE)} AS sum_value
FROM ev CROSS JOIN (SELECT unnest(range(0, 2)) AS k) k
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_sliding_8h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window(ts, '8 hours', '4 hours') over the purchase stream
    summing the VALUE column on the exact integer-micros basis — the rolling
    revenue curve.  The checked A6 siblings count rows, distincts, or
    priorities; carrying a MONEY aggregate through the slide (exact at
    any partitioning via the integer basis) is the remaining metric
    flavor.  Width = 2 × slide, so the oracle replicates each purchase
    into exactly 2 buckets with integer-µs arithmetic."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "8 hours", "4 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# A7 — per-session BOOKENDS: first/last event type inside each session
# ---------------------------------------------------------------------------


@register(
    "q_session_bookends",
    tags=("A7", "A1"),
    oracle=f"""
{EV_CTE}
, p AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts)
                   - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id))
                   >= 1200000000
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ev
), s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM p
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       arg_min(event_type, (epoch_us(ts) // 1000000) * 10000000 + event_id) AS first_type,
       arg_max(event_type, (epoch_us(ts) // 1000000) * 10000000 + event_id) AS last_type
FROM s GROUP BY user_id, sid
""",
)
def q_session_bookends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-minute-gap sessions emitting each session's BOOKENDS — the
    first and last event type — plus start and size: the entry/exit
    funnel row.  The checked A7 siblings count, rate, span, or roll up
    sessions; reading ORDERED VALUES out of the session interior
    (min_by/max_by inside a session_window aggregate) is the fresh
    shape.

    Determinism: the ordering key packs (TRUNCATED epoch seconds ×
    10⁷ + event_id) into one bigint — second-resolution ties resolve
    by event id IDENTICALLY in both engines (ids < 10⁷ per the
    documented fixture envelope; 2024 epoch-seconds × 10⁷ ≈ 1.7 × 10¹⁶
    ≪ 2⁶³).  The oracle floors via integer division `epoch_us // 10⁶`,
    NOT DuckDB's epoch() — epoch() returns a fractional DOUBLE whose
    µs term would out-rank event_id inside a shared second (one such
    same-user same-second collision exists at sf0.1; probed).
    Session identity matches session_window's gap semantics (a new
    session starts when the gap is ≥ 20 min)."""
    e = _t(spark, sf_dir, "events")
    key = F.unix_timestamp("ts") * F.lit(10_000_000) + F.col("event_id")
    return (
        e.groupBy("user_id", F.session_window("ts", "20 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("event_type", key).alias("first_type"),
            F.max_by("event_type", key).alias("last_type"),
        )
        .select(
            "user_id", "session_start", "n_events", "first_type", "last_type"
        )
    )


# ---------------------------------------------------------------------------
# A9 — pivot on a SNOWFLAKED dimension attribute (region names through
# two broadcast hops)
# ---------------------------------------------------------------------------


@register(
    "q_pivot_region_counts",
    tags=("A9", "J3", "J5", "A1"),
    oracle="""
SELECT c_mktsegment AS seg,
       CAST(COUNT(*) FILTER (WHERE r_name = 'AFRICA') AS BIGINT) AS africa,
       CAST(COUNT(*) FILTER (WHERE r_name = 'AMERICA') AS BIGINT) AS america,
       CAST(COUNT(*) FILTER (WHERE r_name = 'ASIA') AS BIGINT) AS asia,
       CAST(COUNT(*) FILTER (WHERE r_name = 'EUROPE') AS BIGINT) AS europe,
       CAST(COUNT(*) FILTER (WHERE r_name = 'MIDDLE EAST') AS BIGINT)
         AS middle_east
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY c_mktsegment
""",
)
def q_pivot_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer counts pivoted to REGION columns per market segment,
    the region names arriving through a two-hop snowflake (customer →
    nation → region, both broadcast).  The checked A9 siblings pivot
    stored or derived columns of one table; pivoting a JOINED
    attribute is the remaining provenance, and the explicit 5-region
    values list keeps the schema fixed and skips the distinct-discovery
    job (both required at 100 TB).  Empty cells are zero-filled to
    match the oracle's COUNT FILTER."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)  # bounded: 5-row region dim
    p = (
        j.groupBy(F.col("c_mktsegment").alias("seg"))
        .pivot(
            "r_name", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        )
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "seg",
        F.coalesce(F.col("AFRICA"), F.lit(0)).alias("africa"),
        F.coalesce(F.col("AMERICA"), F.lit(0)).alias("america"),
        F.coalesce(F.col("ASIA"), F.lit(0)).alias("asia"),
        F.coalesce(F.col("EUROPE"), F.lit(0)).alias("europe"),
        F.coalesce(F.col("MIDDLE EAST"), F.lit(0)).alias("middle_east"),
    )


# ---------------------------------------------------------------------------
# F1 — scalar Python UDF: vowel census (built-in twin documented)
# ---------------------------------------------------------------------------


@register(
    "q_udf_rot13",
    tags=("F1", "FN-string"),
    oracle="""
SELECT doc_id,
       translate(substring(text, 1, 12),
                 'abcdefghijklmnopqrstuvwxyz',
                 'nopqrstuvwxyzabcdefghijklm') AS rot13_prefix
FROM documents WHERE doc_id < 400
""",
)
def q_udf_rot13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF #7 (F1 surface coverage): ROT13 of each
    document's 12-char prefix — a character-MAPPING body (str → str
    through a substitution table), the signature flavor the checked F1
    siblings (counts, digests, distances, reversals, case flips) don't
    cover.  Built-in twin and oracle: one ``translate`` over the
    lowercase alphabet; non-letters and uppercase pass through
    unchanged in both.  Bounded to 400 docs like its F1 siblings so
    the deliberate slow path stays off the bench's critical path."""
    import codecs

    @F.udf("string")
    def rot13_prefix(s: str) -> str:
        # mapping limited to lowercase a-z, like the oracle's translate
        return "".join(
            codecs.encode(ch, "rot13") if "a" <= ch <= "z" else ch
            for ch in s[:12]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return d.select("doc_id", rot13_prefix("text").alias("rot13_prefix"))


# ---------------------------------------------------------------------------
# F2 — pandas UDF: integer square-root bucket (exact IEEE sqrt)
# ---------------------------------------------------------------------------


@register(
    "q_pandas_udf_isqrt",
    tags=("F2", "FN-math", "A1"),
    oracle="""
WITH d AS (
  SELECT o_orderstatus,
         CAST(FLOOR(SQRT(CAST(ROUND(o_totalprice * 100) AS BIGINT)))
              AS BIGINT) AS isqrt_cents
  FROM orders
)
SELECT o_orderstatus, isqrt_cents, CAST(COUNT(*) AS BIGINT) AS n
FROM d GROUP BY o_orderstatus, isqrt_cents
""",
)
def q_pandas_udf_isqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF computing the INTEGER SQUARE ROOT of
    each order's price in cents (floor of the correctly-rounded IEEE
    sqrt — numpy, Spark, and DuckDB all use the hardware sqrt, which
    IEEE 754 requires to be exactly rounded, so the floor is
    deterministic across engines), histogrammed per status.  The
    checked F2 siblings clip, grade, hash, tag, and iterate; a
    NUMERIC KERNEL whose exactness argument rests on IEEE
    correct-rounding is the fresh flavor."""

    @pandas_udf("long")
    def isqrt_cents(p: pd.Series) -> pd.Series:
        import numpy as np

        cents = np.floor(p.to_numpy() * 100 + 0.5).astype("int64")
        return pd.Series(np.floor(np.sqrt(cents)).astype("int64"))

    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", isqrt_cents("o_totalprice").alias("isqrt_cents"))
        .groupBy("o_orderstatus", "isqrt_cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# F3 — grouped-agg pandas UDAF: integer span (max − min)
# ---------------------------------------------------------------------------


@register(
    "q_grouped_agg_nunique",
    tags=("F3", "A1", "A2"),
    oracle="""
SELECT source,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS n_lengths,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY source
""",
)
def q_grouped_agg_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF #5: DISTINCT-cardinality reductions
    (pandas ``nunique`` over two columns) per source shard — the
    profiling columns a dataset card reports.  The checked F3 siblings
    compute weighted means, dependent two-pass reductions, bitmasks,
    modes, medians, and spans; a SET-SIZED reduction (state is a hash
    set, not a scalar accumulator) is the remaining UDAF state shape.
    Integer-exact by construction; the oracle is the relational
    COUNT(DISTINCT)."""

    @pandas_udf("long")
    def nunique(s: pd.Series) -> int:
        return int(s.nunique())

    @pandas_udf("long")
    def n_rows(s: pd.Series) -> int:
        # grouped-agg pandas UDFs cannot mix with JVM aggregates in one
        # agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count is a UDAF too
        return int(len(s))

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        nunique("lang").alias("n_langs"),
        nunique("n_chars").alias("n_lengths"),
        n_rows("doc_id").alias("n"),
    )


# ---------------------------------------------------------------------------
# F4 — applyInPandas: per-user min-max scaling (feature normalization)
# ---------------------------------------------------------------------------


@register(
    "q_apply_in_pandas_scale",
    tags=("F4", "A1", "P5"),
    oracle=f"""
{EV_CTE}
, c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS micros,
         MIN(CAST(ROUND(value * 1000000) AS BIGINT))
           OVER (PARTITION BY user_id) AS lo,
         MAX(CAST(ROUND(value * 1000000) AS BIGINT))
           OVER (PARTITION BY user_id) AS hi
  FROM ev WHERE event_type = 'purchase'
)
SELECT event_id,
       CASE WHEN hi > lo
            THEN CAST(micros - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
       END AS scaled
FROM c
""",
)
def q_apply_in_pandas_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas min-max scaling each user's purchase values to
    [0, 1] — the grouped feature-normalization kernel.  The checked F4
    siblings emit reductions, ordinals, runs, and prefix sums; a
    row-preserving AFFINE transform whose parameters are group
    statistics is the remaining grouped-map shape.  Exactness: the
    scale runs on the integer-micros basis, so numerator and
    denominator are exact int64 and the single IEEE division is
    bit-identical in both engines; a degenerate group (hi == lo) emits
    NULL, matching the oracle's unguarded CASE."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        micros = np.floor(pdf["value"].to_numpy() * 1e6 + 0.5).astype(
            "int64"
        )
        lo, hi = micros.min(), micros.max()
        scaled = (
            (micros - lo).astype("float64") / float(hi - lo)
            if hi > lo
            else np.full(len(micros), np.nan)
        )
        out = pd.DataFrame({"event_id": pdf["event_id"], "scaled": scaled})
        if hi == lo:
            out["scaled"] = None
        return out

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )
    return e.groupBy("user_id").applyInPandas(
        scale, "event_id long, scaled double"
    )


# ---------------------------------------------------------------------------
# F5 + P2 — mapInPandas: predicate + derivation fused in one pass
# ---------------------------------------------------------------------------


@register(
    "q_map_in_pandas_flags",
    tags=("F5", "P2", "X5"),
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e
FROM documents
WHERE contains(text, 'the') AND doc_id < 1200
""",
)
def q_map_in_pandas_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas fusing a PREDICATE (keep docs containing 'the') with
    two derivations (word count, letter-'e' census) in one Arrow pass —
    the filter-and-featurize kernel shape.  The checked F5 siblings
    project, parse, chunk, digest, or derive on EVERY row; dropping
    rows inside the iterator (output cardinality < input) is the
    remaining mapInPandas contract corner.  The pre-filter on doc_id
    keeps the Python path bounded like its siblings."""

    def flags(it):
        for pdf in it:
            keep = pdf[pdf["text"].str.contains("the", regex=False)]
            if len(keep):
                yield pd.DataFrame(
                    {
                        "doc_id": keep["doc_id"],
                        "n_words": keep["text"].str.split(" ").str.len(),
                        "n_e": keep["text"].str.count("e"),
                    }
                )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1200)
    return d.select("doc_id", "text").mapInPandas(
        flags, "doc_id long, n_words long, n_e long"
    )


# ---------------------------------------------------------------------------
# F6 — UDTF: sentence segmentation with per-sentence stats
# ---------------------------------------------------------------------------


@register(
    "q_udtf_sentences",
    tags=("F6", "X5"),
    oracle="""
SELECT doc_id,
       CAST(i AS INT) AS sent_idx,
       CAST(len(string_split(trim(s[i]), ' ')) AS BIGINT) AS n_words
FROM (
  SELECT doc_id, string_split(text, '.') AS s
  FROM documents WHERE doc_id < 150
), UNNEST(range(1, len(s) + 1)) AS r(i)
WHERE length(trim(s[i])) > 0
""",
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF #6: SENTENCE segmentation — split on '.', drop
    whitespace-only fragments, emit (index, word count) per sentence.
    The checked F6 siblings emit n-grams, windows, digit expansions,
    type words, and skip-pairs — none SUPPRESSES fragments, so the
    variable-arity yield (0..n rows per input row, holes allowed) is
    the remaining UDTF contract corner.  The oracle reproduces the
    split/trim/filter pipeline with DuckDB list functions; sent_idx is
    the 1-based PRE-FILTER index in both engines, so dropped fragments
    leave visible gaps that pin the indexing convention.

    Convention pin (r14 ADVICE): DuckDB trim() strips SPACES only, so
    the UDTF strips ' ' explicitly — Python's bare strip() would also
    eat tabs/newlines and diverge on any document whose text carries
    non-space whitespace adjacent to a '.' (currently fixture-masked;
    pinned structurally instead of by luck)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, n_words long")
    class SentenceUDTF:
        def eval(self, text: str):
            for i, frag in enumerate(text.split("."), start=1):
                frag = frag.strip(" ")
                if frag:
                    yield i, len(frag.split(" "))

    spark.udtf.register("sentence_udtf", SentenceUDTF)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    d.createOrReplaceTempView("__udtf_docs_sentences")
    return spark.sql(
        "SELECT doc_id, t.sent_idx, t.n_words "
        "FROM __udtf_docs_sentences, LATERAL sentence_udtf(text) t"
    )


# ---------------------------------------------------------------------------
# J1 + J3 — stream-static join read out as a per-segment RATE
# ---------------------------------------------------------------------------


@register(
    "q_stream_static_seg_rate",
    tags=("J1", "J3", "A1"),
    oracle=f"""
{EV_CTE}
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_purchases,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS purchase_rate
FROM ev JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def q_stream_static_seg_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment read out as a CONVERSION RATE per
    market segment — counts plus their ratio (one IEEE division of two
    exact int64 counts, bit-identical in both engines).  The checked
    J1 siblings emit enriched rows, defaults, snowflake chains, or
    count/sum profiles; deriving a RATIO metric from the enriched
    aggregate is the funnel-KPI readout shape.

    Scale: customer broadcasts (the J1 invariant); events never
    shuffle before the 5-group final aggregate."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    n_purch = F.count_if(F.col("event_type") == "purchase")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_purch.alias("n_purchases"),
            (
                n_purch.cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("purchase_rate"),
        )
    )


# ---------------------------------------------------------------------------
# J2 + J7 — error→purchase RECOVERY inside a 2-hour horizon
# ---------------------------------------------------------------------------


@register(
    "q_error_then_purchase",
    tags=("J2", "J7", "J9", "A1"),
    oracle=f"""
{EV_CTE}
, err AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'error'),
rec AS (
  SELECT DISTINCT e.user_id, e.event_id
  FROM err e JOIN ev p
    ON p.user_id = e.user_id AND p.event_type = 'purchase'
   AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 2 HOUR
)
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(COUNT(r.event_id) AS BIGINT) AS n_recovered
FROM err e LEFT JOIN rec r
  ON r.user_id = e.user_id AND r.event_id = e.event_id
GROUP BY e.user_id
""",
)
def q_error_then_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECOVERY analysis: per user, how many error events were followed
    by a purchase within 2 hours (the error didn't lose the sale).  The
    checked J2/J7 siblings pair clicks↔purchases, signups, views, and
    NEGATIVE windows; an EXISTS-style interval join (left-semi inside
    the horizon, then folded into a per-user recovery census) is the
    remaining conversion flavor.  Semi-join semantics make multiplicity
    irrelevant — each error counts at most once however many purchases
    land in its window (6 / 79 / 726 recovered errors per fixture tier;
    vacuity-probed).

    Scale: both sides shuffle once on user_id; the interval predicate
    prunes inside each key group, and the semi join never materializes
    the per-error purchase fan-out."""
    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"), F.col("event_id").alias("e_id")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    recovered = (
        err.join(
            pur,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("e_ts"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 2 HOURS")),
            "left_semi",
        )
        # re-alias so the outer self-reference to `err` stays unambiguous
        .select(
            F.col("user_id").alias("r_user"), F.col("e_id").alias("r_id")
        )
    )
    return (
        err.join(
            recovered,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("e_id") == F.col("r_id")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.count("r_id").alias("n_recovered"),
        )
    )


# ---------------------------------------------------------------------------
# J6 + J4 — within-customer price OUTRANK pairs (temporal theta)
# ---------------------------------------------------------------------------


@register(
    "q_price_outrank_pairs",
    tags=("J6", "J4", "A1"),
    oracle="""
SELECT o1.o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT o2.o_orderkey) AS BIGINT) AS n_upgraders
FROM orders o1 JOIN orders o2
  ON o1.o_custkey = o2.o_custkey
 AND o2.o_orderdate > o1.o_orderdate
 AND o2.o_totalprice >= 2 * o1.o_totalprice
GROUP BY o1.o_custkey
""",
)
def q_price_outrank_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-customer OUTRANK pairs: (earlier order, later order) where
    the later order is at least 2× the earlier's value — the
    basket-growth signal.  The checked J6 siblings compare balances,
    line pairs, banded self-joins, containment, and 30-day reorders; a
    theta join whose predicate couples TIME ORDER with a VALUE RATIO is
    the remaining two-sided inequality shape.

    Scale: the only equi-key is o_custkey, so the pair fan-out is
    bounded by Σ|orders-per-customer|² (~10² per key at any SF — order
    counts per customer are SF-invariant); the ratio and date
    predicates prune inside each key group before the aggregate."""
    o = _t(spark, sf_dir, "orders")
    o1 = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("d1"),
        F.col("o_totalprice").alias("p1"),
    )
    o2 = o.select(
        F.col("o_custkey").alias("c2"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderdate").alias("d2"),
        F.col("o_totalprice").alias("p2"),
    )
    return (
        o1.join(
            o2,
            (F.col("custkey") == F.col("c2"))
            & (F.col("d2") > F.col("d1"))
            & (F.col("p2") >= 2 * F.col("p1")),
        )
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("k2").alias("n_upgraders"),
        )
    )


# ---------------------------------------------------------------------------
# J8 + W2 — SELF as-of: each order annotated from the customer's
# previous order
# ---------------------------------------------------------------------------


@register(
    "q_self_asof_orders",
    tags=("J8", "W2", "FN-datetime"),
    oracle="""
WITH w AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_date,
         lag(o_totalprice) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_price
  FROM orders
)
SELECT o_orderkey,
       CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days,
       CAST(ROUND(o_totalprice * 100) - ROUND(prev_price * 100) AS BIGINT)
         AS delta_cents
FROM w WHERE prev_date IS NOT NULL
""",
)
def q_self_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF as-of: each order annotated with the SAME customer's most
    recent PRIOR order (gap in days, price delta in exact cents) — the
    repeat-purchase cadence row.  The checked J8 siblings as-of join
    TWO relations (clicks→purchases, tolerances, LOCF); the
    one-relation backward as-of — compiled to a lag carry over one
    keyed sort, no join at all — is the remaining formulation, and the
    same plan shape the carry-vs-join scale probe (SCALE.md
    §Round-13/14) proves flat in per-key depth.

    Ties: (o_orderdate, o_orderkey) ordering makes the predecessor
    deterministic in both engines; date_diff on day-truncated
    timestamps is exact integer arithmetic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ann = o.select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    ).filter(F.col("prev_date").isNotNull())
    return ann.select(
        "o_orderkey",
        F.datediff("o_orderdate", "prev_date").cast("long").alias("gap_days"),
        (
            F.round(F.col("o_totalprice") * 100)
            - F.round(F.col("prev_price") * 100)
        )
        .cast("long")
        .alias("delta_cents"),
    )


# ---------------------------------------------------------------------------
# J9 — anti-join census: parts with NO recent shipment
# ---------------------------------------------------------------------------


@register(
    "q_parts_never_recent",
    tags=("J9", "A1"),
    oracle="""
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_stale_parts,
       CAST(MIN(p_partkey) AS BIGINT) AS min_partkey
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey
    AND l.l_shipdate > TIMESTAMP '2001-01-01'
)
GROUP BY p_brand
""",
)
def q_parts_never_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STALE-CATALOG census: parts with NO shipment after 2001-01-01
    (anti join against the date-filtered fact), counted per brand — the
    discontinuation candidate list.  The checked J9 siblings anti-join
    on full-history facts or semi∧anti combinations; an anti join whose
    right side is DATE-SCOPED (absence-of-RECENT-activity, not
    absence-of-any) is the remaining flavor, and the one that needs the
    filter pushed BELOW the anti join to stay cheap (9 / 50 / 544
    stale parts per fixture tier; vacuity-probed).

    Scale: the shipdate filter prunes the fact scan before the
    anti-join shuffle; the part side shuffles once on partkey."""
    p = _t(spark, sf_dir, "part")
    recent = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("2001-01-01").cast("timestamp"))
        .select("l_partkey")
    )
    stale = p.join(
        recent, p.p_partkey == recent.l_partkey, "left_anti"
    )
    return stale.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_stale_parts"),
        F.min("p_partkey").alias("min_partkey"),
    )


# ---------------------------------------------------------------------------
# J11 + J10 — full STATUS × PRIORITY grid, zero-filled
# ---------------------------------------------------------------------------


@register(
    "q_status_priority_grid",
    tags=("J11", "J10", "A1"),
    oracle=f"""
WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
p AS (SELECT DISTINCT o_orderpriority FROM orders),
g AS (SELECT o_orderstatus, o_orderpriority FROM s CROSS JOIN p),
a AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_exact_sum("o_totalprice")} AS sum_price
  FROM orders GROUP BY 1, 2
)
SELECT g.o_orderstatus AS status, g.o_orderpriority AS priority,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n,
       CAST(COALESCE(a.sum_price, 0) AS DOUBLE) AS sum_price
FROM g LEFT JOIN a
  ON g.o_orderstatus = a.o_orderstatus
 AND g.o_orderpriority = a.o_orderpriority
""",
)
def q_status_priority_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense STATUS × PRIORITY report grid (3 × 5), zero-filled where
    no orders land — both axes distinct'd from the SAME fact table
    (the checked J11 siblings grid stored dims, generated axes, or
    cross-table pairs; a self-derived two-axis lattice is the
    remaining provenance).  The bounded cross join builds the 15-cell
    frame; the aggregate LEFT-joins onto it so empty cells survive
    with explicit zeros — the report-template contract a BI export
    needs (cells must exist even when empty).

    # bounded: both sides are ≤ 5-row distinct'd dimension relations"""
    o = _t(spark, sf_dir, "orders")
    s = o.select(F.col("o_orderstatus").alias("status")).distinct()
    p = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    grid = s.crossJoin(p)  # bounded: 3 × 5 dimension grid
    a = o.groupBy(
        F.col("o_orderstatus").alias("a_status"),
        F.col("o_orderpriority").alias("a_priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        exact_sum("o_totalprice", MONEY).alias("sum_raw"),
    )
    return (
        grid.join(
            a,
            (F.col("status") == F.col("a_status"))
            & (F.col("priority") == F.col("a_priority")),
            "left",
        )
        .select(
            "status",
            "priority",
            F.coalesce("n_raw", F.lit(0)).alias("n"),
            F.coalesce("sum_raw", F.lit(0.0)).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# O1 + O2 + U1 — global EXTREMES band: top-5 and bottom-5 in one result
# ---------------------------------------------------------------------------


@register(
    "q_global_extremes",
    tags=("O1", "O2", "U1"),
    oracle="""
(SELECT 'top' AS side, o_orderkey, o_totalprice
 FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 5)
UNION ALL
(SELECT 'bottom' AS side, o_orderkey, o_totalprice
 FROM orders ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 5)
""",
)
def q_global_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both GLOBAL EXTREMES in one result: the 5 priciest and 5
    cheapest orders, side-labelled and unioned — the outlier bookends a
    data-quality report prints.  The checked O1/O2 siblings sort or
    limit in ONE direction; a plan with TWO independent
    TakeOrderedAndProject branches over the same scan (each a
    per-partition top-k + driver merge of k·partitions rows — never a
    full global sort) unioned into one relation is the remaining
    ordered-readout shape.  (o_totalprice, o_orderkey) composite keys
    make both limits deterministic."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    top = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").desc())
        .limit(5)
        .select(F.lit("top").alias("side"), "o_orderkey", "o_totalprice")
    )
    bottom = (
        o.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .limit(5)
        .select(F.lit("bottom").alias("side"), "o_orderkey", "o_totalprice")
    )
    return top.unionAll(bottom)


# ---------------------------------------------------------------------------
# O3 — range partitioning on a COMPOSITE key + an independent
# within-partition cluster key
# ---------------------------------------------------------------------------


@register(
    "q_range2_layout",
    tags=("O3", "P2"),
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_quantity >= 30
""",
)
def q_range2_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartitionByRange on the COMPOSITE (returnflag, shipdate) key —
    range co-location for flag-then-time scans, the sort-order-friendly
    sibling of hash bucketing — then sortWithinPartitions on an
    INDEPENDENT derived cluster key (price cents descending) so each
    range file also serves price-ordered reads.  The checked O3
    siblings hash composite keys or range-sort a single stored column;
    composite RANGE partitioning with a third-column cluster sort is
    the remaining layout-matrix cell.  Content pinned by the
    order-insensitive oracle hash: layout ops must never change the
    row set."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    m = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_shipdate",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return m.repartitionByRange(
        6, "l_returnflag", "l_shipdate"
    ).sortWithinPartitions(F.col("price_cents").desc())


# ---------------------------------------------------------------------------
# P3 — NESTED-path JSON extraction (construct → extract within each
# engine)
# ---------------------------------------------------------------------------


@register(
    "q_json_nested_path",
    tags=("P3", "FN-string", "A1"),
    oracle=f"""
{EV_CTE}
, j AS (
  SELECT '{{"u": {{"id": ' || user_id || ', "t": "' || event_type || '"}}}}'
           AS doc
  FROM ev
), x AS (
  SELECT CAST(json_extract_string(doc, '$.u.id') AS BIGINT) AS uid,
         json_extract_string(doc, '$.u.t') AS typ
  FROM j
)
SELECT typ, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(uid) AS BIGINT) AS uid_sum
FROM x GROUP BY typ
""",
)
def q_json_nested_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-path JSON extraction: each engine renders a two-level
    document from columns, then reads it back through the dotted path
    '$.u.id' / '$.u.t' — pinning that nested traversal (not just flat
    key lookup) parses identically.  The checked P3 siblings handle
    flat kv, maps, tuples, malformed rows, and CSV; a NESTED object
    path is the remaining extraction axis.  The aggregate over the
    extracted values proves the round-trip is lossless (uid_sum
    reproduces the raw user_id sum)."""
    e = _t(spark, sf_dir, "events")
    doc = F.format_string(
        '{"u": {"id": %d, "t": "%s"}}', F.col("user_id"), F.col("event_type")
    )
    x = e.select(
        F.get_json_object(doc, "$.u.id").cast("long").alias("uid"),
        F.get_json_object(doc, "$.u.t").alias("typ"),
    )
    return x.groupBy("typ").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("uid").alias("uid_sum"),
    )


# ---------------------------------------------------------------------------
# P4 + P5 — round-trip identity-law census across three cast cycles
# ---------------------------------------------------------------------------


@register(
    "q_roundtrip_casts",
    tags=("P4", "P5", "A1"),
    oracle=f"""
{EV_CTE}
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (
         WHERE CAST(CAST(event_id AS VARCHAR) AS BIGINT) = event_id)
         AS BIGINT) AS n_str_ok,
       CAST(COUNT(*) FILTER (
         WHERE CAST(CAST(value AS REAL) AS DOUBLE) = value)
         AS BIGINT) AS n_f32_ok,
       CAST(COUNT(*) FILTER (
         WHERE make_timestamp(epoch_us(ts)) = ts)
         AS BIGINT) AS n_ts_ok
FROM ev GROUP BY event_type
""",
)
def q_roundtrip_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND-TRIP identity-law census: per event type, how many rows
    survive (a) long→string→long, (b) double→FLOAT32→double, and
    (c) timestamp→epoch-µs→timestamp unchanged.  The checked P4
    siblings cast one direction (widths, bools, decimals, temporals,
    binary); auditing the INVERSE composition is the remaining cast
    contract, and leg (b) genuinely varies per row — a 6-decimal value
    survives binary32 only when its 24-bit mantissa suffices, and both
    engines narrow by the same IEEE rounding, so the flag census
    matches exactly."""
    e = _t(spark, sf_dir, "events")
    str_ok = (
        F.col("event_id").cast("string").cast("long") == F.col("event_id")
    )
    f32_ok = F.col("value").cast("float").cast("double") == F.col("value")
    ts_ok = F.timestamp_micros(F.unix_micros("ts")) == F.col("ts")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(str_ok).alias("n_str_ok"),
        F.count_if(f32_ok).alias("n_f32_ok"),
        F.count_if(ts_ok).alias("n_ts_ok"),
    )


# ---------------------------------------------------------------------------
# T2 + P5 — dedup by BUSINESS PRIORITY, then recency
# ---------------------------------------------------------------------------


@register(
    "q_priority_dedup",
    tags=("T2", "P5", "A1", "FN-datetime"),
    oracle=f"""
{EV_CTE}
, k AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_id, event_type,
         (CASE event_type WHEN 'purchase' THEN 0 WHEN 'click' THEN 1
                          WHEN 'view' THEN 2 WHEN 'error' THEN 3
                          ELSE 4 END) * 100000000000000000
         + (epoch_us(ts) // 1000000) * 10000000 + event_id AS pick
  FROM ev
)
SELECT user_id, day,
       arg_min(event_id, pick) AS kept_event_id,
       arg_min(event_type, pick) AS kept_type,
       CAST(COUNT(*) AS BIGINT) AS n_candidates
FROM k GROUP BY user_id, day
""",
)
def q_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup whose representative is chosen by BUSINESS PRIORITY
    first (purchase > click > view > error > signup), recency second —
    the attribution rule marketing pipelines actually use, vs the
    checked T2 siblings' purely temporal or value-based picks.  The
    pick key packs (priority tier, epoch seconds, event id) into one
    bigint: tier × 10¹⁷ dominates, the documented (seconds × 10⁷ + id)
    envelope from q_session_bookends fills the low digits, and both
    engines resolve ties identically."""
    e = _t(spark, sf_dir, "events")
    prio = (
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "error", 3)
        .otherwise(4)
    )
    pick = (
        prio.cast("long") * F.lit(100_000_000_000_000_000)
        + F.unix_timestamp("ts") * F.lit(10_000_000)
        + F.col("event_id")
    )
    return (
        e.withColumn("pick", pick)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min_by("event_id", F.col("pick")).alias("kept_event_id"),
            F.min_by("event_type", F.col("pick")).alias("kept_type"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# T5 + A1 — EXPLICIT two-level aggregation tree over a salt axis
# ---------------------------------------------------------------------------


@register(
    "q_salted_global",
    tags=("T5", "A1", "S1"),
    oracle=f"""
{EV_CTE}
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_micros,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM ev
""",
)
def q_salted_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT two-level aggregation tree: global exact totals computed
    as salt-bucket partials (salt = pmod(hash(user_id), 16)) folded by
    a second 16-row aggregate — the decomposition that keeps a KEYLESS
    reduction scalable when the final combine state is too heavy for
    one reducer (here count-distinct carries a set; the salt level
    bounds each partial's set to its bucket).  The checked T5 siblings
    salt KEYED aggregates, distincts, and joins; the keyless
    global-reduce tree is the remaining salting surface.  COUNT
    DISTINCT folds by a plain SUM of per-bucket distincts — correct
    PRECISELY because the salt is derived from user_id itself, so the
    16 bucket user-sets are DISJOINT by construction (salting on any
    other column would intersect the sets and double-count; the final
    level would then need a real re-distinct).

    Exactness: all four measures are integer; the oracle is the direct
    one-level global aggregate — identical results prove the tree
    decomposition lossless."""
    e = _t(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.hash("user_id"), F.lit(16))
    )
    partial = e.groupBy("salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
            "psum"
        ),
        F.countDistinct("user_id").alias("pusers"),
        F.max("event_id").alias("pmax"),
    )
    # salting on user_id makes bucket user-sets DISJOINT, so the final
    # distinct count is the plain sum of per-bucket distincts
    return partial.agg(
        F.sum("pn").alias("n"),
        F.sum("psum").alias("sum_micros"),
        F.sum("pusers").alias("n_users"),
        F.max("pmax").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# U1 + P5 — unionByName with MISSING columns (schema evolution)
# ---------------------------------------------------------------------------


@register(
    "q_union_missing_cols",
    tags=("U1", "P5", "A1"),
    oracle=f"""
{EV_CTE}
, a AS (
  SELECT 'v1' AS src, user_id, value, NULL AS k
  FROM ev WHERE event_type = 'click'
), b AS (
  SELECT 'v2' AS src, user_id, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM ev WHERE event_type = 'purchase'
), u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT src,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS k_sum
FROM u GROUP BY src
""",
)
def q_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION union: a v1 extract (no `k` column) unioned
    with a v2 extract (adds the parsed props key) via
    ``unionByName(allowMissingColumns=True)`` — the missing column
    null-fills, exactly like the oracle's explicit NULL projection.
    The checked U1 siblings union aligned or reordered schemas;
    ASYMMETRIC schemas (the pipeline-upgrade case: old partitions
    lack the new column) are the remaining union contract.  The NULL
    census per source tag pins which side the nulls came from."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.lit("v1").alias("src"), "user_id", "value"
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.lit("v2").alias("src"),
        "user_id",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("k_sum"),
    )


# ---------------------------------------------------------------------------
# U2 + U3 + W2 — set ops between WINDOW-DERIVED relations (day openers
# vs day closers)
# ---------------------------------------------------------------------------


@register(
    "q_setops_first_last",
    tags=("U2", "U3", "W2", "A2"),
    oracle=f"""
{EV_CTE}
, k AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         arg_min(event_type, (epoch_us(ts) // 1000000) * 10000000 + event_id) AS first_type,
         arg_max(event_type, (epoch_us(ts) // 1000000) * 10000000 + event_id) AS last_type
  FROM ev GROUP BY user_id, 2
),
f AS (SELECT user_id, day, first_type AS t FROM k),
l AS (SELECT user_id, day, last_type AS t FROM k)
SELECT 'bookend_match' AS kind, user_id, day, t
FROM (SELECT * FROM f INTERSECT SELECT * FROM l)
UNION ALL
SELECT 'opener_only' AS kind, user_id, day, t
FROM (SELECT * FROM f EXCEPT SELECT * FROM l)
""",
)
def q_setops_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT between two WINDOW-DERIVED relations: each
    user-day's OPENING event type vs its CLOSING event type —
    bookend_match rows are days that started and ended the same way,
    opener_only rows are days whose opener differs from the closer.
    The checked U2/U3 siblings set-op stored projections, identities,
    or composite keys; deriving BOTH operands through ordered
    aggregates first (the funnel-shape comparison) is the remaining
    provenance.  The ordering key reuses the proven (epoch seconds ×
    10⁷ + event id) pack, so both engines pick identical openers and
    closers."""
    e = _t(spark, sf_dir, "events")
    key = F.unix_timestamp("ts") * F.lit(10_000_000) + F.col("event_id")
    k = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
    )
    f = k.select("user_id", "day", F.col("first_type").alias("t"))
    last = k.select("user_id", "day", F.col("last_type").alias("t"))
    match = f.intersect(last).select(
        F.lit("bookend_match").alias("kind"), "user_id", "day", "t"
    )
    opener = f.exceptAll(last).distinct().select(
        F.lit("opener_only").alias("kind"), "user_id", "day", "t"
    )
    return match.unionAll(opener)


# ---------------------------------------------------------------------------
# X2 + J6 — EDIT-DISTANCE near-dup pairs on document prefixes
# ---------------------------------------------------------------------------


@register(
    "q_prefix_edit_pairs",
    tags=("X2", "J6", "A1"),
    oracle="""
WITH p AS (
  SELECT doc_id, lang, substring(text, 1, 20) AS pre
  FROM documents WHERE doc_id < 4000
), q AS (
  SELECT * FROM p WHERE length(pre) = strlen(pre)
)
SELECT a.lang,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(a.doc_id) AS BIGINT) AS min_a
FROM q a JOIN q b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.pre) - length(b.pre)) <= 2
 AND levenshtein(a.pre, b.pre) <= 2
GROUP BY a.lang
""",
)
def q_prefix_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE near-dup pairs: documents of the same language
    whose 20-char prefixes are within Levenshtein 2, censused per
    language — the typo-duplicate detector.  The checked X2 siblings
    use set-overlap measures (Jaccard, containment, SimHash bits,
    sorted-word canonicalization); STRING EDIT distance is the
    remaining similarity axis, and the length prefilter (|Δlen| ≤ 2 is
    NECESSARY for edit ≤ 2) is the lossless cheap gate both engines
    apply before the O(k²) DP kernel.  The cohort is restricted to
    ASCII-pure prefixes (char length == byte length) because Spark's
    levenshtein counts characters while DuckDB's counts bytes — on
    ASCII the conventions coincide exactly.  Pairs are non-vacuous at
    every tier (10 / 6 / 90; probed, unchanged by the ASCII gate).

    Scale: language blocking + the doc_id bound keep the fixture
    all-pairs small; at corpus scale the same kernel runs behind an
    LSH/length-band blocker (operators/dedup.py) — the predicate here
    IS the verify step of that cascade, so this query doubles as its
    exactness oracle."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 4000)
        .select("doc_id", "lang", F.substring("text", 1, 20).alias("pre"))
        # ASCII-pure prefixes only (char length == byte length): Spark's
        # levenshtein counts CHARACTERS while DuckDB's counts BYTES, so
        # multi-byte prefixes could diverge at the threshold; on ASCII
        # the two conventions are provably identical.  (Current fixture
        # pair sets are unchanged by this filter — probed 10/6/90 — but
        # the agreement is now structural, not fixture luck.)
        .filter(F.length("pre") == F.octet_length("pre"))
    )
    a = d.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("lang"),
        F.col("pre").alias("a_pre"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("pre").alias("b_pre"),
    )
    pairs = a.join(
        b,
        (F.col("lang") == F.col("b_lang"))
        & (F.col("a_id") < F.col("b_id"))
        & (
            F.abs(F.length("a_pre") - F.length("b_pre")) <= 2
        )
        & (F.levenshtein("a_pre", "b_pre") <= 2),
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("a_id").alias("min_a"),
    )


# ---------------------------------------------------------------------------
# X4 — STRIDED byte sampling of a binary payload (frame-sample analogue)
# ---------------------------------------------------------------------------


@register(
    "q_payload_stride_sample",
    tags=("X4", "FN-string"),
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id < 1500
)
SELECT doc_id,
       CAST(nb AS BIGINT) AS n_bytes,
       substring(h, 1, 2) || substring(h, 9, 2) || substring(h, 17, 2)
         || substring(h, 25, 2) AS stride_sig
FROM b
""",
)
def q_payload_stride_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIDED byte sampling of a binary payload: bytes 1, 5, 9, 13
    hex-concatenated into a fixed-width signature — the frame-sampling
    access pattern (every k-th unit of an opaque blob) that video/audio
    pipelines run before decode, exercised on the text-derived payload
    the X4 siblings share.  Spark slices the BINARY then hexes;
    DuckDB (no BLOB substring) slices the hex STRING at doubled
    offsets — identical signatures, the same dual encoding
    q_payload_byte_stats pins.  Short payloads contribute empty slices
    on both sides (substring past the end yields '')."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    payload = F.encode("text", "UTF-8")
    sig = F.concat(
        *[
            F.hex(F.expr(f"substring(encode(text, 'UTF-8'), {p}, 1)"))
            for p in (1, 5, 9, 13)
        ]
    )
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        sig.alias("stride_sig"),
    )
