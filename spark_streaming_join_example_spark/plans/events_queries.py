"""Streaming-shaped queries over the `events` stream table
(SURVEY.md §2.3 J1/J2, §2.4 A5-A7, §2.9 T2, §2.3 J7/J8).

These are the *batch twins* of the engine's streaming jobs
(streaming/jobs.py): Structured Streaming's correctness contract is
prefix integrity — a streaming query's output equals the batch query
over the consumed prefix — so the driver checks these against the
DuckDB oracle while tests/test_streaming.py proves the streaming
variants produce identical results through the replay harness.

Timestamp parity: the loader normalizes events.ts to µs precision
whatever the fixture's physical encoding (int64/ns or timestamp[us] —
sources/batch.py sniffs the footer); every oracle here goes through the
same exact truncation (`make_timestamp(epoch_ns(ts) // 1000)`, a no-op
on µs-stored data) rather than a cast whose rounding mode we don't
control.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import VALUE, exact_sum, oracle_exact_sum
from ..operators.joins import asof_join
from ..sources.batch import load_table
from .registry import register

#: DuckDB CTE producing the µs-truncated events view (exact twin of the
#: loader's `timestamp_micros(ts div 1000)`).
EV_CTE = """
WITH ev AS (
  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
         user_id, event_type, value, props
  FROM events
)
"""


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# J1 — stream-static enrichment join (batch twin)
# ---------------------------------------------------------------------------


@register(
    "q_stream_static_join",
    tags=("J1", "J3"),
    bench=True,
    oracle=f"""
{EV_CTE}
SELECT event_type, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM ev JOIN customer ON user_id = c_custkey
GROUP BY event_type, c_mktsegment
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the event stream against the customer dimension.

    Scale: in the streaming variant the static side is broadcast per
    micro-batch (no state); here the same broadcast join applies —
    event rows never shuffle before the final 25-group agg.
    """
    e = _ev(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("event_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# J2 — stream-stream join with event-time range condition (batch twin)
# ---------------------------------------------------------------------------


@register(
    "q_stream_stream_join",
    tags=("J2", "J7"),
    oracle=f"""
{EV_CTE}
SELECT date_trunc('hour', c.ts) AS click_hour,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {oracle_exact_sum('p.value', VALUE)} AS purchase_value
FROM ev c JOIN ev p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY 1
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks joined to purchases by the same user within 30 minutes —
    THE flagship stream-stream join shape (equality key + event-time
    range bound).

    Scale: the equi-key (user_id) shuffle-partitions both sides; the
    range predicate bounds join state. In the streaming variant the
    same bound + watermark drives state eviction
    (streaming/jobs.py:stream_stream_join).
    """
    e = _ev(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.groupBy(F.date_trunc("hour", F.col("c_ts")).alias("click_hour")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        exact_sum("p_value", VALUE).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# A5 — tumbling event-time window (batch twin)
# ---------------------------------------------------------------------------


@register(
    "q_events_tumbling",
    tags=("A5",),
    bench=True,
    oracle=f"""
{EV_CTE}
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM ev
GROUP BY 1, 2
""",
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window × event_type.

    Epoch-aligned tumbling windows are exactly ``date_trunc('hour')``
    buckets, and with the session timezone pinned to UTC (session.py)
    hour truncation is pure integer arithmetic — so the grouping key
    is computed as two int64 ops on epoch seconds instead of the
    timezone-aware ``date_trunc`` kernel: ``cast(ts as long)`` floors
    to epoch seconds (verified: -0.5 s -> -1) and ``pmod`` keeps the
    bucket a floor for pre-epoch rows, making the rewrite exact for
    ALL timestamps, not just the fixture domain.  Measured vs
    date_trunc at sf0.1 (SCALE.md §Round-13, 4 interleaved runs of
    15): medians 0.151-0.176 s vs 0.177-0.233 s — 5-32% faster with
    lower min AND max every run; results asserted identical in-probe.
    The real window() operator is still exercised on this same
    aggregation by the streaming twin (streaming/jobs.tumbling_counts,
    proven equivalent in tests/test_streaming.py) and by
    q_events_sliding / q_session_window, where the struct is
    semantically necessary."""
    e = _ev(spark, sf_dir)
    ts_sec = F.col("ts").cast("long")
    bucket = F.timestamp_seconds(ts_sec - F.pmod(ts_sec, F.lit(3600)))
    return e.groupBy(
        bucket.alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value", VALUE).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# A6 — sliding window (batch twin)
# ---------------------------------------------------------------------------

_SLIDE_US = 30 * 60 * 1_000_000  # 30 min in µs


@register(
    "q_events_sliding",
    tags=("A6",),
    oracle=f"""
{EV_CTE}
, starts AS (
  SELECT make_timestamp((epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US}) AS s1,
         make_timestamp((epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US}
                        - {_SLIDE_US}) AS s2,
         value
  FROM ev
)
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n,
       {oracle_exact_sum('value', VALUE)} AS sum_value
FROM (
  SELECT unnest([s1, s2]) AS window_start, unnest([value, value]) AS value
  FROM starts
)
GROUP BY window_start
""",
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min — each event lands in
    size/slide = 2 windows (the oracle expands them explicitly)."""
    e = _ev(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", VALUE).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# A7 — session window (batch twin)
# ---------------------------------------------------------------------------


@register(
    "q_session_window",
    tags=("A7",),
    oracle=f"""
{EV_CTE}
, flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 5 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization via session_window (5-min gap).

    Spark merges events whose windows [ts, ts+gap) overlap; the oracle
    reproduces that with a lag/cumsum session assignment (new session
    when the gap is ≥ 5 min).
    """
    e = _ev(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# T2/X1 — keyed deduplication (deterministic representative)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_events",
    tags=("T2", "X1", "A2"),
    oracle=f"""
{EV_CTE}
SELECT user_id, event_type,
       CAST(MIN(event_id) AS BIGINT) AS first_event_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM ev
GROUP BY user_id, event_type
""",
)
def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup with a deterministic representative (min event_id) —
    the batch twin of streaming dropDuplicates (which keeps first
    arrival; min-id is the only order-free equivalent)."""
    e = _ev(spark, sf_dir)
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# A2 — distinct aggregation
# ---------------------------------------------------------------------------


@register(
    "q_distinct_users",
    tags=("A2",),
    bench=True,
    oracle=f"""
{EV_CTE}
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM ev
GROUP BY event_type
""",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) per group (expands to a two-phase agg —
    partial distinct per partition, then final)."""
    e = _ev(spark, sf_dir)
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


# ---------------------------------------------------------------------------
# J8 — as-of join
# ---------------------------------------------------------------------------


@register(
    "q_asof_join",
    tags=("J8",),
    oracle=f"""
{EV_CTE}
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.ts AS last_purchase_ts
FROM (SELECT * FROM ev WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the most recent purchase by the same user at or
    before it (time-series enrichment; operators/joins.py:asof_join)."""
    e = _ev(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return asof_join(
        clicks,
        buys,
        left_on="user_id",
        right_on="p_user",
        left_ts="click_ts",
        right_ts="p_ts",
        how="left",
    ).select(
        "click_id", "user_id", "click_ts", F.col("p_ts").alias("last_purchase_ts")
    )


# ---------------------------------------------------------------------------
# J7 — range/interval join
# ---------------------------------------------------------------------------


@register(
    "q_range_join",
    tags=("J7",),
    oracle=f"""
{EV_CTE}
SELECT f.event_type AS followup_type, CAST(COUNT(*) AS BIGINT) AS n_followups
FROM (SELECT * FROM ev WHERE event_type = 'error') err
JOIN ev f
  ON f.user_id = err.user_id
 AND f.ts > err.ts AND f.ts <= err.ts + INTERVAL 10 MINUTE
GROUP BY 1
""",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What happens in the 10 minutes after an error, per user —
    equi-key + time-range join (same mechanics as the stream-stream
    join's state bound)."""
    e = _ev(spark, sf_dir)
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    joined = err.join(
        e,
        (e.user_id == F.col("e_user"))
        & (e.ts > F.col("e_ts"))
        & (e.ts <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.groupBy(F.col("event_type").alias("followup_type")).agg(
        F.count(F.lit(1)).alias("n_followups")
    )
