"""Distributed global ranking — the 100 TB replacement for a
single-partition ``Window.orderBy(...)``.

``Window.orderBy`` with no partition key funnels every row through ONE
task: correct, but the anti-pattern every global rank/ntile docstring
in this repo flags past ~10⁸ rows.  The classic fix is two-phase
ranking:

1. range-partition the input on the order key (Spark samples split
   points — the same machinery ORDER BY uses), so partition i holds
   keys strictly ≤ partition i+1's;
2. rank locally inside each partition (parallel sorts);
3. add each partition's global row offset (the cumulative count of all
   earlier partitions — a partition-count-sized table, broadcast).

Step 3's offsets are exact, so ``local row_number + offset`` equals
the single-sort global row_number BIT FOR BIT — provided the order is
TOTAL (callers must include a unique tie-break column, same rule as
everywhere else in this repo).  Ties split across a range boundary
would otherwise make rank()/dense_rank() boundary-dependent; with a
total order the boundary cannot split a tie.

The same decomposition extends to every prefix-associative global
window in the registry:

- ``global_cumsum``: running SUMs over the global order = local
  running sums + broadcast offsets of the previous partitions' totals
  (sums are associative, so the split is exact for integer inputs);
- ``global_ntile``: NTILE(k) is a pure function of (row_number, total
  count) under the SQL-standard distribution — first ``n % k`` buckets
  get ``n div k + 1`` rows, the rest ``n div k`` — so it derives from
  ``global_row_number`` plus one broadcast 1-row count.

The only driver-side data anywhere is the per-partition counts/totals
(≤ number of partitions rows) — coordination, not data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _resolve_partitions(df: DataFrame, num_partitions: int | None) -> int:
    """Validate an explicit partition count, or fall back to the
    session's batch shuffle width: AQE's
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, then
    ``spark.sql.shuffle.partitions`` (which ``get_spark`` sizes for
    streaming state, not batch shuffles).  Some deployments set
    ``spark.sql.shuffle.partitions`` to a non-numeric value (e.g.
    ``auto``); rather than raising an opaque ``ValueError`` from
    ``int()``, fall back to the session's ``defaultParallelism``."""
    if num_partitions is not None:
        if not isinstance(num_partitions, int) or isinstance(num_partitions, bool) or num_partitions < 1:
            raise ValueError(
                f"num_partitions must be a positive int, got {num_partitions!r}"
            )
        return num_partitions
    conf = df.sparkSession.conf
    raw = conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    ) or conf.get("spark.sql.shuffle.partitions", "32")
    try:
        n = int(raw)
    except (TypeError, ValueError):
        # e.g. "auto" on AQE-managed deployments.  defaultParallelism is
        # a driver-side scalar; materializing df.rdd here would force a
        # plan-to-RDD conversion and return scan-partition counts that
        # can be far from a sensible shuffle parallelism.
        n = df.sparkSession.sparkContext.defaultParallelism
    return max(1, n)


def _check_reserved(df: DataFrame, reserved: set[str]) -> None:
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"global ranking: input columns {sorted(clash)} collide with "
            "internal names — rename them first"
        )


def _check_outputs(df: DataFrame, outputs: set[str]) -> None:
    """Reject user-supplied OUTPUT names that already exist on the
    input: ``withColumn`` would silently replace the same-named input
    column, corrupting data with no error."""
    clash = outputs & set(df.columns)
    if clash:
        raise ValueError(
            f"global ranking: output names {sorted(clash)} already exist "
            "as input columns — pick different output names or drop/"
            "rename the inputs first"
        )


def _range_partitioned(
    df: DataFrame, cols: list[Column], n: int, reliable: bool = False
) -> DataFrame:
    """Range-partition ``df`` on ``cols`` and pin the partition
    assignment with a lineage cut.

    Fault-tolerance note: ``localCheckpoint`` trades lineage for speed
    — the checkpointed partitions live on executor storage only, so an
    executor loss (spot kill, decommission) makes them unrecoverable
    and fails the job instead of recomputing.  For long-running
    production jobs on preemptible nodes, pass ``reliable=True`` to the
    public kernels to use ``df.checkpoint`` (HDFS/object-store-backed;
    requires ``sparkContext.setCheckpointDir``).  The failure mode and
    the trade-off are documented in SCALE.md §ranking.

    The pin is load-bearing for CORRECTNESS, not a cache hint:
    ``repartitionByRange`` samples its split points per evaluation
    (the sampling seed involves the physical RDD), and the ranking
    kernels consume the partitioned relation from TWO plan branches
    (the local-rank window and the partition-sizes aggregate).  When
    both branches optimize to the identical exchange, ReuseExchange
    makes them consistent — but column pruning can legally give the
    sizes branch a NARROWER exchange (it only needs the order
    columns), and two independently-sampled exchanges assign rows to
    DIFFERENT partitions, silently corrupting the offsets (caught by
    q_equi_depth_histogram's oracle the first time a payload column
    rode along).  ``localCheckpoint(eager=False)`` forces both
    branches onto one materialized RDD, so the partition assignment
    is a fact, not a plan subtree.

    Scale note: the checkpoint stores the post-shuffle working set on
    executor memory/disk — the same data the shuffle files already
    hold — and is exactly the lineage-cut discipline the iterative
    graph kernels use (operators/graph.py).
    """
    base = df.repartitionByRange(n, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    if reliable:
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "reliable=True requires sparkContext.setCheckpointDir(...) "
                "— a fault-tolerant (HDFS/object-store) checkpoint location"
            )
        return base.checkpoint(eager=False)
    return base.localCheckpoint(eager=False)


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out: str = "rn",
    num_partitions: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Append a global 1-based row number under ``order_cols`` (which
    MUST form a total order — include a unique id as the last column)
    without a single-partition sort.

    Returns ``df``'s columns plus ``out``.  Deterministic at any
    partition count: range partitioning only moves WHERE local ranking
    happens; offsets restore the global positions exactly.

    ``reliable=True`` swaps the lineage pin from ``localCheckpoint``
    (executor-storage-only; fails on executor loss) to a reliable
    ``checkpoint`` — see ``_range_partitioned``.
    """
    _check_reserved(df, {"_pid", "_local_rn", "_offset"})
    _check_outputs(df, {out})
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = _resolve_partitions(df, num_partitions)
    d = _range_partitioned(df, cols, n, reliable=reliable)
    w_local = Window.partitionBy("_pid").orderBy(*cols)
    local = d.withColumn("_local_rn", F.row_number().over(w_local))
    # partition sizes: one row per partition — broadcast-sized by
    # construction (this is coordination metadata, not data)
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = sizes.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_pid", "_offset")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_local_rn") + F.col("_offset")).cast("long"))
        .drop("_pid", "_local_rn", "_offset")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    sums: dict[str, str | Column],
    rn_out: str | None = None,
    num_partitions: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Append one global running SUM per ``sums`` entry (rows between
    unbounded preceding and current row under the TOTAL order
    ``order_cols``), and optionally the global row number, without a
    single-partition sort.

    ``sums`` maps output column name → summed column/expression.  The
    decomposition — local running sums plus broadcast offsets of the
    previous partitions' totals — is exact for integer inputs because
    integer addition is associative; keep the repo's integer-units
    doctrine (no raw double sums) and the result is bit-identical to
    the single-sort window at any partition count.

    One range shuffle total: the per-partition totals aggregate reuses
    the range exchange (ReusedExchange), and the offsets relation is
    partition-count-sized coordination metadata.
    """
    if not sums:
        raise ValueError("global_cumsum: sums must name at least one column")
    reserved = {"_pid", "_local_rn", "_o_rn"}
    for name in sums:
        reserved.update({f"_lc_{name}", f"_t_{name}", f"_o_{name}"})
    _check_reserved(df, reserved)
    outputs = set(sums)
    if rn_out is not None:
        outputs.add(rn_out)
    _check_outputs(df, outputs)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    vals = {
        out: (F.col(c) if isinstance(c, str) else c) for out, c in sums.items()
    }
    n = _resolve_partitions(df, num_partitions)
    d = _range_partitioned(df, cols, n, reliable=reliable)
    w_cum = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d
    for out, c in vals.items():
        local = local.withColumn(f"_lc_{out}", F.sum(c).over(w_cum))
    if rn_out is not None:
        local = local.withColumn(
            "_local_rn",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)),
        )
    sizes = d.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t_{out}") for out, c in vals.items()],
        F.count(F.lit(1)).alias("_t_rn"),
    )
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{out}").over(w_prev), F.lit(0)).alias(
                f"_o_{out}"
            )
            for out in vals
        ],
        F.coalesce(F.sum("_t_rn").over(w_prev), F.lit(0)).alias("_o_rn"),
    )
    res = local.join(F.broadcast(offsets), "_pid")
    for out in vals:
        res = res.withColumn(out, F.col(f"_lc_{out}") + F.col(f"_o_{out}"))
    if rn_out is not None:
        res = res.withColumn(
            rn_out, (F.col("_local_rn") + F.col("_o_rn")).cast("long")
        )
    drop = ["_pid", "_o_rn"] + [f"_lc_{out}" for out in vals] + [
        f"_o_{out}" for out in vals
    ]
    if rn_out is not None:
        drop.append("_local_rn")
    return res.drop(*drop)


def global_ntile(
    df: DataFrame,
    k: int,
    order_cols: list[str | Column],
    out: str = "bucket",
    num_partitions: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Append ``NTILE(k) OVER (ORDER BY order_cols)`` (SQL-standard
    distribution: the first ``n % k`` buckets take ``n div k + 1``
    rows) without a single-partition sort: global row number via the
    two-phase kernel plus one broadcast total count.

    ``order_cols`` must be a total order (unique tie-break last) so
    bucket boundaries are engine- and partitioning-exact — the same
    precondition every registered ntile query already documents.
    Output column is INT, matching ``F.ntile``.
    """
    if not isinstance(k, int) or isinstance(k, bool) or k < 1:
        raise ValueError(f"global_ntile: k must be a positive int, got {k!r}")
    _check_reserved(df, {"_gn_rn", "_gn_n"})
    _check_outputs(df, {out})
    ranked = global_row_number(
        df, order_cols, out="_gn_rn", num_partitions=num_partitions,
        reliable=reliable,
    )
    # total count from the ranked relation, NOT a second scan of df:
    # the aggregate reuses the range exchange, and n = max(rn) by
    # construction (rn is a dense global 1..n numbering)
    total = ranked.agg(F.max("_gn_rn").cast("long").alias("_gn_n"))
    # NTILE(k) as a closed form of (rn, n): with q = n div k and
    # r = n % k, rows rn ≤ r·(q+1) land in the first r (larger)
    # buckets, the rest fall through to size-q buckets.  When n < k
    # the else branch is unreachable (every rn ≤ r), so its div-by-
    # zero denominator is never evaluated on a taken branch.
    bucket = F.expr(
        f"CAST(CASE WHEN _gn_rn <= (_gn_n % {k}) * ((_gn_n div {k}) + 1) "
        f"THEN (_gn_rn - 1) div ((_gn_n div {k}) + 1) + 1 "
        f"ELSE (_gn_n % {k}) "
        f"  + (_gn_rn - (_gn_n % {k}) * ((_gn_n div {k}) + 1) - 1) "
        f"    div (_gn_n div {k}) + 1 "
        f"END AS INT)"
    )
    return (
        ranked.join(F.broadcast(total), how="cross")
        .withColumn(out, bucket)
        .drop("_gn_rn", "_gn_n")
    )
