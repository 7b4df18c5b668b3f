"""Shared co-purchase edge relation for the iterative graph kernels.

q_pagerank, q_kcore, q_bfs_hops, q_triangle_count and
q_assortativity all run over the SAME graph — distinct part pairs
sharing an order.  In a real deployment the co-purchase edge list is
a materialized table the kernels read, built once per ingest.  The
builders here always return the plain plan; a caller that wants the
kernels to share one build persists ``copurchase_edges_undirected``'s
output, and Spark's CacheManager then serves every later re-build of
it (and of the directed mirror union) from the ``InMemoryRelation``
until ``spark.catalog.clearCache()`` or ``unpersist()`` ends it.
Results are identical either way (pytest-pinned).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import load_table
from ..operators.graph import basket_pairs


def copurchase_edges_undirected(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNDIRECTED distinct co-purchase edges — one ``(u, v)`` row per
    part pair with ``u < v``.  This is the relation that actually
    pays the dedup shuffle; the directed form is its mirror union.
    Consumers that are orientation-symmetric anyway (triangle
    counting's ``u < v`` orientation step, k-core's internal
    symmetrize) read this half directly and skip shuffling the
    mirrored copies (r15, guide §2.3).  This is the relation to
    persist for a shared build: it holds HALF the directed rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return basket_pairs(li, "l_orderkey", "l_partkey", directed=False)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed distinct co-purchase edges ``(u, v)`` over parts
    sharing an order — the mirror union of the undirected half
    relation (value-identical to the pre-r15 directed build: both are
    "distinct ordered pairs of distinct parts sharing an order").
    The mirror branch re-reads the half relation (persisted cache or
    ReusedExchange), so the directed relation still costs one
    half-sized dedup shuffle, not a full-sized one."""
    und = copurchase_edges_undirected(spark, sf_dir)
    return und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
