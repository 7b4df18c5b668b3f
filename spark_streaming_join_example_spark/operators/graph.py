"""Duplicate-cluster resolution: connected components over near-dup
pair edges (the step after MinHash/Jaccard pair generation in a corpus
dedup pipeline — pairs alone don't say WHICH rows form one duplicate
group; components do, and then "keep one doc per component" is a
groupBy).

Algorithm: iterative min-label propagation — every node adopts the
smallest label among itself and its neighbors until fixpoint.  Each
iteration is two plain shuffles (join + groupBy-min), so the work per
round is O(|E|) and rounds = graph diameter.  Near-dup graphs are
overwhelmingly tiny cliques (diameter ≤ 2-3), so this converges in a
handful of rounds.  At web scale the same loop with the large-star /
small-star reformulation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) cuts diameter to O(log n) rounds; the
per-round dataflow below is unchanged.

The driver-side loop is coordination only (one count per round for the
convergence test); all data movement stays distributed.  Lineage is
truncated per round with localCheckpoint so the plan doesn't grow with
iteration count.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    distinct_pairs: bool = True,
    max_items: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """Directed co-occurrence pairs ``(u, v)``, u ≠ v, from a
    (basket, item) relation — the edge build every co-purchase graph
    query starts from.

    Built as ONE groupBy + local array pair-expansion instead of the
    textbook self-join: the self-join shuffles the relation twice and
    merge-probes it against itself, where collect_set + a nested
    ``transform`` shuffles once and expands pairs inside the task
    (measured at sf0.1: 3.4 s → 1.75 s for the same 2.39 M distinct
    edges — 2×).  ``collect_set`` also dedupes repeated items within a
    basket up front, replacing the separate ``.distinct()`` pre-pass
    callers used to need.

    ``distinct_pairs=False`` keeps one row per (basket, u, v) — the
    form co-occurrence COUNTING queries (collaborative filtering,
    association rules) aggregate — at zero extra cost.

    ``directed=False`` (r15) emits each unordered pair ONCE as its
    ``u < v`` orientation (requires an orderable item type — every
    Spark atomic type is).  Pair relations over a basket are
    orientation-symmetric, so a directed consumer can mirror the half
    relation AFTER the expensive step (distinct or count) instead of
    paying it on both orientations: this halves the explode output
    and the bytes through the dedup/count exchange (guide §2.3
    "shuffle fewer bytes") — and the ``u < v`` clause is applied
    INSIDE the pair array, before the explode, so the halved row
    stream never materializes the mirrored structs at all.  The
    ``directed=True, distinct_pairs=True`` default keeps its exact
    output contract but is now built the same way — half-expand,
    distinct, then union the mirror — with the mirror branch reading
    the dedup exchange via ReusedExchange rather than re-shuffling
    (asserted in tests/test_plans.py).

    Scale note: per-basket state is the distinct-item set, bounded by
    basket size (TPC-H orders ≤ 7 items; retail baskets ~10²).  For
    heavy-tailed "baskets" (a 10⁶-item hot key), pass ``max_items``:
    baskets larger than it are hash-split into k = ceil(m/max_items)
    chunks and every ordered chunk pair (a, b) expands in its own row
    — each expansion row then holds ≤ max_items² pairs regardless of
    basket size, the same triangular-meeting discipline as the vector
    block-pair kernel (operators/similarity._block_pair_groups), and a
    basket contributes k² rows the shuffle spreads across tasks.
    Equivalence to the plain path is property-tested over arbitrary
    baskets and chunk caps (tests/test_properties.py)."""
    g = df.groupBy(basket_col).agg(F.collect_set(item_col).alias("_ps"))
    # the half relation (u < v only) is what the undirected contract
    # returns AND what the directed+distinct path dedups before
    # mirroring; only directed counting (distinct_pairs=False) needs
    # the full ordered expansion
    half = (not directed) or distinct_pairs
    if max_items is None:
        pred = "p.u < p.v" if half else "p.u != p.v"
        pairs = g.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(_ps, x -> "
                    "transform(_ps, y -> struct(x AS u, y AS v)))), "
                    f"p -> {pred})"
                )
            ).alias("_p")
        ).select(F.col("_p.u").alias("u"), F.col("_p.v").alias("v"))
    else:
        if max_items < 1:
            raise ValueError("basket_pairs: max_items must be >= 1")
        # k chunks per basket; chunk id of an item is a hash mod k, so
        # chunking needs no sort and is deterministic.  Ordered pair
        # (u, v) meets exactly once: in the row where q encodes
        # (chunk(u), chunk(v)).
        k = F.greatest(
            F.lit(1),
            F.ceil(F.size("_ps") / F.lit(max_items)).cast("int"),
        )
        chunked = g.select(
            "_ps",
            k.alias("_k"),
            F.explode(F.sequence(F.lit(0), k * k - 1)).alias("_q"),
        )
        cj = F.filter(
            "_ps",
            lambda x: F.pmod(F.xxhash64(x), F.col("_k"))
            == (F.col("_q") / F.col("_k")).cast("int"),
        )
        cl = F.filter(
            "_ps",
            lambda x: F.pmod(F.xxhash64(x), F.col("_k"))
            == F.pmod(F.col("_q"), F.col("_k")),
        )
        pairs = chunked.select(
            F.explode(
                F.flatten(
                    F.transform(
                        cj,
                        lambda x: F.transform(
                            cl,
                            lambda y: F.struct(
                                x.alias("u"), y.alias("v")
                            ),
                        ),
                    )
                )
            ).alias("_p")
        ).select(F.col("_p.u").alias("u"), F.col("_p.v").alias("v"))
        # chunked rows expand every ordered pair; restrict after
        pairs = pairs.filter(
            F.col("u") < F.col("v") if half else F.col("u") != F.col("v")
        )
    if distinct_pairs:
        pairs = pairs.distinct()
        if directed:
            # mirror AFTER the dedup: the swap branch re-reads the
            # distinct's exchange (ReusedExchange), so the full
            # directed relation costs one half-sized shuffle
            pairs = pairs.union(
                pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
    return pairs


class ConvergenceWarning(UserWarning):
    """Emitted when an iterative graph loop exhausts max_iter without
    its convergence probe firing — the returned labels may be wrong
    (an unconverged intermediate state, not the fixpoint)."""


class ConvergenceError(RuntimeError):
    """Raised instead of :class:`ConvergenceWarning` when the caller
    passed ``strict=True`` — for folds where an unconverged label set
    is silently wrong downstream (e.g. a dedup keep-set that would
    drop the wrong documents), failing is the only safe outcome."""


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 20,
    strict: bool = False,
) -> DataFrame:
    """(node, component) for every node in `edges`; component = min
    node id reachable.  Deterministic: the fixpoint is unique.

    Plain min-label propagation converges in O(diameter) rounds —
    fine for near-dup pair graphs (tiny diameters), wrong for long
    chains; use :func:`connected_components_star` (O(log² n) rounds)
    when the diameter is unbounded.  ``strict=True`` raises
    :class:`ConvergenceError` instead of warning when ``max_iter`` is
    exhausted before the fixpoint.

    After the fused init round the graph is contracted onto its label
    classes (the quotient graph on ``labels0``) and the loop runs
    there — connectivity-preserving (an original edge crosses classes
    iff a quotient edge exists), and each class provably contains its
    component minimum as a quotient node, so quotient components carry
    the same minima.  Near-dup graphs are clique-heavy, and a clique
    collapses to ONE quotient node in the init round: the loop then
    iterates over the few inter-clique edges instead of re-shuffling
    all of |E| per round (q_dup_clusters at sf0.1: 1.43 M edges →
    722 quotient edges, so rounds 2+ cost ~nothing).
    Final labels read back through one small join on the class id."""
    sym = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
    # r16 (guide §1.2): LAZY checkpoint — labels0's eager
    # materialization below is a groupBy over every sym partition, so
    # that one job computes AND persists sym; a separate eager job
    # here was pure fixed scheduling cost.  (sym's single downstream
    # consumer before materialization is labels0, so no double-compute
    # window exists.)
    sym = sym.localCheckpoint(eager=False)

    # Label init fused with propagation round 1: every node starts at
    # min(self, direct neighbors) — the same single groupBy shuffle a
    # bare `.distinct()` init would cost, but one full join+groupBy
    # round cheaper overall (sym carries both orientations, so min("d")
    # per s IS the neighbor minimum).  Eager: the relation feeds TWO
    # join branches of the quotient build in one job — lazy would race
    # both branches into computing it concurrently.
    labels0 = (
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.min("d").alias("mind"))
        .select("node", F.least("node", "mind").alias("component"))
        .localCheckpoint(eager=True)
    )

    # Contract onto label classes: quotient edge (ls, ld) for every
    # original edge whose endpoints landed in different classes.  The
    # label relation is one row per node — far below the edge count —
    # so AQE picks a broadcast build side when it fits.
    # r16 (guide §1.2): lazy checkpoint + count() — the count both
    # materializes every partition into the checkpoint (exactly what
    # eager did) AND answers the empty-quotient probe that isEmpty()
    # cost a second job for.
    quotient = (
        sym.join(labels0.select(F.col("node").alias("s"),
                                F.col("component").alias("ls")), "s")
        .join(labels0.select(F.col("node").alias("d"),
                             F.col("component").alias("ld")), "d")
        .filter(F.col("ls") != F.col("ld"))
        .select(F.col("ls").alias("s"), F.col("ld").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if quotient.count() == 0:
        # every component collapsed to a single class in the init round
        # (the common case for clique-shaped duplicate groups)
        return labels0

    # Convergence probe: labels only ever DECREASE, so the total label
    # sum is strictly monotone until the fixpoint — an unchanged sum
    # means converged.  One cheap agg per round instead of a
    # join+count.  r16 (guide §1.2): the probe agg IS the round's
    # materializing action — a lazy checkpoint plus one sum() job per
    # round replaces eager-checkpoint + sum() (2 jobs of fixed
    # scheduling cost down to 1; the sum scans every partition, so the
    # checkpoint is complete exactly as under eager).  Decimal
    # accumulation, as in connected_components_star: ANSI mode raises
    # ARITHMETIC_OVERFLOW on a LongType sum once Σ labels passes 2^63.
    labels = (
        quotient.groupBy(F.col("s").alias("node"))
        .agg(F.min("d").alias("mind"))
        .select("node", F.least("node", "mind").alias("component"))
        .localCheckpoint(eager=False)
    )
    label_sum = F.sum(F.col("component").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        neighbor_labels = (
            quotient.join(labels, quotient["d"] == labels["node"])
            .select(F.col("s").alias("node"), "component")
        )
        labels = (
            labels.select("node", "component")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(label_sum).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        msg = (
            f"connected_components: max_iter={max_iter} exhausted before the "
            "fixpoint — returned labels are an unconverged intermediate state "
            "(raise max_iter, or use connected_components_star for "
            "high-diameter graphs)"
        )
        if strict:
            raise ConvergenceError(msg)
        warnings.warn(msg, ConvergenceWarning, stacklevel=2)

    # Map back: a node's component is its class's resolved quotient
    # label; classes absent from the quotient (no inter-class edges)
    # already ARE whole components labelled by their minimum.
    roots = labels.select(
        F.col("node").alias("_cls"), F.col("component").alias("_root")
    )
    return (
        labels0.join(roots, labels0["component"] == roots["_cls"], "left")
        .select(
            "node",
            F.coalesce("_root", "component").alias("component"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
    strict: bool = False,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the high-diameter scale path: O(log² n) rounds
    worst-case vs O(diameter) for plain label propagation, with the
    same O(|E|)-per-round join+groupBy dataflow.

    large-star(u): hook every neighbor v > u onto m(u) = min(Γ⁺(u));
    small-star(u): hook every neighbor v < u AND u itself onto the
    minimum of the small neighborhood.  The alternation contracts any
    graph to a forest of depth-1 stars whose centers are the component
    minima; labels then read straight off the final edge list.

    Convergence probe: one tiny agg on the freshly checkpointed edge
    set per round computing an order-independent set fingerprint —
    (count, Σ xxhash64(a,b) as decimal).  Equal fingerprints across a
    round mean the edge set is unchanged (up to a 2⁻⁶⁴-grade hash-sum
    collision — a fingerprint, not a proof; the count term and the
    monotone contraction make an accidental collision harmless in
    practice), so the stars are stable and labels can be read off.
    Decimal accumulation sidesteps ANSI long-sum overflow.
    """
    # Both checkpoints are EAGER, so the returned labels depend only on
    # the graph as it was during the call: a lazy all_nodes would
    # re-read ``edges`` at the caller's action, after the source may
    # have changed.  e is eager too because round 1 unions it with its
    # own flip in one job, and lazy would race both branches into
    # recomputing the expensive upstream edge build concurrently.
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # -------- large-star: (v, m(u)) for v in Γ(u), v > u --------
        sym = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("minb"))
            .select("a", F.least("a", "minb").alias("m"))
        )
        e = (
            sym.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # -------- small-star: (v, ms(u)) for v in Γ(u) with v < u, plus (u, ms(u)) --------
        sym = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        smaller = sym.filter(F.col("b") < F.col("a"))
        ms = smaller.groupBy("a").agg(F.min("b").alias("ms"))
        hooked_spokes = (
            smaller.join(ms, "a")
            .select(F.col("b").alias("a"), F.col("ms").alias("b"))
        )
        hooked_self = ms.select("a", F.col("ms").alias("b"))
        # r16 (guide §1.2): lazy checkpoint — the signature agg is the
        # round's materializing action (it scans every partition, so
        # the checkpoint is complete exactly as under eager) at half
        # the per-round job count.
        e = (
            hooked_spokes.union(hooked_self)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = signature(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        msg = (
            f"connected_components_star: max_iter={max_iter} exhausted before "
            "the edge-set fingerprint stabilized — returned labels may be an "
            "unconverged intermediate state (raise max_iter)"
        )
        if strict:
            raise ConvergenceError(msg)
        warnings.warn(msg, ConvergenceWarning, stacklevel=2)

    # converged: e is a set of (spoke, center) star edges with centers
    # = component minima; nodes absent from the spoke side are their
    # own component (singleton stars / isolated after contraction).
    spokes = e.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("comp"))
    return (
        all_nodes.join(spokes, "node", "left")
        .select("node", F.coalesce("comp", "node").alias("component"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 30,
    input_distinct_half: bool = False,
) -> DataFrame:
    """Nodes of the k-core — the (unique) maximal subgraph in which
    every node has degree ≥ k — via iterative peeling: drop nodes with
    degree < k, recompute degrees on the induced subgraph, repeat to
    fixpoint.  Returns ``(node, core_deg)`` with each survivor's degree
    inside the core.

    The k-core is a unique fixpoint, so the result is deterministic at
    any partition count and independent of peel order.  Each round is
    one groupBy (degrees) + two semi-joins (induce the subgraph) over
    the shrinking edge set; lineage is cut per round with an eager
    ``localCheckpoint`` (same discipline as the components loops
    above).  Convergence probe: the edge count is strictly decreasing
    until the fixpoint, so one cheap ``count()`` per round detects it —
    work per round is O(|E_round|) and the edge set only shrinks, which
    is what makes this loop safe at 100 TB (the classic degeneracy-
    ordering sequential algorithm is not distributable; this peel is
    the standard Pregel/MapReduce formulation).

    ``input_distinct_half=True`` (r15, guide §2.4) declares the
    caller's contract that ``edges`` holds each undirected edge
    EXACTLY once as its ``src < dst`` orientation, already distinct
    and self-loop-free (what ``basket_pairs(directed=False)``
    emits).  The setup then symmetrizes by a lazy mirror union with
    ONE eager checkpoint — the mirrored orientations cannot collide
    with the half relation (src < dst vs src > dst), so both setup
    dedup shuffles are provably redundant and skipped.  A/B'd
    interleaved at sf0.1 (OPTIMIZATION_r15.md §4: 0.891x median, identical
    fixpoint); equivalence to the generic path is pinned on random
    graphs in tests/test_properties.py.  The generic path stays the
    default for arbitrary directed input.
    """
    # r16 (guide §1.2): every localCheckpoint below is LAZY and
    # materialized by the count() that the convergence probe needs
    # anyway — the count scans every partition, so the checkpoint is
    # complete exactly as under eager, at half the per-round job count
    # (eager-checkpoint + count was 2 jobs of fixed scheduling cost).
    if input_distinct_half:
        half = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        e = half.union(
            half.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).localCheckpoint(eager=False)
    else:
        sym = (
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Undirected: carry both orientations so degree = count per "s".
        # (sym stays EAGER: it feeds both union branches in one job —
        # lazy would race them into computing the upstream dedup twice.)
        e = sym.union(
            sym.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).distinct().localCheckpoint(eager=False)
    prev_n = e.count()
    converged = prev_n == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("s")
        e = (
            e.join(keep, "s", "left_semi")
            .join(keep.select(F.col("s").alias("d")), "d", "left_semi")
            .localCheckpoint(eager=False)
        )
        n = e.count()
        if n == prev_n or n == 0:
            converged = True
        prev_n = n
    if not converged:
        warnings.warn(
            f"kcore: max_iter={max_iter} exhausted before the peel "
            "stabilized — returned core may still contain sub-k nodes "
            "(raise max_iter)",
            ConvergenceWarning,
            stacklevel=2,
        )
    return e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def bfs_hops(
    edges: DataFrame,
    max_depth: int = 3,
    source: DataFrame | None = None,
) -> DataFrame:
    """Distributed BFS over a directed edge list ``(u, v)``: per-level
    frontier expansion with an anti-join against the visited set,
    returning ``(node, dist)`` for every node within ``max_depth`` hops
    of the source (default: the smallest ``u``).

    The edge list is persisted across rounds (loop-invariant, same
    discipline as the connected-components loops above) and each level
    is cut at an eager ``localCheckpoint`` so the final plan unions
    materialized levels instead of replaying k rounds of self-joins.
    Work per round tracks the UNVISITED boundary — never the path
    count, which grows as deg^k.  Min-hop distances are traversal-
    order independent, so the result is deterministic at any partition
    count; on a cluster the frontier/visited sets stay partitioned on
    the node key (this loop is the shape GraphFrames ships as BFS).
    """
    edges = edges.select("u", "v").persist()
    src = (
        source
        if source is not None
        else edges.agg(F.min("u").alias("node"))
    )
    frontier = src.withColumn("dist", F.lit(0))
    visited = frontier
    for d in range(1, max_depth + 1):
        # r15 (guide §2.3): anti-join BEFORE the distinct.  The anti
        # filter is a per-row predicate on the node key, so it
        # commutes with the dedup — but by round 2-3 of a dense graph
        # most expansion targets are already visited, and filtering
        # them out via the broadcast-hash anti (no shuffle) shrinks
        # the one per-round exchange by the visited fraction
        # (OPTIMIZATION_r15.md §7: 2.458 s → 2.041 s at sf0.1, identity
        # asserted).  At cluster scale, where the anti join is itself
        # a shuffled join on the node key, the distinct REUSES its
        # partitioning, so the round still pays a single
        # expansion-side exchange either way.
        nxt = (
            edges.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .join(visited.select("node"), "node", "left_anti")
            .distinct()
            .withColumn("dist", F.lit(d))
        )
        # r16 (guide §1.2): lazy checkpoint + count() — the count both
        # materializes every frontier partition into the checkpoint
        # (exactly what eager did) AND answers the r15 empty-frontier
        # probe that isEmpty() cost a second job for; an empty
        # frontier can never grow, so every remaining round's
        # expansion join would scan the full edge relation to produce
        # nothing.  Results are identical (the skipped rounds
        # contribute zero rows by construction).
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited
