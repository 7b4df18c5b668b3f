"""Property-based differential tests (SURVEY.md §5.2): hypothesis
generates small relations; Spark's result must equal a naive Python
model for joins (all how-modes), dedup, and window running sums —
independent of partitioning (we force several partitions so the
property covers the distributed path, not just a single task).
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window

ROWS = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-100, 100)),
    min_size=0,
    max_size=25,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows, cols=("k", "v")):
    return spark.createDataFrame(
        [tuple(r) for r in rows] or [], schema=f"{cols[0]} int, {cols[1]} int"
    ).repartition(3)


@given(a=ROWS, b=ROWS)
@settings(**SETTINGS)
def test_inner_join_matches_model(spark, a, b):
    got = Counter(
        (r.k, r.v, r.w)
        for r in _df(spark, a)
        .join(_df(spark, b, ("k", "w")), "k", "inner")
        .collect()
    )
    want = Counter(
        (ka, va, vb) for ka, va in a for kb, vb in b if ka == kb
    )
    assert got == want


@given(a=ROWS, b=ROWS)
@settings(**SETTINGS)
def test_left_anti_join_matches_model(spark, a, b):
    got = Counter(
        (r.k, r.v)
        for r in _df(spark, a)
        .join(_df(spark, b, ("k", "w")), "k", "left_anti")
        .collect()
    )
    bkeys = {kb for kb, _ in b}
    want = Counter((ka, va) for ka, va in a if ka not in bkeys)
    assert got == want


@given(a=ROWS, b=ROWS)
@settings(**SETTINGS)
def test_left_outer_join_matches_model(spark, a, b):
    got = Counter(
        (r.k, r.v, r.w)
        for r in _df(spark, a)
        .join(_df(spark, b, ("k", "w")), "k", "left")
        .collect()
    )
    want: Counter = Counter()
    for ka, va in a:
        matches = [vb for kb, vb in b if kb == ka]
        if matches:
            for vb in matches:
                want[(ka, va, vb)] += 1
        else:
            want[(ka, va, None)] += 1
    assert got == want


@given(a=ROWS)
@settings(**SETTINGS)
def test_drop_duplicates_matches_model(spark, a):
    got = sorted(
        (r.k, r.v) for r in _df(spark, a).dropDuplicates(["k", "v"]).collect()
    )
    assert got == sorted(set(a))


@given(a=ROWS)
@settings(**SETTINGS)
def test_groupby_sum_matches_model(spark, a):
    got = {
        r.k: (r.s, r.n)
        for r in _df(spark, a)
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want: dict = {}
    for k, v in a:
        s, n = want.get(k, (0, 0))
        want[k] = (s + v, n + 1)
    assert got == want


@given(a=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(-10, 10)), max_size=20, unique_by=lambda t: (t[0], t[1])))
@settings(**SETTINGS)
def test_running_sum_matches_model(spark, a):
    """Window rowsBetween(unboundedPreceding, currentRow) running sum
    over a unique (k, seq) ordering."""
    df = spark.createDataFrame(
        [tuple(r) for r in a] or [], schema="k int, seq int, v int"
    ).repartition(3)
    w = (
        Window.partitionBy("k")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        (r.k, r.seq): r.rs
        for r in df.select("k", "seq", F.sum("v").over(w).alias("rs")).collect()
    }
    want = {}
    for k in {t[0] for t in a}:
        acc = 0
        for _, seq, v in sorted(t for t in a if t[0] == k):
            acc += v
            want[(k, seq)] = acc
    assert got == want


NULLABLE_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)), st.integers(-50, 50)
    ),
    max_size=20,
)


@given(a=NULLABLE_ROWS, b=NULLABLE_ROWS)
@settings(**SETTINGS)
def test_null_keys_never_join(spark, a, b):
    """SQL semantics: NULL = NULL is not true — null-keyed rows drop
    from inner joins and survive outer joins unmatched."""
    da = _df(spark, a)
    db = _df(spark, b, ("k", "w"))
    inner = Counter(
        (r.k, r.v, r.w) for r in da.join(db, "k", "inner").collect()
    )
    want = Counter(
        (ka, va, vb)
        for ka, va in a
        for kb, vb in b
        if ka is not None and ka == kb
    )
    assert inner == want
    left = da.join(db, "k", "left").collect()
    null_left = [r for r in left if r.k is None]
    assert len(null_left) == sum(1 for ka, _ in a if ka is None)
    assert all(r.w is None for r in null_left)


EDGE_LISTS = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=20,
)


@given(edges=EDGE_LISTS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """Label propagation on a random graph equals a driver-side
    union-find — independent of partitioning."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, schema="a_id long, b_id long").repartition(3)
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want


@given(edges=EDGE_LISTS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_components_match_union_find(spark, edges):
    """Large-star/small-star CC on a random graph equals a driver-side
    union-find (same oracle as the label-propagation test — two
    independent distributed algorithms, one ground truth)."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components_star,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, schema="a_id long, b_id long").repartition(3)
    got = {r.node: r.component for r in connected_components_star(df).collect()}
    assert got == want


def test_star_components_high_diameter(spark):
    """The case large-star/small-star exists for: a 60-node path
    (diameter 59) plus a 10-node cycle must resolve in far fewer than
    diameter rounds (max_iter=12 << 59 would make plain label
    propagation fail; the star alternation converges in O(log n))."""
    from spark_streaming_join_example_spark.operators.graph import (
        connected_components_star,
    )

    path = [(i, i + 1) for i in range(100, 160)]        # one long chain
    cycle = [(200 + i, 200 + (i + 1) % 10) for i in range(10)]
    df = spark.createDataFrame(path + cycle, schema="a_id long, b_id long")
    got = {r.node: r.component for r in connected_components_star(df, max_iter=12).collect()}
    assert all(got[n] == 100 for n in range(100, 161))
    assert all(got[n] == 200 for n in range(200, 210))


def test_morton_interleave_is_bijective(spark):
    """The Z-order interleave (plans/analytics._morton_sql) must be a
    BIJECTION 16×16 → 0..255 — any collision would silently merge
    z-cells and corrupt the layout statistics."""
    from spark_streaming_join_example_spark.plans.analytics import _morton_sql

    df = spark.range(256).select(
        (F.col("id") % 16).alias("bx"), (F.col("id") / 16).cast("int").alias("by")
    )
    z = df.select(
        F.expr(_morton_sql("bx", "by").format(d="div")).alias("z")
    )
    vals = sorted(r.z for r in z.collect())
    assert vals == list(range(256))


@given(
    xs=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=40),
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winsorize_index_formula_is_ceil(xs):
    """(p·n+99)//100 must equal ceil(p·n/100) for every group size —
    the discrete-percentile index backbone of q_winsorized_agg."""
    import math

    n = len(xs)
    for p in (5, 95):
        assert (p * n + 99) // 100 == math.ceil(p * n / 100)


EDGE_ROWS = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5)),
    min_size=1,
    max_size=20,
)


@given(edges=EDGE_ROWS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_hops_matches_model(spark, edges):
    """operators.graph.bfs_hops vs a plain-Python BFS from min(u):
    every reachable node within 3 hops appears exactly once with its
    min-hop distance, at a forced multi-partition layout."""
    from spark_streaming_join_example_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(
        [tuple(e) for e in edges], schema="u int, v int"
    ).repartition(3)
    got = {(r.node, r.dist) for r in bfs_hops(df, max_depth=3).collect()}

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    src = min(u for u, _ in edges)
    dist = {src: 0}
    frontier = {src}
    for d in range(1, 4):
        nxt = {v for u in frontier for v in adj.get(u, ()) if v not in dist}
        for v in nxt:
            dist[v] = d
        frontier = nxt
    assert got == set(dist.items())


@given(edges=EDGE_ROWS, k=st.integers(1, 4))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_matches_model(spark, edges, k):
    """operators.graph.kcore vs a brute-force Python peel: identical
    surviving node set and in-core degrees (the k-core is a unique
    fixpoint, so any peel order agrees), at a forced multi-partition
    layout; every returned degree is ≥ k."""
    from spark_streaming_join_example_spark.operators.graph import kcore

    df = spark.createDataFrame(
        [tuple(e) for e in edges], schema="u int, v int"
    ).repartition(3)
    got = {(r.node, r.core_deg) for r in kcore(df, k=k).collect()}

    # Python model: symmetrize, drop self-loops, peel to fixpoint.
    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    want = {(n, len(nb)) for n, nb in adj.items()}
    assert got == want
    assert all(d >= k for _, d in got)


@given(edges=EDGE_ROWS, k=st.integers(1, 4))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_distinct_half_path_matches_generic(spark, edges, k):
    """kcore(input_distinct_half=True) over the deduplicated u < v
    half relation ≡ the generic path over the raw directed edge list
    (the r15 setup-shuffle skip, OPTIMIZATION_r15.md §4): the mirror union
    of a distinct half cannot collide with itself, so skipping both
    setup dedup shuffles must not move the fixpoint."""
    from spark_streaming_join_example_spark.operators.graph import kcore

    df = spark.createDataFrame(
        [tuple(e) for e in edges], schema="u int, v int"
    ).repartition(3)
    half_rows = sorted(
        {(min(u, v), max(u, v)) for u, v in edges if u != v}
    )
    if not half_rows:
        return  # all self-loops: the half relation is empty by contract
    half = spark.createDataFrame(
        half_rows, schema="u int, v int"
    ).repartition(3)
    generic = {(r.node, r.core_deg) for r in kcore(df, k=k).collect()}
    fast = {
        (r.node, r.core_deg)
        for r in kcore(half, k=k, input_distinct_half=True).collect()
    }
    assert fast == generic


@given(
    vals=st.lists(st.integers(0, 9), min_size=1, max_size=60),
    num_partitions=st.sampled_from([4, None]),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_row_number_matches_single_sort(spark, vals, num_partitions):
    """operators.ranking.global_row_number ≡ single-partition
    row_number under a total order, on duplicate-heavy data at a
    forced multi-partition layout (ties MUST NOT straddle-break:
    the unique id tie-break makes the order total).  With no explicit
    count the kernel takes the session's batch shuffle width."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from spark_streaming_join_example_spark.operators.ranking import (
        _resolve_partitions,
        global_row_number,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], schema="id long, v long"
    ).repartition(5)
    if num_partitions is None:
        # the test session's batch width (shuffle_partitions=8), not
        # its streaming state width (defaultParallelism of local[4])
        assert _resolve_partitions(df, None) == 8
    got = {
        (r.id, r.rn)
        for r in global_row_number(
            df, [F.col("v").desc(), F.col("id")], num_partitions=num_partitions
        ).collect()
    }
    want = {
        (r.id, r.rn)
        for r in df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("v").desc(), F.col("id"))).cast("long"),
        ).collect()
    }
    assert got == want


@given(
    starts=st.lists(st.integers(0, 50), min_size=1, max_size=30),
    dur=st.integers(1, 10),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sweep_line_max_concurrency_matches_model(spark, starts, dur):
    """The +1/−1 sweep (q_max_concurrency's kernel) vs brute force:
    for half-open intervals [s, s+dur), the running-sum maximum must
    equal max over time of |{i : s_i ≤ t < s_i+dur}|, including
    stacked identical timestamps and touching endpoints."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = spark.createDataFrame([(s,) for s in starts], "s long").repartition(3)
    iv = df.select("s", (F.col("s") + dur).alias("e"))
    d = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    net = d.groupBy("t").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = (
        net.select(F.sum("net").over(w).alias("conc"))
        .agg(F.max("conc"))
        .collect()[0][0]
    )
    want = max(
        sum(1 for s in starts if s <= t < s + dur)
        for t in range(0, max(starts) + dur + 1)
    )
    assert got == want


@given(
    vals=st.lists(st.integers(0, 9), min_size=1, max_size=60),
    k=st.integers(1, 7),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_ntile_matches_single_sort(spark, vals, k):
    """operators.ranking.global_ntile ≡ single-partition NTILE(k)
    under a total order, including n<k (every row its own bucket) and
    duplicate-heavy orderings across forced range boundaries.

    The payload column ``p`` (not an order key) is load-bearing: it
    reproduces the column-pruning divergence where the kernel's sizes
    branch optimized to a narrower range exchange than the rank
    branch, re-sampled different split points, and corrupted the
    offsets (caught live by q_equi_depth_histogram's oracle)."""
    from spark_streaming_join_example_spark.operators.ranking import (
        global_ntile,
    )

    df = spark.createDataFrame(
        [(i, v, v * 7 + i) for i, v in enumerate(vals)],
        schema="id long, v long, p long",
    ).repartition(5)
    got = {
        (r.id, r.b)
        for r in global_ntile(
            df, k, [F.col("v"), F.col("id")], out="b", num_partitions=4
        ).collect()
    }
    want = {
        (r.id, r.b)
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-5, 5)),
        min_size=1,
        max_size=60,
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_cumsum_matches_single_sort(spark, vals):
    """operators.ranking.global_cumsum ≡ single-partition running sum
    (rows unbounded preceding..current) + row_number, on integer
    values (exact associative split), two sums at once."""
    from spark_streaming_join_example_spark.operators.ranking import (
        global_cumsum,
    )

    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(vals)],
        schema="id long, v long, w long",
    ).repartition(5)
    got = {
        (r.id, r.cv, r.cw, r.rn)
        for r in global_cumsum(
            df,
            [F.col("v"), F.col("id")],
            sums={"cv": "v", "cw": F.col("w") * 2},
            rn_out="rn",
            num_partitions=4,
        ).collect()
    }
    w_cum = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.id, r.cv, r.cw, r.rn)
        for r in df.select(
            "id",
            F.sum("v").over(w_cum).alias("cv"),
            F.sum(F.col("w") * 2).over(w_cum).alias("cw"),
            F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("rn"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Streaming temporal join ≡ naive as-of model (end-to-end, per example)
# ---------------------------------------------------------------------------
TEMPORAL_ROWS = st.lists(
    st.tuples(
        st.integers(0, 3),      # key (user_id)
        st.integers(0, 120),    # ts in minutes
        st.booleans(),          # True → version ('view'), False → event ('click')
    ),
    min_size=1,
    max_size=18,
)


@given(rows=TEMPORAL_ROWS, split=st.integers(0, 18))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_temporal_join_matches_asof_model(spark, rows, split):
    """End-to-end property: for ANY interleaving of version/event rows
    and ANY 2-chunk replay split, the streaming temporal join equals
    the naive as-of model (latest version ≤ event ts, ties by max seq)
    on every event the watermark finalized — and finalizes exactly the
    events strictly behind it."""
    import os as _os
    import tempfile

    import pandas as pd

    from spark_streaming_join_example_spark.streaming.replay import (
        read_event_stream,
        run_to_memory,
    )
    from spark_streaming_join_example_spark.streaming.temporal import (
        temporal_join_events,
    )

    base = pd.Timestamp("2024-01-01")
    recs = []
    for i, (k, minute, is_version) in enumerate(rows):
        recs.append(
            (
                i,                                   # event_id (unique seq)
                base + pd.Timedelta(minutes=minute), # ts
                k,
                "view" if is_version else "click",
                float(i),                            # value/payload
                "{}",
            )
        )
    # watermark pusher far in the future on an unused key: everything
    # above is strictly behind the final watermark (10 min delay)
    recs.append((10_000, base + pd.Timedelta(days=30), 99, "click", 0.0, "{}"))

    split = min(split, len(recs) - 1)
    d = tempfile.mkdtemp(prefix="temporal_prop_")
    for ci, chunk in enumerate((recs[:split], recs[split:])):
        if not chunk:
            continue
        pdf = pd.DataFrame(
            chunk,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        path = _os.path.join(d, f"chunk_{ci}.parquet")
        pdf.to_parquet(path, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        _os.utime(path, (1_700_000_000 + ci, 1_700_000_000 + ci))

    ck = tempfile.mkdtemp(prefix="temporal_prop_ck_")
    out = run_to_memory(
        temporal_join_events(read_event_stream(spark, d)),
        ck,
        "append",
    )
    got = {
        r.event_id: (r.dim_ts, r.dim_value) for r in out.collect() if r.user_id != 99
    }

    # naive model over the full row set
    versions = [
        (k, base + pd.Timedelta(minutes=m), i, float(i))
        for i, (k, m, isv) in enumerate(rows)
        if isv
    ]
    want = {}
    for i, (k, m, isv) in enumerate(rows):
        if isv:
            continue
        ts = base + pd.Timedelta(minutes=m)
        cand = [(vts, seq, val) for (vk, vts, seq, val) in versions
                if vk == k and vts <= ts]
        if cand:
            _, _, val = max(cand)
            want[i] = (max(cand)[0], val)
        else:
            want[i] = (None, None)

    assert set(got) == set(want)
    for eid, (dts, dval) in want.items():
        g_ts, g_val = got[eid]
        g_ts = None if g_ts is None else pd.Timestamp(g_ts)
        assert g_ts == dts and g_val == dval, (eid, g_ts, g_val, dts, dval)


# --- q_event_pattern day-monoid equivalence --------------------------------
# The day-bucketed automaton composition must agree with the plain
# regexes over the full concatenated sequence for ANY sequence and ANY
# split into days — hypothesis drives both the string and the split.

SEQ = st.lists(st.sampled_from("vcpse"), min_size=1, max_size=40)
SPLITS = st.lists(st.integers(1, 6), min_size=1, max_size=12)


@given(seq=SEQ, splits=SPLITS)
@settings(**SETTINGS)
def test_event_pattern_day_fold_matches_global_regex(
    spark, tmp_path_factory, seq, splits
):
    import datetime
    import itertools
    import re

    from spark_streaming_join_example_spark.plans.registry import (
        queries_dict,
    )

    # assign events to days: splits gives per-day chunk lengths,
    # cycled until the sequence is consumed
    days, i = [], 0
    for w in itertools.cycle(splits):
        if i >= len(seq):
            break
        days.append(seq[i : i + w])
        i += w
    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for d, chunk in enumerate(days):
        for j, ch in enumerate(chunk):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(days=d, seconds=j),
                    7,
                    ch,
                    0.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = tmp_path_factory.mktemp("evpat")
    df.write.mode("overwrite").parquet(str(out / "events.parquet"))
    got = queries_dict()["q_event_pattern"](spark, str(out)).collect()
    assert len(got) == 1
    s = "".join(seq)
    r = got[0]
    assert r.n_events == len(seq)
    assert r.seq_len == len(seq)
    assert r.converted_clean == bool(re.search("c[^e]*p", s)), (s, days)
    assert r.full_funnel == bool(re.search("s.*c.*p", s)), (s, days)


# --- basket_pairs ≡ self-join edge build ----------------------------------
# The collect_set + local-pair-expansion edge build must agree with the
# textbook self-join on ANY (basket, item) multiset, in both modes:
# distinct (u, v) edges, and one row per (basket, u, v) co-occurrence.

BASKET_ROWS = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 9)),
    min_size=0,
    max_size=60,
)


@given(rows=BASKET_ROWS)
@settings(**SETTINGS)
def test_basket_pairs_matches_selfjoin_model(spark, rows):
    from spark_streaming_join_example_spark.operators.graph import (
        basket_pairs,
    )

    df = spark.createDataFrame(
        rows or [(0, 0)], "b long, i long"
    )
    if not rows:
        df = df.filter(F.lit(False))
    # python model over deduped (basket, item)
    per_basket = {}
    for b, i in set(rows):
        per_basket.setdefault(b, set()).add(i)
    model_multiset = Counter(
        (u, v)
        for items in per_basket.values()
        for u in items
        for v in items
        if u != v
    )
    got_multi = Counter(
        (r.u, r.v)
        for r in basket_pairs(df, "b", "i", distinct_pairs=False).collect()
    )
    assert got_multi == model_multiset
    got_distinct = {
        (r.u, r.v) for r in basket_pairs(df, "b", "i").collect()
    }
    assert got_distinct == set(model_multiset)
    # r15 undirected contract: each unordered pair exactly once as its
    # u < v orientation — in both modes
    model_half = Counter(p for p in model_multiset.elements() if p[0] < p[1])
    got_half_multi = Counter(
        (r.u, r.v)
        for r in basket_pairs(
            df, "b", "i", distinct_pairs=False, directed=False
        ).collect()
    )
    assert got_half_multi == model_half
    got_half = {
        (r.u, r.v)
        for r in basket_pairs(df, "b", "i", directed=False).collect()
    }
    assert got_half == set(model_half)
    # heavy-tailed split path: tiny caps force multi-chunk expansion;
    # results must be IDENTICAL in both modes for any cap
    for cap in (1, 2, 3):
        got_m = Counter(
            (r.u, r.v)
            for r in basket_pairs(
                df, "b", "i", distinct_pairs=False, max_items=cap
            ).collect()
        )
        assert got_m == model_multiset, cap
        got_d = {
            (r.u, r.v)
            for r in basket_pairs(df, "b", "i", max_items=cap).collect()
        }
        assert got_d == set(model_multiset), cap
        got_hd = {
            (r.u, r.v)
            for r in basket_pairs(
                df, "b", "i", max_items=cap, directed=False
            ).collect()
        }
        assert got_hd == set(model_half), cap


# --- prefix-filter set-similarity join: lossless for ANY corpus ------
#
# The pigeonhole-lemma implementation (operators/dedup.py
# prefix_filter_candidates) lives or dies on its ceil arithmetic
# (prefix length |X| - ceil(t*|X|) + 1) and the global token order.
# Hypothesis drives random tiny corpora + thresholds through the real
# Spark pipeline and compares against a naive Python model — the
# distributed path (repartitioned input) must return EXACTLY the
# all-pairs answer, every time.

DOCS = st.lists(
    st.lists(st.integers(0, 15), min_size=1, max_size=8),
    min_size=2,
    max_size=12,
)


@given(
    docs=DOCS,
    thr=st.sampled_from([0.34, 0.5, 0.6, 0.75, 0.9, 1.0]),
    order=st.sampled_from(["df", "hash"]),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_join_lossless(spark, docs, thr, order):
    """Both canonical orders: "df" (rarest-first, the batch heuristic)
    and "hash" (frozen, the incremental-index order) must return the
    exact all-pairs answer — the pigeonhole lemma never cares which
    fixed global order ranks the prefixes."""
    from spark_streaming_join_example_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    texts = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
    got = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(
            df, threshold=thr, order=order
        ).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(docs)}
    want = set()
    for i in sets:
        for j in sets:
            if i < j:
                jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
                if jac >= thr:
                    want.add((i, j))
    assert got == want


@given(docs=DOCS, thr=st.sampled_from([0.34, 0.6, 0.9, 1.0]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_join_shingle_lossless(spark, docs, thr):
    """Shingle-unit mode (r9): the pigeonhole lemma never inspects the
    set elements, so swapping word units for word-3-gram shingles must
    stay LOSSLESS — same property as above against a Python model that
    shingles exactly like operators/dedup.py shingles() (documents
    shorter than n collapse to one whole-document shingle).  Note the
    model keys on token SEQUENCES, not sets: duplicate tokens in a doc
    produce real shingles, so this also pins the order-sensitivity."""
    from spark_streaming_join_example_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    texts = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
    got = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(
            df, threshold=thr, shingle=3
        ).collect()
    }

    def sh(toks):
        words = [f"t{t}" for t in toks]
        if len(words) >= 3:
            return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
        return {" ".join(words)}

    sets = {i: sh(toks) for i, toks in enumerate(docs)}
    want = set()
    for i in sets:
        for j in sets:
            if i < j:
                jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
                if jac >= thr:
                    want.add((i, j))
    assert got == want


@given(docs=DOCS, thr=st.sampled_from([0.34, 0.6, 0.9, 1.0]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_incremental_join_lossless(spark, docs, thr):
    """The ASYMMETRIC candidate stage (prefix_candidate_join between a
    corpus and an incoming shard, frozen hash order — the incremental
    index / q_dedup_incoming shape) must find exactly the cross pairs
    the all-pairs answer contains: no within-side pairs, no misses.
    The pigeonhole lemma is per-PAIR, so it survives the split as long
    as both sides' prefixes use the same frozen global order."""
    import pyspark.sql.functions as F

    from spark_streaming_join_example_spark.operators.dedup import (
        distinct_tokens,
        exact_jaccard_verify,
        prefix_candidate_join,
        prefix_rows,
    )

    texts = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
    toks = df.select("doc_id", distinct_tokens("text").alias("toks"))
    corpus = toks.filter(F.col("doc_id") % 2 == 0)
    incoming = toks.filter(F.col("doc_id") % 2 == 1)
    cand = prefix_candidate_join(
        prefix_rows(incoming, "doc_id", thr, order="hash"),
        prefix_rows(corpus, "doc_id", thr, order="hash"),
        "doc_id",
        thr,
    )
    got = {
        (r.a_id, r.b_id)
        for r in exact_jaccard_verify(cand, toks, "doc_id", thr).collect()
    }
    sets = {i: set(toks_) for i, toks_ in enumerate(docs)}
    want = set()
    for i in sets:
        for j in sets:
            if i < j and (i % 2) != (j % 2):  # cross-side pairs only
                jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
                if jac >= thr:
                    want.add((i, j))
    assert got == want


# --- round-15 span-dedup semantics (operators/text.py) --------------

DOCS = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=14),
    min_size=1,
    max_size=8,
)


@given(docs=DOCS)
@settings(**SETTINGS)
def test_span_coverage_frame_matches_model(spark, docs):
    """span_coverage_frame (the shared kernel of q_span_coverage /
    q_span_trim and the streaming span index) against a Python model
    over tiny random corpora with a 5-symbol vocabulary — duplicated
    grams are common, so the generator exercises overlapping AND
    adjacent island merges, whole-document coverage, and
    docs-below-span-length (they emit no row)."""
    from collections import defaultdict

    from spark_streaming_join_example_spark.operators.text import (
        gram_positions,
        span_coverage_frame,
    )

    span = 3
    texts = {i: " ".join(toks) for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).repartition(3)

    where = defaultdict(set)
    for did, toks in enumerate(docs):
        for i in range(len(toks) - span + 1):
            where[" ".join(toks[i : i + span])].add(did)
    dup = {g for g, ds in where.items() if len(ds) >= 2}
    want = {}
    for did, toks in enumerate(docs):
        spans = [
            (i + 1, i + span)
            for i in range(len(toks) - span + 1)
            if " ".join(toks[i : i + span]) in dup
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
        want[did] = (
            len(toks),
            covered,
            round(covered / len(toks), 6),
            longest,
        )

    g = gram_positions(df, span=span)
    dup_df = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    got = {
        r.doc_id: (r.n_toks, r.covered_toks, r.dup_coverage, r.longest_span)
        for r in span_coverage_frame(g, dup_df, span=span).collect()
    }
    assert got == want
