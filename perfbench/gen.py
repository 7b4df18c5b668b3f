"""Seeded input generation for the engine benchmark.

Every table is produced from numpy generators and written with
pyarrow, so the same seed gives byte-identical files.  The shapes
mirror the engine's sf0.1 fixture schemas (``schemas.py``) and value
domains (FIXTURES.md): Poisson(4) lines per order, 30-word document
vocabulary with planted near-duplicates, five uniform event types.

Three layers of generation, one per workload family:

- ``base_tables(scale)``: the relational base at a fixed seed, so the
  work a workload does does not drift with ``--seed``;
- ``replicate`` / ``write_tables``: the per-seed layout — key shifts
  for the K-fold replica, row order, and the split into files;
- ``event_chunks``: the per-seed event stream for ``stream_join``
  (zipf user skew, a bounded share of out-of-order events).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the base tables never depend on ``--seed``: the seed only moves
#: keys, row order and file boundaries, so the work per pass stays put.
BASE_SEED = 20240101

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)

#: the fixture tables the workloads read.
TABLES = ("customer", "orders", "lineitem", "events", "documents")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale: float, names: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Relational base tables at ``scale`` (1.0 = the sf0.1 fixture's
    row counts: 15k customers, 150k orders, ~600k lines, 100k events,
    5k documents), always from ``BASE_SEED``.  Each table draws from its
    own generator, so any subset comes out the same."""
    out = {}
    for name in names:
        rng = np.random.default_rng([BASE_SEED, TABLES.index(name)])
        out[name] = _BUILDERS[name](rng, scale)
    return out


def _customer(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(15_000 * scale)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)]),
        }
    )


def _order_dates(scale: float) -> np.ndarray:
    # shared by orders and lineitem (ship date follows order date)
    rng = np.random.default_rng([BASE_SEED, len(TABLES)])
    return EPOCH_1995 + rng.integers(0, 2404, int(150_000 * scale)) * DAY_US


def _orders(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(150_000 * scale)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, int(15_000 * scale), n, dtype="int64")),
            "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _ts(_order_dates(scale)),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, scale: float) -> pa.Table:
    odate = _order_dates(scale)
    per_order = rng.poisson(4.0, len(odate))
    ok = np.repeat(np.arange(len(odate), dtype="int64"), per_order)
    n = len(ok)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    return pa.table(
        {
            "l_orderkey": pa.array(ok),
            "l_partkey": pa.array(rng.integers(0, int(20_000 * scale), n, dtype="int64")),
            "l_suppkey": pa.array(rng.integers(0, max(10, int(1_000 * scale)), n, dtype="int64")),
            "l_linenumber": pa.array((np.arange(n) - starts + 1).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(RETURNFLAGS[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(LINESTATUSES[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(odate[ok] + rng.integers(1, 122, n) * DAY_US),
        }
    )


def _events(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(100_000 * scale)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))),
            "user_id": pa.array(rng.integers(0, max(10, int(1_500 * scale)), n, dtype="int64")),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(5_000 * scale)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document with one word
            # replaced, marked with a trailing "dup" token
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(VOCAB[rng.integers(0, len(VOCAB))])
            if words[-1] != "dup":
                words.append("dup")
        else:
            words = VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))].tolist()
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


_BUILDERS = {
    "customer": _customer,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
}


def _add(col: pa.ChunkedArray, k: int) -> np.ndarray:
    return col.to_numpy() + np.int64(k)


def replicate(base: dict[str, pa.Table], k: int, seed: int) -> dict[str, pa.Table]:
    """K key-shifted replicas of the base tables.

    Replica ``r`` lands at key slot ``perm[r]``: every key column moves
    by ``slot * stride`` (``stride`` > the largest key, so replicas
    never collide and foreign keys stay consistent), and event times
    move by whole days, keeping hour buckets aligned.  The seed picks
    the slot permutation."""
    rng = np.random.default_rng([seed, 1])
    slots = rng.permutation(k)
    stride = {
        "cust": base["customer"].num_rows,
        "order": base["orders"].num_rows,
        "event": base["events"].num_rows,
    }
    out: dict[str, list[pa.Table]] = {t: [] for t in ("customer", "orders", "lineitem", "events")}
    for slot in slots:
        cs, os_, es = (int(slot) * stride[x] for x in ("cust", "order", "event"))
        c = base["customer"]
        out["customer"].append(c.set_column(0, "c_custkey", pa.array(_add(c["c_custkey"], cs))))
        o = base["orders"]
        o = o.set_column(0, "o_orderkey", pa.array(_add(o["o_orderkey"], os_)))
        out["orders"].append(o.set_column(1, "o_custkey", pa.array(_add(o["o_custkey"], cs))))
        li = base["lineitem"]
        out["lineitem"].append(li.set_column(0, "l_orderkey", pa.array(_add(li["l_orderkey"], os_))))
        e = base["events"]
        e = e.set_column(0, "event_id", pa.array(_add(e["event_id"], es)))
        e = e.set_column(
            1, "ts", _ts(e["ts"].cast(pa.int64()).to_numpy() + int(slot) * DAY_US)
        )
        out["events"].append(e.set_column(2, "user_id", pa.array(_add(e["user_id"], cs))))
    return {t: pa.concat_tables(v) for t, v in out.items()}


def write_split(table: pa.Table, path: str, rng: np.random.Generator, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files: rows
    in a seeded order, cut at seeded boundaries that stay within 10% of
    an even split, so the scan's task count and balance do not change
    with the seed."""
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    even = np.linspace(0, n, n_files + 1)
    jitter = rng.uniform(-0.1, 0.1, n_files - 1) * (n / n_files)
    bounds = [0, *np.round(even[1:-1] + jitter).astype(int).tolist(), n]
    os.makedirs(path, exist_ok=True)
    # pyarrow releases the GIL while encoding, so files write in parallel
    with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        futures = [
            pool.submit(
                pq.write_table,
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(path, f"part-{i:05d}.parquet"),
            )
            for i in range(n_files)
        ]
        for f in futures:
            f.result()


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int, n_files: int) -> None:
    """Write each table to ``out_dir/<name>.parquet/`` (the layout
    ``load_table`` reads) with the seeded row order and file split."""
    rng = np.random.default_rng([seed, 2])
    for name, t in sorted(tables.items()):
        write_split(t, os.path.join(out_dir, f"{name}.parquet"), rng, n_files)


def event_chunks(
    seed: int,
    n_chunks: int,
    rows: int,
    n_users: int,
    unknown_frac: float,
    event_step_us: int,
    late_frac: float,
    late_max_us: int,
    zipf_a: float,
) -> list[pa.Table]:
    """The ``stream_join`` event stream, cut into publishable chunks.

    Chunk ``i`` covers event time ``[i, i+1) * event_step_us`` after
    2024-01-01.  User ids are zipf-skewed over a seeded permutation of
    the ``n_users`` known ids, except ``unknown_frac`` of the rows, which
    carry ids past them (the enrichment join drops those); and
    ``late_frac`` of the rows are stamped up to ``late_max_us`` earlier
    than their chunk (out of order, but inside the join's watermark
    when ``late_max_us`` is below it)."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.permutation(n_users).astype("int64")
    out = []
    for i in range(n_chunks):
        base = EPOCH_2024 + i * event_step_us
        ts = np.sort(base + rng.integers(0, event_step_us, rows))
        late = rng.random(rows) < late_frac
        ts = ts - np.where(late, rng.integers(1, late_max_us, rows), 0)
        ranks = np.minimum(rng.zipf(zipf_a, rows), n_users) - 1
        user = np.where(
            rng.random(rows) < unknown_frac, n_users + rng.integers(0, n_users, rows), ids[ranks]
        )
        out.append(
            pa.table(
                {
                    "event_id": pa.array(np.arange(i * rows, (i + 1) * rows, dtype="int64")),
                    "ts": _ts(ts),
                    "user_id": pa.array(user),
                    "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)]),
                    "value": pa.array(np.round(rng.exponential(60.0, rows), 2)),
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
                }
            )
        )
    return out
