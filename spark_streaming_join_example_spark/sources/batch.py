"""Batch parquet source (SURVEY.md §2.1 S1).

``load_table`` is the single entry point every query uses: it repairs
runtime confs on whatever session it's given (the verify driver builds
its own), applies the explicit schema (no footer-inference job), and
normalizes ``events.ts`` to TimestampType (µs) whatever the fixture's
physical encoding.

The fixture generator has shipped ``events.ts`` two ways across
refreshes: raw int64 / parquet TIMESTAMP(NANOS) nanoseconds (read as
LongType via ``nanosAsLong``), and plain parquet ``timestamp[us]``.
``_events_ts_is_raw_nanos`` sniffs ONE footer per path (driver-side,
cached — at 100 TB this is a single metadata read, not a scan) and the
loader branches:

- nanos: explicit LongType schema, then ``timestamp_micros(ts div
  1000)``.  Integer division, NOT float division, which loses precision
  at 2^62-scale nanosecond values and can shift the microsecond by ±1
  vs the DuckDB oracle's truncating cast.
- timestamp[us/ms]: explicit TimestampType schema, no conversion.
  Session TZ is pinned UTC, so NTZ-stored values collect identically to
  the DuckDB oracle's naive timestamps.
"""

from __future__ import annotations

import functools
import glob
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENTS, EVENTS_RAW, RAW_SCHEMAS
from ..session import ensure_runtime_confs


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _events_footer_file(path: str) -> str | None:
    """The one file whose footer we sniff for the ts encoding."""
    if os.path.isdir(path):
        candidates = sorted(glob.glob(os.path.join(path, "*.parquet")))
        return candidates[0] if candidates else None
    return path


@functools.lru_cache(maxsize=64)
def _sniff_ts_unit(footer_file: str, mtime_ns: int, size: int) -> bool | None:
    # mtime_ns/size are part of the cache key only — a fixture refresh
    # at the same path (the exact scenario this sniff exists for)
    # changes them and forces a re-read instead of serving the stale
    # verdict inside a long-lived process.
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_schema(footer_file).field("ts").type
        if pa.types.is_timestamp(t):
            if t.unit != "ns":
                return False
            # pyarrow reports BOTH int96 (Spark's legacy default
            # writer encoding) and TIMESTAMP(NANOS) as timestamp[ns];
            # only the latter needs the raw-long read path — Spark
            # reads int96 as TimestampType natively, and forcing a
            # LongType schema on it throws PARQUET_COLUMN_DATA_TYPE_
            # MISMATCH.  Disambiguate on the parquet PHYSICAL type.
            md = pq.ParquetFile(footer_file).metadata
            idx = pq.read_schema(footer_file).get_field_index("ts")
            if md.num_row_groups > 0:
                return md.row_group(0).column(idx).physical_type != "INT96"
            return False  # empty file: either read path yields 0 rows
        return True  # plain integer column = raw nanos convention
    except Exception:
        return None


def _events_ts_is_raw_nanos(path: str) -> bool | None:
    """Sniff the parquet footer: is ``ts`` stored as nanoseconds?

    True  → int64 or TIMESTAMP(NANOS) (Spark reads LongType under
            ``nanosAsLong``; loader must divide by 1000).
    False → TIMESTAMP(MICROS/MILLIS) (Spark reads TimestampType).
    None  → footer unreadable here; caller falls back to Spark schema
            inference.

    Cached per (file, mtime, size) — one driver-side metadata read per
    fixture generation, and regenerating the fixture in-place
    invalidates the entry automatically.
    """
    footer_file = _events_footer_file(path)
    if footer_file is None:
        return None
    try:
        st = os.stat(footer_file)
    except OSError:
        return None
    return _sniff_ts_unit(footer_file, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=256)
def _num_rows_cached(footer_file: str, mtime_ns: int, size: int) -> int | None:
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(footer_file).metadata.num_rows
    except Exception:
        return None


def parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from parquet footer metadata —
    one driver-side metadata read (cached per file generation), no Spark
    job.  Used to pre-size the vector kernels' block grids so
    ``_auto_blocks`` never pays a count() action inside a registered
    query.  Returns None if the footer is unreadable (callers fall back
    to counting)."""
    path = table_path(sf_dir, name)
    files = [path]
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
    total = 0
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            return None
        n = _num_rows_cached(f, st.st_mtime_ns, st.st_size)
        if n is None:
            return None
        total += n
    return total


def scan_fanout(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Fan a small-file scan out to the session's core count before
    compute-heavy downstream operators (r15, guide §2.5/§2.6).

    A parquet scan produces at most ~size/openCostInBytes (4 MB)
    splits, so a table whose on-disk bytes sit below
    ``defaultParallelism × 4 MB`` necessarily scans in fewer tasks
    than the session has cores — and every operator FUSED onto the
    scan (shingle expressions, explodes, mapInPandas kernels,
    broadcast-join probes) inherits that ceiling.  A pipeline with no
    exchange anywhere then runs SERIALLY regardless of core count:
    the sf0.1 MinHash stack (584 KB documents scan → shingles →
    signature kernel → broadcast LSH join → verify) spent 98 % of its
    executor time in three single-task stages (tools/stage_profile.py,
    r15).  AQE cannot help — its coalescing is bytes-based and there
    is no shuffle to re-split.  One explicit round-robin repartition
    to ``defaultParallelism`` unlocks the cores for the price of
    shuffling a few hundred KB.

    Scale-adaptive by construction: the decision derives from the
    INPUT SIZE (one driver-side os.stat, no job).  A table big enough
    to scan at ≥ core-count parallelism is returned unchanged, so at
    production scale this is a no-op — never an added full shuffle of
    a large input.  Apply it only where downstream work is per-row
    heavy; plain scans/aggregates don't need it."""
    path = table_path(sf_dir, name)
    try:
        if os.path.isdir(path):
            # recursive: partitioned layouts nest data files under
            # key=value subdirectories
            size = sum(
                os.path.getsize(f)
                for f in glob.glob(
                    os.path.join(path, "**", "*.parquet"), recursive=True
                )
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    if size <= 0:
        # r16 (ADVICE r15): an empty glob / zero-byte estimate means the
        # size is UNKNOWN (layout drift, object-store path, nested
        # non-parquet names), not "tiny" — repartitioning on a failed
        # estimate could insert a full shuffle of a large table, the
        # exact case the docstring promises never happens.  Mirror the
        # OSError branch and leave the scan unchanged.
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if size >= p * 4 * 1024 * 1024:
        return df
    return df.repartition(p)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table with its canonical logical schema."""
    ensure_runtime_confs(spark)
    path = table_path(sf_dir, name)
    if name == "events":
        raw_nanos = _events_ts_is_raw_nanos(path)
        if raw_nanos is None:
            # pyarrow couldn't read the footer — one driver-side
            # inference pass (still metadata-only for parquet).
            from pyspark.sql.types import LongType

            inferred = spark.read.parquet(path).schema["ts"].dataType
            raw_nanos = isinstance(inferred, LongType)
        if raw_nanos:
            df = spark.read.schema(EVENTS_RAW).parquet(path)
            # raw int64 ns → µs (exact integer division) → TimestampType.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return spark.read.schema(EVENTS).parquet(path)
    schema = RAW_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)
