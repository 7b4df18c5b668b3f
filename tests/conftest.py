from __future__ import annotations

import pytest

from spark_streaming_join_example_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spark-graft-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def collect_sorted(df):
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted by repr — mirrors the driver's order-insensitive hash."""
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.collect()]
    return sorted(rows, key=repr)


def cached_plan_of(df) -> str:
    """The plan after Spark's CacheManager swapped in persisted
    relations: it names an ``InMemoryRelation`` wherever a subtree is
    served from a persisted build."""
    return df._jdf.queryExecution().withCachedData().toString()
