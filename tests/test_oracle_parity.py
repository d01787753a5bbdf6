"""Differential test: every registered query with an oracle must match
DuckDB exactly at sf0.001 (fast) — the local twin of the driver's
CORRECTNESS gate, which runs at sf0.01."""

from __future__ import annotations

import os

import pytest

from tests.oracle_harness import compare, duck_connection

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _pairs():
    from fluss_iceberg_spark import registry

    registry.load_all()
    return sorted(registry.ORACLES)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _pairs())
def test_query_matches_oracle(spark, duck, name):
    from fluss_iceberg_spark import registry

    df = registry.QUERIES[name](spark, SF_DIR)
    ok, msg = compare(df, duck, registry.ORACLES[name])
    assert ok, f"{name}: {msg}"


# session confs a query may change for a while (operators.util.session_conf)
# but must leave as it found them for the queries after it
SCOPED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.parquet.outputTimestampType",
)


def test_all_queries_return_rows(spark):
    """Queries without oracles still get the rows-only smoke check, and
    no query leaves a session conf changed or a cached frame behind it:
    in a long-lived session a cache nobody releases holds executor
    memory for the rest of the session."""
    from fluss_iceberg_spark import registry

    registry.load_all()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # what earlier tests cached is not a query's
    for name, fn in registry.QUERIES.items():
        before = [spark.conf.get(k) for k in SCOPED_CONFS]
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name
        assert [spark.conf.get(k) for k in SCOPED_CONFS] == before, name
        assert cache.isEmpty(), f"{name} left a cached frame"
