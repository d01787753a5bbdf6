"""Runtime-filtered join (plans/cbo.join_with_runtime_filter): the
filtered dimension's key set must prune the fact scan at the manifest
layer (the DPP / Iceberg-runtime-filtering role), and every fallback
path must stay value-correct."""

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeCatalog
from fluss_iceberg_spark.plans import cbo


@pytest.fixture()
def star(spark, tmp_path):
    """Fact: 20k rows over date_key 1..200, range-clustered into 8 files
    per append x 2 appends. Dim: one row per date_key with a coarse
    'month' attribute (20 keys per month)."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    fact_df = spark.range(20000).select(
        (F.col("id") % 200 + 1).cast("int").alias("date_key"),
        F.col("id").alias("order_key"),
        (F.col("id") % 97).cast("double").alias("amount"),
    )
    fact = cat.create_table(
        "fact",
        fact_df.schema,
        properties={
            "write.sort-order": "date_key",
            "write.cluster-partitions": "8",
        },
    )
    fact.append(fact_df.filter(F.col("order_key") % 2 == 0))
    fact.append(fact_df.filter(F.col("order_key") % 2 == 1))
    dim_df = spark.range(200).select(
        (F.col("id") + 1).cast("int").alias("date_key"),
        (F.col("id") / 20).cast("int").alias("month"),
    )
    dim = cat.create_table("dim", dim_df.schema)
    dim.append(dim_df)
    return fact, dim


def _expected(fact, dim, dwhere):
    exp = fact.read().join(dim.read(where=dwhere), on="date_key")
    return sorted(tuple(r) for r in exp.collect())


def test_prunes_fact_files_and_matches_unfiltered_join(star):
    fact, dim = star
    dim.analyze(["month"])
    out = cbo.join_with_runtime_filter(
        fact, dim, on="date_key", dwhere=[("month", "=", 3)]
    )
    assert sorted(tuple(r) for r in out.collect()) == _expected(
        fact, dim, [("month", "=", 3)]
    )
    # the scan the runtime filter issues must skip most files: month 3
    # is date_key 61..80, one ~25-key-wide clustered file per append
    keys = list(range(61, 81))
    total = len(fact.plan_scan())
    hit = len(fact.plan_scan(where=[("date_key", "in", keys)]))
    assert total == 16
    assert hit <= total // 4, (hit, total)


def test_unanalyzed_dim_falls_back_correct(star):
    fact, dim = star  # no analyze(): estimate is None
    out = cbo.join_with_runtime_filter(
        fact, dim, on="date_key", dwhere=[("month", "=", 3)]
    )
    assert sorted(tuple(r) for r in out.collect()) == _expected(
        fact, dim, [("month", "=", 3)]
    )


def test_oversized_key_set_falls_back_correct(star):
    fact, dim = star
    dim.analyze(["month"])
    out = cbo.join_with_runtime_filter(
        fact, dim, on="date_key", dwhere=[("month", "=", 3)],
        max_build_keys=5,  # estimate ~20 keys exceeds this
    )
    assert sorted(tuple(r) for r in out.collect()) == _expected(
        fact, dim, [("month", "=", 3)]
    )


def test_empty_dim_selection_yields_empty_join(star):
    fact, dim = star
    dim.analyze(["month"])
    out = cbo.join_with_runtime_filter(
        fact, dim, on="date_key", dwhere=[("month", "=", 999)]
    )
    assert out.count() == 0
    assert set(out.columns) >= {"date_key", "order_key", "month"}
