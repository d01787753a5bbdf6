"""arrow_local_df: the Arrow-path local-frame helper (r12 optimization).

Pins the exact regression the sf0.01 driver sweep caught: a mixed
int/None column (e.g. $snapshots.parent_id — None for the first
snapshot, ints after) must survive as real nulls, not float64 NaN.
"""

from __future__ import annotations

from pyspark.sql import types as T

from fluss_iceberg_spark.operators.util import arrow_local_df


def test_mixed_int_none_column(spark):
    df = arrow_local_df(
        spark,
        [(1, None, "a"), (2, 7, "b"), (3, 8, None)],
        "snapshot_id long, parent_id long, op string",
    )
    rows = sorted(df.collect(), key=lambda r: r.snapshot_id)
    assert [r.parent_id for r in rows] == [None, 7, 8]
    assert [r.op for r in rows] == ["a", "b", None]
    assert df.schema["parent_id"].dataType == T.LongType()


def test_values_match_classic_path(spark):
    rows = [(i, float(i) / 3, f"s{i}", i % 2 == 0) for i in range(100)]
    schema = "k long, x double, s string, flag boolean"
    got = arrow_local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_empty_rows(spark):
    df = arrow_local_df(spark, [], "a int, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_structtype_schema(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("component", T.LongType()),
        ]
    )
    df = arrow_local_df(spark, [(5, 1), (6, 1)], schema)
    assert df.schema == schema
    assert sorted(r.doc_id for r in df.collect()) == [5, 6]


def test_no_python_workers_in_plan(spark):
    """The point of the helper: the frame must be a local/JVM scan, not a
    pickled Python RDD (whose every action spawns Python workers)."""
    df = arrow_local_df(spark, [(1, "x")], "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan


def test_comma_bearing_type_parses(spark):
    """r13 (r12 ADVICE): a comma inside a type (decimal(10,2)) must parse
    via Spark's DDL parser, not mis-split into bogus fields."""
    from decimal import Decimal

    df = arrow_local_df(
        spark,
        [(1, Decimal("1.50")), (2, Decimal("2.25"))],
        "k long, amount decimal(10,2)",
    )
    assert df.schema["amount"].dataType == T.DecimalType(10, 2)
    assert sorted(r.k for r in df.collect()) == [1, 2]


def test_repair_rejects_non_sequence_rows(spark):
    """r13 (r12 ADVICE): the int/None repair path must fail loudly on
    dict rows instead of silently scrambling columns."""
    import pytest

    with pytest.raises(TypeError, match="index-aligned"):
        arrow_local_df(
            spark,
            [{"k": 1, "v": None}, {"k": 2, "v": 7}],
            "k long, v long",
        )


def test_named_row_values_follow_the_schema_by_name(spark):
    from pyspark.sql import Row

    df = arrow_local_df(spark, [Row(b="x", a=1)], "a int, b string")
    assert [(r.a, r.b) for r in df.collect()] == [(1, "x")]
