"""File-format sources beyond parquet: CSV / JSON with explicit
schemas (schema-on-write, no inference — SURVEY §1.3).

The reference's only file format is Parquet (trino/iceberg.properties:6);
these exist so a user can land external data in common interchange formats
and get identical typed tables. Round-trip fidelity (types, timestamps
under UTC, decimals) is gated by the oracle queries in
workloads/engine_sql.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)
