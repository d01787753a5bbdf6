"""Loaders for the driver-provided TPC-H-ish parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet file per table under a
scale-factor directory.

The loaders return the *raw* parquet schema — every query states its own
casts explicitly so the DuckDB oracle (which reads the same files) can
mirror them verbatim. The FIXTURES.md §B mapping onto the reference's
pipeline schemas (fluss_order / fluss_customer / fluss_nation,
sql-client.sql:1-48) lives in :func:`reference_views`.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Parquet confs that change the schema Spark infers from the same file.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# session -> {(file identity, inference confs): inferred schema}
_inferred: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, skipping schema inference when this
    session already inferred the schema of the same file under the same
    inference confs. A parquet read without a schema runs a one-task
    Spark job to read the footer; with one it runs none."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        # a directory's schema depends on every file in it (and on its
        # partition layout); only single files are cached
        return spark.read.parquet(path)
    key = (
        st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    schemas = _inferred.setdefault(spark, {})
    schema = schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = df.schema
    return df


def read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table as stored on disk. ``events.ts`` has shipped as
    parquet TIMESTAMP(NANOS), which Spark 4 rejects
    (PARQUET_TYPE_ILLEGAL); it reads as a long of nanos under a
    session-settable legacy conf, set here, so this works under any
    caller's session. ``micros_ts`` turns it into a timestamp."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def micros_ts(events: DataFrame) -> DataFrame:
    """``events`` (a batch or streaming read of the events fixture) with a
    nanos-long ``ts`` as a microsecond TimestampType column — the same
    truncation DuckDB's epoch_us applies. A vintage that stores ``ts`` as
    a timestamp passes through."""
    if isinstance(events.schema["ts"].dataType, T.LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return events


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan → Catalyst gets full
    pushdown/pruning; no caching of rows, so each query plans its own
    minimal scan.

    The inferred schema is cached per session, keyed by the file's
    identity (device, inode, size, mtime_ns) and the parquet confs that
    change inference (``_INFERENCE_CONFS``): a repeat load of an unchanged
    file reads with that schema and submits no Spark job, and a file
    rewritten at the same path is inferred again."""
    df = read_fixture(spark, sf_dir, name)
    return micros_ts(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each testdata table as a temp view (mirrors the DuckDB
    oracle's pre-registered views), so SQL-form queries run verbatim."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def reference_views(spark: SparkSession, sf_dir: str) -> None:
    """Map driver testdata onto the reference pipeline's schemas
    (FIXTURES.md §B; reference DDL README.md:141-169).

    - ``fluss_order``  ← orders   (o_totalprice double → DECIMAL(15,2),
      o_orderdate timestamp → DATE; README.md:142-148)
    - ``fluss_customer`` ← customer (no phone column in testdata; engine
      tolerates missing optional cols)
    - ``fluss_nation`` ← nation
    """
    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    spark.sql(
        """
        SELECT o_orderkey                          AS order_key,
               CAST(o_custkey AS INT)              AS cust_key,
               CAST(o_totalprice AS DECIMAL(15,2)) AS total_price,
               CAST(o_orderdate AS DATE)           AS order_date,
               o_orderpriority                     AS order_priority,
               o_orderstatus                       AS order_status
        FROM orders
        """
    ).createOrReplaceTempView("fluss_order")
    spark.sql(
        """
        SELECT CAST(c_custkey AS INT)           AS cust_key,
               c_name                           AS name,
               CAST(c_nationkey AS INT)         AS nation_key,
               CAST(c_acctbal AS DECIMAL(15,2)) AS acctbal,
               c_mktsegment                     AS mktsegment
        FROM customer
        """
    ).createOrReplaceTempView("fluss_customer")
    spark.sql(
        """
        SELECT CAST(n_nationkey AS INT) AS nation_key,
               n_name                   AS name
        FROM nation
        """
    ).createOrReplaceTempView("fluss_nation")
