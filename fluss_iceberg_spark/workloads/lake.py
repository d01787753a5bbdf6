"""Lake-layer queries: PK upsert, union read, time travel, snapshot metadata.

Each query builds a scratch lake table under /tmp from the sf_dir testdata
(idempotent per call — the scratch dir is recreated), then reads it back.
The oracle expresses the *expected final state* in plain SQL over the
source parquet, so the driver's differential check validates the whole
write path: bucketing, copy-on-write merge, watermark boundary.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeCatalog
from fluss_iceberg_spark.registry import query
from fluss_iceberg_spark.sources.tpch import load_table


def _scratch(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"/tmp/fluss_lake_scratch/{tag}/{name}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _customer_updates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Base batch = full customer dim; update batch = every 5th key gets
    acctbal+1000 and mktsegment='UPDATED' (deterministic, SQL-expressible)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nation_key"),
        F.col("c_acctbal").cast("decimal(15,2)").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    updates = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").cast("int").alias("cust_key"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("int").alias("nation_key"),
            (F.col("c_acctbal") + F.lit(1000.0)).cast("decimal(15,2)").alias("acctbal"),
            F.lit("UPDATED").alias("mktsegment"),
        )
    )
    return cust, updates


@query(
    "lake_upsert_customers",
    oracle="""
    SELECT CAST(c_custkey AS INT) AS cust_key,
           c_name AS name,
           CAST(c_nationkey AS INT) AS nation_key,
           CAST(CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000.0
                     ELSE c_acctbal END AS DECIMAL(15,2)) AS DOUBLE) AS acctbal,
           CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED'
                ELSE c_mktsegment END AS mktsegment
    FROM customer
    """,
)
def lake_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/ST4 PK-upsert: MERGE base batch then update batch into a PK lake
    table (bucketed copy-on-write); final state = last write per key
    (README.md:153-169, 196-203)."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "upsert"))
    base, updates = _customer_updates(spark, sf_dir)
    t = cat.create_table(
        "dim_customer",
        base.schema,
        primary_key=["cust_key"],
        not_null=["cust_key"],
        n_buckets=8,
        replace=True,
    )
    t.merge(base)
    t.merge(updates)
    # Lake storage stays DECIMAL-exact; the query output casts to DOUBLE
    # (registry.py parity rule for final decimal columns).
    return t.read().withColumn("acctbal", F.col("acctbal").cast("double"))


_ORDER_COLS_SQL = """
    SELECT o_orderkey AS order_key,
           CAST(o_custkey AS INT) AS cust_key,
           CAST(o_totalprice AS DECIMAL(15,2)) AS total_price,
           o_orderpriority AS order_priority
    FROM orders
"""


def _order_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").cast("int").alias("cust_key"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
        F.col("o_orderpriority").alias("order_priority"),
    )


def _build_union_table(spark: SparkSession, sf_dir: str):
    """Cold: orderkey%3∈{1,2} appended in two commits, then batch 1 of hot
    data tiered (watermark=1). Hot-but-untiered: batch 2. Union read must
    return exactly the full orders table — no dup, no gap."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "union"))
    o = _order_frame(spark, sf_dir)
    t = cat.create_table("fluss_order", o.schema, replace=True)
    t.append(o.filter(F.col("order_key") % 3 == 1))
    t.append(o.filter(F.col("order_key") % 3 == 2))
    hot = o.filter(F.col("order_key") % 3 == 0)
    t.write_hot_batch(hot.filter(F.col("order_key") % 2 == 0), batch_id=1)
    t.write_hot_batch(hot.filter(F.col("order_key") % 2 == 1), batch_id=2)
    t.tier(up_to_batch=1)
    return t


# Final-output form: decimal cast to DOUBLE (registry.py parity rule).
_ORDER_COLS_D_SQL = f"""
    SELECT order_key, cust_key, CAST(total_price AS DOUBLE) AS total_price,
           order_priority
    FROM ({_ORDER_COLS_SQL}) ob
"""


def _price_double(df: DataFrame) -> DataFrame:
    return df.withColumn("total_price", F.col("total_price").cast("double"))


@query("lake_union_read", oracle=_ORDER_COLS_D_SQL)
def lake_union_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 hot∪cold union read (README.md:296-316): lake snapshot (incl. a
    tiered batch) plus hot batches beyond the snapshot watermark."""
    return _price_double(_build_union_table(spark, sf_dir).union_read())


@query(
    "lake_time_travel",
    oracle=f"SELECT * FROM ({_ORDER_COLS_D_SQL}) o WHERE order_key % 3 = 1",
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (Iceberg VERSION AS OF, SURVEY §2.7): read snapshot v0
    of the union-read table = the first append only."""
    return _price_double(_build_union_table(spark, sf_dir).read(version=0))


@query(
    "lake_pk_union_read",
    oracle="""
    SELECT CAST(c_custkey AS INT) AS cust_key,
           c_name AS name,
           CAST(c_nationkey AS INT) AS nation_key,
           CAST(CAST(CASE WHEN c_custkey % 14 = 0 THEN c_acctbal + 900.0
                          WHEN c_custkey % 7 = 0 THEN c_acctbal + 500.0
                          ELSE c_acctbal END AS DECIMAL(15,2)) AS DOUBLE) AS acctbal,
           CASE WHEN c_custkey % 14 = 0 THEN 'HOT2'
                WHEN c_custkey % 7 = 0 THEN 'HOT'
                ELSE c_mktsegment END AS mktsegment
    FROM customer
    """,
)
def lake_pk_union_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 on a PK table (the reference's datalake-enabled ``nation_revenue``,
    README.md:196-203, 296-316): after the base dim is tiered to the lake,
    two hot batches update overlapping key subsets. The union read must
    return exactly one row per key at its *latest* value — hot beats lake,
    higher batch id beats lower (log-ordered upsert semantics)."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "pk_union"))
    base, _ = _customer_updates(spark, sf_dir)
    t = cat.create_table(
        "dim_customer_hot",
        base.schema,
        primary_key=["cust_key"],
        not_null=["cust_key"],
        n_buckets=8,
        replace=True,
    )
    t.write_hot_batch(base, batch_id=1)
    t.tier(up_to_batch=1)  # lake now holds the base snapshot
    src = load_table(spark, sf_dir, "customer")

    def _upd(mod: int, bump: float, seg: str) -> DataFrame:
        return src.filter(F.col("c_custkey") % mod == 0).select(
            F.col("c_custkey").cast("int").alias("cust_key"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("int").alias("nation_key"),
            (F.col("c_acctbal") + F.lit(bump)).cast("decimal(15,2)").alias("acctbal"),
            F.lit(seg).alias("mktsegment"),
        )

    t.write_hot_batch(_upd(7, 500.0, "HOT"), batch_id=2)
    t.write_hot_batch(_upd(14, 900.0, "HOT2"), batch_id=3)
    return t.union_read().withColumn("acctbal", F.col("acctbal").cast("double"))


@query("lake_snapshots")  # metadata — no SQL oracle; driver rows-only check
def lake_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 ``t$snapshots`` (README.md:274-275): commit history incl. the
    tiering watermark advance."""
    return _build_union_table(spark, sf_dir).snapshots()


@query(
    "lake_cold_vs_union_counts",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN order_key % 3 <> 0 OR (order_key % 3 = 0 AND order_key % 2 = 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS cold_cnt,
           COUNT(1) AS union_cnt
    FROM ({_ORDER_COLS_SQL}) o
    """,
)
def lake_cold_vs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's observable tiering contract (README.md:307-316):
    cold-only count (Trino view) ≤ union-read count (Flink view)."""
    t = _build_union_table(spark, sf_dir)
    cold = t.read().agg(F.count(F.lit(1)).alias("cold_cnt"))
    union = t.union_read().agg(F.count(F.lit(1)).alias("union_cnt"))
    return cold.crossJoin(union)


@query(
    "lake_maintenance_lifecycle",
    oracle="""
    SELECT CAST(n_nationkey AS INT) AS nation_key, n_name AS name
    FROM nation
    """,
)
def maintenance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintenance cycle on a log table: 5 small appends →
    compact (rewrite_data_files role) → expire_snapshots(keep_last=1)
    (drops pre-compaction metadata AND the small files it alone
    referenced) → remove_orphan_files (no-op after a clean expiry).
    The surviving table must still read back exactly the appended data —
    proving maintenance touches layout and history, never content."""
    from pyspark.sql import types as T

    cat = LakeCatalog(spark, _scratch(sf_dir, "maintenance"))
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("nation_key"),
        F.col("n_name").alias("name"),
    )
    t = cat.create_table(
        "nations_m",
        T.StructType(
            [
                T.StructField("nation_key", T.IntegerType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
    )
    for i in range(5):
        t.append(nat.filter(F.col("nation_key") % 5 == i))
    t.compact()
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"], "expiry must drop pre-compaction history"
    assert t.remove_orphan_files() == []
    return t.read()


@query(
    "lake_incremental_read",
    oracle="""
    SELECT CAST(n_nationkey AS INT) AS nation_key, n_name AS name
    FROM nation WHERE n_nationkey % 5 IN (3, 4)
    """,
)
def incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan (Iceberg incremental-read role): 5 appends
    commit nation keys by residue class; reading the delta AFTER v2 must
    return exactly the rows of appends 4 and 5 — planned from the
    snapshot file-set difference, scanning only the delta files."""
    from pyspark.sql import types as T

    cat = LakeCatalog(spark, _scratch(sf_dir, "incremental"))
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("nation_key"),
        F.col("n_name").alias("name"),
    )
    t = cat.create_table(
        "nations_inc",
        T.StructType(
            [
                T.StructField("nation_key", T.IntegerType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
    )
    for i in range(5):
        t.append(nat.filter(F.col("nation_key") % 5 == i))
    return t.incremental_read(from_version=2)


@query(
    "lake_file_skipping",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    GROUP BY order_year
    """,
)
def file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest min/max file skipping over a sort-compacted log table
    (the Iceberg manifest-pruning + sort-order-rewrite roles): orders
    land in three date-sliced appends, a ``sort_by`` compaction
    range-clusters them on order_date, and the 1997+ scan prunes every
    file whose [min,max] date range ends before the predicate — at
    100 TB the difference between touching a time slice and the table.
    The same predicate is re-applied to scanned rows, so the result is
    exact whatever the pruning ratio; correctness is gated against the
    plain filtered aggregate on the source parquet."""
    import datetime

    from pyspark.sql import types as T

    cat = LakeCatalog(spark, _scratch(sf_dir, "fileskip"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("order_key"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = cat.create_table(
        "orders_log",
        T.StructType(
            [
                T.StructField("order_key", T.IntegerType(), False),
                T.StructField("order_date", T.DateType(), True),
                T.StructField("total_price", T.DecimalType(15, 2), True),
            ]
        ),
    )
    yr = F.year("order_date")
    t.append(orders.filter(yr <= 1994))
    t.append(orders.filter((yr >= 1995) & (yr <= 1996)))
    t.append(orders.filter(yr >= 1997))
    t.compact(
        target_file_rows=max(250, t.snapshot().total_rows // 12),
        sort_by=["order_date"],
    )
    cut = datetime.date(1997, 1, 1)
    # pruning effectiveness on controlled layouts is asserted in
    # tests/test_file_skipping.py; here the scan must stay exact at any SF
    return (
        t.read(where=[("order_date", ">=", cut)])
        .groupBy(F.year("order_date").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("total_price").cast("double").alias("revenue"),
        )
    )


@query(
    "lake_row_level_ops",
    oracle="""
    SELECT CAST(o_orderkey AS INT) AS order_key,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(CAST(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1993-01-01'
                          THEN CAST(o_totalprice AS DECIMAL(15,2)) * 2
                          ELSE CAST(o_totalprice AS DECIMAL(15,2)) END
                AS DECIMAL(15,2)) AS DOUBLE) AS total_price
    FROM orders
    WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    """,
)
def row_level_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE + UPDATE through the SQL surface (the Iceberg
    copy-on-write v2 role): a retention DELETE drops the 1998+ tail and
    an UPDATE doubles pre-1993 prices. Both rewrites are manifest-stats
    bounded — date-sliced appends mean the DELETE rewrites only the tail
    slice's files and carries the rest forward untouched. Final state is
    gated against the equivalent CASE/WHERE over the source parquet."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, _scratch(sf_dir, "rowlevel"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("order_key"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = eng.create_table("orders_rl", orders.schema)
    yr = F.year("order_date")
    t.append(orders.filter(yr <= 1994))
    t.append(orders.filter((yr >= 1995) & (yr <= 1997)))
    t.append(orders.filter(yr >= 1998))
    eng.refresh("orders_rl")
    eng.sql("DELETE FROM orders_rl WHERE order_date >= DATE '1998-01-01'")
    eng.sql(
        "UPDATE orders_rl SET total_price = total_price * 2 "
        "WHERE order_date < DATE '1993-01-01'"
    )
    return eng.catalog.load("orders_rl").read().select(
        "order_key", "order_date", F.col("total_price").cast("double").alias("total_price")
    )


@query(
    "lake_pk_changelog",
    oracle="""
    SELECT CASE WHEN c_custkey % 7 = 0 THEN 'insert' ELSE 'update' END AS op,
           CAST(c_custkey AS INT) AS cust_key,
           c_name AS name,
           CAST(c_nationkey AS INT) AS nation_key,
           CAST(CAST(c_acctbal + 1000.0 AS DECIMAL(15,2)) AS DOUBLE) AS acctbal,
           'UPDATED' AS mktsegment
    FROM customer WHERE c_custkey % 5 = 0
    """,
)
def pk_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff scan on a PK table (the Fluss/Paimon changelog-read role):
    base dim = customers with key % 7 != 0 (v0); upsert batch = every 5th
    key bumped +1000 / 'UPDATED' (v1). The changelog between the snapshots
    must emit exactly one row per changed key — 'insert' where the upsert
    introduced a key the base lacked (k % 35 residues), 'update' elsewhere
    — and nothing for untouched keys. Buckets with identical file sets are
    pruned before any I/O; the diff join runs only on changed buckets."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "changelog"))
    base, updates = _customer_updates(spark, sf_dir)
    t = cat.create_table(
        "dim_customer_cdc",
        base.schema,
        primary_key=["cust_key"],
        not_null=["cust_key"],
        n_buckets=8,
    )
    t.merge(base.filter(F.col("cust_key") % 7 != 0))  # v0
    t.merge(updates)  # v1
    return t.changelog(0, 1).withColumn("acctbal", F.col("acctbal").cast("double"))


@query(
    "lake_partition_pruning",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-06-01'
    GROUP BY order_year
    """,
)
def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partitioning end-to-end (Iceberg partition-spec role;
    trino/iceberg.properties:6's cold path): orders land in a log table
    PARTITIONED BY months(order_date) — the source column stays in the
    data files, the derived month names the directory and is recorded in
    the manifest — and the mid-1997+ scan prunes every file whose
    partition value lies before the predicate's month, from metadata
    alone. At 100 TB this is the difference between planning a scan from
    the catalog and listing the table. The same predicate re-applies to
    scanned rows (the June boundary cuts WITHIN the surviving first
    month), so the result is exact; pruning effectiveness itself is
    asserted in tests/test_partitioning.py."""
    import datetime

    from pyspark.sql import types as T

    cat = LakeCatalog(spark, _scratch(sf_dir, "partprune"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("order_key"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = cat.create_table(
        "orders_part",
        T.StructType(
            [
                T.StructField("order_key", T.IntegerType(), False),
                T.StructField("order_date", T.DateType(), True),
                T.StructField("total_price", T.DecimalType(15, 2), True),
            ]
        ),
        partition_by=["months(order_date)"],
    )
    t.append(orders)
    cut = datetime.date(1997, 6, 1)
    return (
        t.read(where=[("order_date", ">=", cut)])
        .groupBy(F.year("order_date").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("total_price").cast("double").alias("revenue"),
        )
    )


@query(
    "lake_clustered_scan",
    oracle="""
    SELECT event_type, COUNT(1) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL 6 HOUR
    GROUP BY event_type
    """,
)
def clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write clustering end-to-end (`write.sort-order` — the Iceberg
    write.distribution-mode=range + sort-order role): the events fixture
    lands range-clustered on ts, so the first-6-hours slice query reads
    only the files whose manifest bounds intersect the slice (the window
    bound itself comes from the metadata-only min_max pushdown — zero
    data I/O to plan). Result must equal the plain filtered aggregation
    DuckDB computes over the raw fixture."""
    import datetime as _dt

    cat = LakeCatalog(spark, _scratch(sf_dir, "clustered"))
    ev = load_table(spark, sf_dir, "events")
    t = cat.create_table(
        "events_clustered",
        ev.schema,
        properties={
            "write.sort-order": "ts",
            "write.cluster-partitions": "16",
        },
    )
    t.append(ev)
    lo, _hi = t.min_max("ts")
    cutoff = _dt.datetime.fromisoformat(lo) + _dt.timedelta(hours=6)
    return (
        t.read(where=[("ts", "<", cutoff)])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "lake_mor_delete",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      AND NOT (o_orderpriority = '1-URGENT'
               AND CAST(o_orderdate AS DATE) < DATE '1994-01-01')
    GROUP BY order_year
    """,
)
def mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE end-to-end (the Iceberg v2
    ``write.delete.mode=merge-on-read`` role; the reference's cold path
    is Iceberg, trino/iceberg.properties:6): a retention delete drops
    the 1998+ tail and a targeted delete tombstones old urgent orders —
    both commit POSITION-DELETE files only, with every data file carried
    forward byte-identical (asserted here), which at 100 TB turns a
    wide-file delete from a rewrite into an O(deleted rows) append.
    Readers anti-join the broadcast tombstones; the aggregate must match
    the plain double-NOT filter DuckDB computes over the source."""
    from pyspark.sql import types as T

    cat = LakeCatalog(spark, _scratch(sf_dir, "mordelete"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("order_key"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = cat.create_table(
        "orders_mor",
        T.StructType(
            [
                T.StructField("order_key", T.IntegerType(), False),
                T.StructField("order_date", T.DateType(), True),
                T.StructField("priority", T.StringType(), True),
                T.StructField("total_price", T.DecimalType(15, 2), True),
            ]
        ),
        properties={"write.delete.mode": "merge-on-read"},
    )
    yr = F.year("order_date")
    t.append(orders.filter(yr <= 1994))
    t.append(orders.filter((yr >= 1995) & (yr <= 1997)))
    t.append(orders.filter(yr >= 1998))
    before = list(t.snapshot().files)
    import datetime as _dt

    t.delete([("order_date", ">=", _dt.date(1998, 1, 1))])
    t.delete(
        [("priority", "=", "1-URGENT"), ("order_date", "<", _dt.date(1994, 1, 1))]
    )
    snap = t.snapshot()
    assert snap.files == before, "merge-on-read must not rewrite data files"
    assert len(snap.delete_files) == 2
    return (
        t.read()
        .groupBy(F.year("order_date").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("total_price").cast("double").alias("revenue"),
        )
    )


@query(
    "lake_matview_refresh",
    oracle="""
    SELECT o_orderpriority AS order_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
           COUNT(1) AS n_orders,
           CAST(AVG(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def lake_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view over an append-only log
    table, read through a logical view. Batch 1 lands before CREATE
    MATERIALIZED VIEW (initial build), batch 2 lands after and is folded
    in by REFRESH via the Iceberg-style incremental read — the refresh
    scans ONLY batch-2 files and merges per-key state (O(delta), not
    O(table)). Final MV state must equal the full GROUP BY over both
    batches (the oracle). Exercises SUM/COUNT/AVG state merge, the
    `_views.json` persistence, and view-over-matview resolution.
    Reference role: `nation_revenue` is exactly such a continuously
    maintained aggregate (README.md:196-203, 247-250)."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, _scratch(sf_dir, "matview"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = eng.create_table("orders_log", orders.schema, not_null=["order_key"])
    t.append(orders.filter(F.col("order_key") % 2 == 0))
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_priority_rev AS "
        "SELECT order_priority, SUM(total_price) AS sum_price, "
        "COUNT(1) AS n_orders, AVG(total_price) AS avg_price "
        "FROM orders_log GROUP BY order_priority"
    )
    t.append(orders.filter(F.col("order_key") % 2 == 1))
    eng.sql("REFRESH MATERIALIZED VIEW mv_priority_rev")
    eng.sql(
        "CREATE OR REPLACE VIEW v_priority_rev AS "
        "SELECT order_priority, sum_price, n_orders, avg_price "
        "FROM mv_priority_rev"
    )
    return eng.sql(
        "SELECT order_priority, CAST(sum_price AS DOUBLE) AS sum_price, "
        "n_orders, CAST(avg_price AS DOUBLE) AS avg_price FROM v_priority_rev"
    )


@query(
    "lake_value_set_skipping",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source = 'src7'
    GROUP BY lang
    """,
)
def value_set_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-set (dictionary) file skipping where min/max bounds cannot
    prune: documents land in 5 ingest batches, each holding the four
    sources with the same id mod 5 (src2/src7/src12/src17 together, etc).
    Lexicographic bounds of such a file span most of the src* domain, so
    an equality scan on `source = 'src7'` keeps every file under min/max
    pruning — but the per-file value sets (table property
    `write.value-set-columns`, capped at 64 distincts) prove 4 of the 5
    batches can't match and skip them exactly. At 100 TB this is the
    difference between scanning one ingest lineage and the whole corpus
    for code-valued columns that arrive unsorted. The predicate is
    re-applied to scanned rows, so the result stays exact; pruning
    effectiveness is asserted in tests/test_file_skipping.py."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "vset"))
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "source",
        F.col("n_chars").cast("int").alias("n_chars"),
    )
    t = cat.create_table(
        "docs_log",
        docs.schema,
        properties={"write.value-set-columns": "source,lang"},
    )
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    for i in range(5):
        t.append(docs.filter(src_num % 5 == i))
    return (
        t.read(where=[("source", "=", "src7")])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        )
    )


@query(
    "lake_matview_changelog",
    oracle="""
    WITH b1 AS (
        SELECT o_orderpriority AS p,
               SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS s,
               COUNT(1) AS c
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
    ), tot AS (
        SELECT o_orderpriority AS p,
               SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS s,
               COUNT(1) AS c
        FROM orders GROUP BY 1
    )
    SELECT CASE WHEN b1.p IS NULL THEN 'insert' ELSE 'update' END AS op,
           tot.p AS order_priority,
           CAST(tot.s AS DOUBLE) AS sum_price,
           tot.c AS n_orders
    FROM tot LEFT JOIN b1 ON tot.p = b1.p
    WHERE b1.p IS NULL OR tot.s <> b1.s OR tot.c <> b1.c
    """,
)
def lake_matview_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC over a materialized view: the MV's state is itself a PK lake
    table, so downstream consumers subscribe to aggregate CHANGES via the
    standard changelog scan — refresh folds batch 2 in, and the changelog
    between the two state snapshots must equal the set of groups whose
    aggregates changed (insert = new group, update = changed group). This
    is the lakehouse form of the reference's continuously-updated
    `nation_revenue` + its downstream consumers (README.md:247-250,
    296-316): aggregate once, stream deltas to everyone."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, _scratch(sf_dir, "matview_cdc"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    t = eng.create_table("orders_cdc_log", orders.schema, not_null=["order_key"])
    t.append(orders.filter(F.col("order_key") % 2 == 0))
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_cdc AS "
        "SELECT order_priority, SUM(total_price) AS sum_price, "
        "COUNT(1) AS n_orders FROM orders_cdc_log GROUP BY order_priority"
    )
    state = eng.catalog.load("__mv_mv_cdc")
    v_initial = state.current_version()
    t.append(orders.filter(F.col("order_key") % 2 == 1))
    eng.sql("REFRESH MATERIALIZED VIEW mv_cdc")
    return eng.catalog.load("__mv_mv_cdc").changelog(v_initial).select(
        "op",
        "order_priority",
        F.col("sum_price").cast("double").alias("sum_price"),
        "n_orders",
    )


@query(
    "lake_cdc_mirror",
    oracle="""
    SELECT CAST(c_custkey AS INT) AS cust_key,
           c_name AS name,
           CAST(c_nationkey AS INT) AS nation_key,
           CAST(CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 500.0
                          WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000.0
                          ELSE c_acctbal END AS DECIMAL(15,2)) AS DOUBLE)
               AS acctbal,
           CASE WHEN c_custkey % 3 = 0 THEN 'AGAIN'
                WHEN c_custkey % 5 = 0 THEN 'UPDATED'
                ELSE c_mktsegment END AS mktsegment
    FROM customer
    WHERE c_custkey % 7 != 0 OR c_custkey % 3 = 0
    """,
)
def cdc_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC replication (the Debezium-consumer pattern over the
    engine's own changelog): a source PK table takes four commits —
    base load, +1000/'UPDATED' upserts (every 5th key), a key-targeted
    DELETE (every 7th key), then +500/'AGAIN' upserts (every 3rd key,
    re-inserting deleted %21 keys) — and a MIRROR table is maintained
    purely by applying each commit's changelog diff (upserts via merge,
    'delete' ops via the same commit's key-delete arm). The mirror must
    equal the source's final state exactly (the oracle restates it from
    the fixture), proving insert/update/delete round-trip losslessly
    through the CDC surface.

    Scale shape: each diff scans only that commit's changed buckets
    (changelog file-set pruning) and each apply rewrites only the
    touched buckets of the mirror — replication cost is O(changed
    data), never O(table)."""
    cust = load_table(spark, sf_dir, "customer")

    def _frame(acct_expr, seg_expr, flt=None):
        d = cust if flt is None else cust.filter(flt)
        return d.select(
            F.col("c_custkey").cast("int").alias("cust_key"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("int").alias("nation_key"),
            acct_expr.cast("decimal(15,2)").alias("acctbal"),
            seg_expr.alias("mktsegment"),
        )

    cat = LakeCatalog(spark, _scratch(sf_dir, "cdc_mirror"))
    base = _frame(F.col("c_acctbal"), F.col("c_mktsegment"))
    src = cat.create_table(
        "cdc_src", base.schema, primary_key=["cust_key"], n_buckets=8
    )
    mirror = cat.create_table(
        "cdc_mirror", base.schema, primary_key=["cust_key"], n_buckets=8
    )
    src.merge(base)                                                   # v0
    src.merge(_frame(F.col("c_acctbal") + F.lit(1000.0), F.lit("UPDATED"),
                     F.col("c_custkey") % 5 == 0))                    # v1
    src.merge(                                                        # v2
        spark.createDataFrame([], src.schema),
        deletes=base.filter(F.col("cust_key") % 7 == 0).select("cust_key"),
    )
    src.merge(_frame(F.col("c_acctbal") + F.lit(500.0), F.lit("AGAIN"),
                     F.col("c_custkey") % 3 == 0))                    # v3

    # snapshot-then-stream (the Debezium bootstrap): the initial state is
    # a snapshot read at the subscription point; the changelog tail then
    # carries every later commit's diff
    versions = src.snapshot_versions()
    mirror.merge(src.read(version=versions[0]))
    for a, b in zip(versions, versions[1:]):
        diff = src.changelog(a, b)
        upserts = diff.filter(F.col("op") != "delete").select(
            *src.schema.fieldNames()
        )
        del_keys = diff.filter(F.col("op") == "delete").select("cust_key")
        mirror.merge(upserts, deletes=del_keys)

    return mirror.read().withColumn("acctbal", F.col("acctbal").cast("double"))


@query(
    "lake_scd2_dimension",
    oracle="""
    WITH all_u AS (
        SELECT c_custkey AS cust_key, c_mktsegment AS segment, 100 AS ts
        FROM customer
        UNION ALL
        SELECT c_custkey, 'PROMO', 200 FROM customer WHERE c_custkey % 4 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, 300 FROM customer WHERE c_custkey % 8 = 0
    ),
    seq AS (
        SELECT *, lag(segment) OVER (PARTITION BY cust_key ORDER BY ts) AS prev
        FROM all_u
    ),
    vers AS (
        SELECT cust_key, segment, CAST(ts AS BIGINT) AS valid_from
        FROM seq WHERE prev IS NULL OR segment <> prev
    )
    SELECT cust_key, segment, valid_from,
           lead(valid_from) OVER (PARTITION BY cust_key ORDER BY valid_from)
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY cust_key ORDER BY valid_from)
               IS NULL AS is_current
    FROM vers
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension maintenance: three update batches over the
    customer segment dimension — initial load (ts=100), a PROMO
    re-segmentation of every 4th customer (ts=200), and a revert of
    every 8th (ts=300) — applied through scd2_apply's atomic
    close+insert merges. The oracle replays the same batches with
    window functions (consecutive-duplicate collapse + lead() validity
    ranges), so the whole write path — change detection, no-op
    skipping, atomic versioning — is value-checked, not just counted."""
    from fluss_iceberg_spark.operators.scd import scd2_apply

    cat = LakeCatalog(spark, _scratch(sf_dir, "scd2"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    schema = spark.createDataFrame(
        [],
        "cust_key long, segment string, valid_from long, valid_to long, "
        "is_current boolean",
    ).schema
    t = cat.create_table(
        "dim_customer_scd2", schema,
        primary_key=["cust_key", "valid_from"], not_null=["cust_key"],
    )
    scd2_apply(t, cust, 100, "cust_key", ("segment",))
    scd2_apply(
        t,
        cust.filter(F.col("cust_key") % 4 == 0).withColumn(
            "segment", F.lit("PROMO")
        ),
        200, "cust_key", ("segment",),
    )
    scd2_apply(
        t, cust.filter(F.col("cust_key") % 8 == 0), 300,
        "cust_key", ("segment",),
    )
    return t.read().select(
        "cust_key", "segment", "valid_from", "valid_to", "is_current"
    )


@query(
    "lake_scd2_changes",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS cust_key, c_mktsegment AS segment FROM customer
    )
    SELECT 'update' AS op, cust_key, segment,
           CAST(100 AS BIGINT) AS valid_from, CAST(200 AS BIGINT) AS valid_to,
           FALSE AS is_current, CAST(1 AS INT) AS batch_no
    FROM base WHERE cust_key % 4 = 0
    UNION ALL
    SELECT 'insert', cust_key, 'PROMO', CAST(200 AS BIGINT), NULL, TRUE,
           CAST(1 AS INT)
    FROM base WHERE cust_key % 4 = 0
    UNION ALL
    SELECT 'update', cust_key, 'PROMO', CAST(200 AS BIGINT),
           CAST(300 AS BIGINT), FALSE, CAST(2 AS INT)
    FROM base WHERE cust_key % 8 = 0
    UNION ALL
    SELECT 'insert', cust_key, segment, CAST(300 AS BIGINT), NULL, TRUE,
           CAST(2 AS INT)
    FROM base WHERE cust_key % 8 = 0
    """,
)
def scd2_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-consumer composition: an SCD2 dimension is MAINTAINED via
    scd2_apply (same three batches as lake_scd2_dimension) and then the
    downstream consumer reads back *what each batch did* through the SQL
    CDC surface — ``SELECT ... FROM TABLE_CHANGES(dim, v_after_load)``
    (engine._rewrite_table_changes → changelog_stream). Each SCD2 batch
    must surface as exactly one close ('update': valid_to stamped,
    is_current=false) plus one open ('insert': new open-ended version)
    per changed key, tagged with the commit that produced it. The oracle
    restates the expected change rows from the fixture, so op
    attribution, new-value projection, and commit tagging are all
    value-checked.

    Scale shape: the changelog read prunes to each commit's changed
    buckets (file-set compare), so consuming N batches costs O(changed
    data), never O(#commits x dimension)."""
    from fluss_iceberg_spark.engine import Engine
    from fluss_iceberg_spark.operators.scd import scd2_apply

    eng = Engine(spark, _scratch(sf_dir, "scd2_changes"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    schema = spark.createDataFrame(
        [],
        "cust_key long, segment string, valid_from long, valid_to long, "
        "is_current boolean",
    ).schema
    t = eng.create_table(
        "dim_scd2", schema,
        primary_key=["cust_key", "valid_from"], not_null=["cust_key"],
    )
    scd2_apply(t, cust, 100, "cust_key", ("segment",))
    v_loaded = t.current_version()
    scd2_apply(
        t,
        cust.filter(F.col("cust_key") % 4 == 0).withColumn(
            "segment", F.lit("PROMO")
        ),
        200, "cust_key", ("segment",),
    )
    scd2_apply(
        t, cust.filter(F.col("cust_key") % 8 == 0), 300,
        "cust_key", ("segment",),
    )
    # merge commits bump the version by exactly 1, so the commit tag
    # maps to the batch ordinal by subtracting the post-load version
    return eng.sql(
        f"""
        SELECT op, cust_key, segment, valid_from, valid_to, is_current,
               CAST(change_version - {v_loaded} AS INT) AS batch_no
        FROM TABLE_CHANGES(dim_scd2, {v_loaded})
        """
    )


@query(
    "lake_runtime_filter_join",
    oracle="""
    SELECT CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                + day(o_orderdate) AS INT) AS date_key,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 3
    GROUP BY 1
    """,
)
def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered star join end-to-end (Spark DPP / Iceberg
    runtime filtering at the manifest layer — plans/cbo.py
    join_with_runtime_filter): a fact table of orders range-clustered on
    a surrogate date_key joins a date dimension filtered to one month.
    The month predicate lives on the DIM, so no static pushdown can
    touch the fact scan; the runtime filter collects the ~31 surviving
    date keys (bounded by the ANALYZE estimate), pushes them into the
    fact read as an IN-list manifest predicate, and broadcast-joins the
    dimension. On the time-clustered fact, files outside the month are
    never opened — at 100 TB the difference between scanning the fact
    table and scanning one month of it. The oracle restates the join as
    a plain filtered aggregation over the raw fixture, so the pruned
    scan is value-checked against the unpruned answer."""
    from fluss_iceberg_spark.plans.cbo import join_with_runtime_filter

    cat = LakeCatalog(spark, _scratch(sf_dir, "runtime_filter"))
    orders = load_table(spark, sf_dir, "orders")
    dk = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    ).cast("int")
    fact_df = orders.select(
        dk.alias("date_key"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    fact = cat.create_table(
        "orders_fact",
        fact_df.schema,
        properties={
            "write.sort-order": "date_key",
            "write.cluster-partitions": "8",
        },
    )
    # two ingestion commits, each range-clustered into 8 files — the
    # manifest ends up with 16 files of near-disjoint date_key ranges
    fact.append(fact_df.filter(F.col("order_key") % 2 == 0))
    fact.append(fact_df.filter(F.col("order_key") % 2 == 1))
    dim_df = (
        orders.select(
            dk.alias("date_key"),
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.month("o_orderdate").cast("int").alias("d_month"),
        )
        .distinct()
    )
    dim = cat.create_table("dim_date", dim_df.schema)
    dim.append(dim_df)
    dim.analyze(["d_year", "d_month"])  # the estimate that bounds the collect
    joined = join_with_runtime_filter(
        fact, dim, on="date_key",
        dwhere=[("d_year", "=", 1995), ("d_month", "=", 3)],
    )
    return joined.groupBy("date_key").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("total_price").cast("double").alias("revenue"),
    )


@query(
    "lake_spj_bucket_join",
    oracle="""
    WITH bal AS (
        SELECT CAST(c_custkey AS INT) AS cust_key,
               CAST(c_acctbal AS DECIMAL(15,2))
                 + CASE WHEN c_custkey % 10 = 0
                        THEN CAST(500.00 AS DECIMAL(15,2))
                        ELSE CAST(0.00 AS DECIMAL(15,2)) END AS balance
        FROM customer
        WHERE c_acctbal > 0
    )
    SELECT CAST(c.c_nationkey AS INT) AS nation_key,
           COUNT(1) AS n_customers,
           CAST(SUM(b.balance) AS DOUBLE) AS total_balance
    FROM customer c
    JOIN bal b ON CAST(c.c_custkey AS INT) = b.cust_key
    GROUP BY 1
    """,
)
def spj_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned join over co-bucketed PK tables (plans/spj.py
    — the Iceberg/Spark SPJ role; Fluss/Paimon bucket-distribute PK
    tables exactly so engines can join without redistribution,
    README.md:150-156): a customer-profile PK table joins a
    customer-balance PK table bucket-by-bucket — the probe side scans
    with ZERO exchange (plan-tested in tests/test_spj.py), the build
    side broadcasts 1/n_buckets-sized slices. The balance table takes a
    second MERGE (+500 for every 10th key) before the join, so the
    per-bucket reads exercise the MoR path too."""
    from fluss_iceberg_spark.plans.spj import bucket_aligned_join

    cat = LakeCatalog(spark, _scratch(sf_dir, "spj"))
    cust = load_table(spark, sf_dir, "customer")
    profile_df = cust.select(
        F.col("c_custkey").cast("int").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nation_key"),
    )
    profile = cat.create_table(
        "spj_profile", profile_df.schema, primary_key=["cust_key"], n_buckets=8
    )
    profile.merge(profile_df)
    bal_df = cust.filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").cast("int").alias("cust_key"),
        F.col("c_acctbal").cast("decimal(15,2)").alias("balance"),
    )
    balance = cat.create_table(
        "spj_balance", bal_df.schema, primary_key=["cust_key"], n_buckets=8
    )
    balance.merge(bal_df)
    balance.merge(
        bal_df.filter(F.col("cust_key") % 10 == 0).select(
            "cust_key",
            (F.col("balance") + F.lit(500.00).cast("decimal(15,2)"))
            .cast("decimal(15,2)")
            .alias("balance"),
        )
    )
    joined = bucket_aligned_join(profile, balance, how="inner")
    return joined.groupBy("nation_key").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("balance").cast("double").alias("total_balance"),
    )


@query(
    "lake_ivm_join_view",
    oracle="""
    SELECT o.o_orderkey AS order_key,
           c.c_name AS cust_name,
           c.c_mktsegment AS mktsegment,
           CAST(o.o_totalprice AS DOUBLE) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def lake_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (classic IVM, plans/views.py
    _create_join_matview): V = orders ⋈ customer kept fresh as BOTH
    bases grow — inner join distributes over bag union, so each refresh
    appends exactly ΔA⋈B_new ∪ A_old⋈ΔB to the state, O(delta + matched
    rows), never O(V). The drive interleaves appends on both sides with
    refreshes (orders in two batches, customers in two batches, plus a
    no-op refresh), so every delta term and the dedup-free ΔA⋈ΔB
    accounting are exercised; the final state must equal the one-shot
    batch join of everything (the oracle)."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, _scratch(sf_dir, "ivm_join"))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("o_custkey").cast("long").alias("cust_key"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("total_price"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    ot = eng.create_table("ivm_orders", orders.schema)
    ct = eng.create_table("ivm_cust", cust.schema)
    # batch 1 of each side lands before CREATE (initial build)
    ot.append(orders.filter(F.col("order_key") % 2 == 0))
    ct.append(cust.filter(F.col("cust_key") % 2 == 0))
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_urgent_orders AS "
        "SELECT ivm_orders.order_key AS order_key, "
        "ivm_cust.cust_name AS cust_name, "
        "ivm_cust.mktsegment AS mktsegment, "
        "ivm_orders.total_price AS total_price "
        "FROM ivm_orders JOIN ivm_cust "
        "ON ivm_orders.cust_key = ivm_cust.cust_key "
        "WHERE ivm_orders.order_priority = '1-URGENT'"
    )
    # ΔA only (new orders join ALL current customers)
    ot.append(orders.filter(F.col("order_key") % 2 == 1))
    eng.sql("REFRESH MATERIALIZED VIEW mv_urgent_orders")
    # ΔB only (old orders join the new customers)
    ct.append(cust.filter(F.col("cust_key") % 2 == 1))
    eng.sql("REFRESH MATERIALIZED VIEW mv_urgent_orders")
    # no-op refresh must change nothing
    eng.sql("REFRESH MATERIALIZED VIEW mv_urgent_orders")
    return eng.sql(
        "SELECT order_key, cust_name, mktsegment, "
        "CAST(total_price AS DOUBLE) AS total_price FROM mv_urgent_orders"
    )


@query(
    "lake_ivm_retract_view",
    oracle="""
    WITH live AS (
        SELECT c_custkey AS cust_key,
               c_mktsegment AS mktsegment,
               CASE WHEN c_custkey % 3 = 0
                    THEN CAST(c_acctbal AS DECIMAL(15,2)) + 100
                    ELSE CAST(c_acctbal AS DECIMAL(15,2)) END AS bal
        FROM customer
        WHERE c_custkey % 7 <> 0
    )
    SELECT mktsegment,
           CAST(SUM(bal) AS DOUBLE) AS sum_bal,
           COUNT(1) AS n_cust,
           CAST(CAST(SUM(bal) AS DOUBLE) / COUNT(1) AS DOUBLE) AS avg_bal
    FROM live GROUP BY mktsegment
    """,
)
def lake_ivm_retract_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-capable materialized view over a PK (upserting) base —
    the case plain incremental aggregation cannot handle: an upsert
    retracts the old row, so each refresh consumes the RETRACTION
    STREAM (changelog mode="full": update_before/update_after pairs)
    and merges SIGNED partial state, +1 for additions, -1 for
    retractions (plans/views.py _signed_partial_agg). Exercised here
    with all three change kinds: inserts (initial merge), updates
    (+100 to every key % 3 == 0 balance — the old value must be
    subtracted, not summed twice), and equality deletes (every key
    % 7 == 0 — their groups must shed the full contribution; a fully
    retracted group disappears via the hidden __rt_cnt liveness
    column). Final MV state must equal the one-shot GROUP BY of the
    surviving rows (the oracle). MIN/MAX state is rejected for PK
    bases — not retractable incrementally — with the signed-delta
    explanation."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, _scratch(sf_dir, "ivm_retract"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").cast("decimal(15,2)").alias("bal"),
    )
    t = eng.create_table("cust_pk", cust.schema, primary_key=["cust_key"])
    t.merge(cust)
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_seg_bal AS "
        "SELECT mktsegment, SUM(bal) AS sum_bal, COUNT(1) AS n_cust, "
        "AVG(bal) AS avg_bal FROM cust_pk GROUP BY mktsegment"
    )
    # updates: +100 to every key % 3 == 0 (retract old, add new)
    t.merge(
        cust.filter(F.col("cust_key") % 3 == 0).withColumn(
            "bal", (F.col("bal") + 100).cast("decimal(15,2)")
        )
    )
    eng.sql("REFRESH MATERIALIZED VIEW mv_seg_bal")
    # equality deletes: every key % 7 == 0 sheds its (updated) value
    t.delete_by_key(
        cust.filter(F.col("cust_key") % 7 == 0).select("cust_key")
    )
    eng.sql("REFRESH MATERIALIZED VIEW mv_seg_bal")
    return eng.sql(
        "SELECT mktsegment, CAST(sum_bal AS DOUBLE) AS sum_bal, n_cust, "
        "CAST(CAST(sum_bal AS DOUBLE) / n_cust AS DOUBLE) AS avg_bal "
        "FROM mv_seg_bal"
    )


@query(
    "lake_zorder_skipping",
    oracle="""
    SELECT event_type,
           COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id >= 100 AND user_id < 200
      AND value >= 20.0 AND value < 60.0
    GROUP BY event_type
    """,
)
def zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered layout: events land via
    `write.zorder-by = user_id,value` (operators/zorder.py — the
    engine-native form of Iceberg's zorder rewrite_data_files
    procedure), so every written file covers a compact RECTANGLE in
    (user_id, value) space and a rectangle predicate — or a range on
    EITHER single column — prunes by manifest min/max stats. A linear
    sort only ever prunes its leading column. The predicate is
    re-applied to scanned rows, so the result stays exact; pruning
    effectiveness on both single dimensions vs a linear layout is
    asserted in tests/test_zorder.py."""
    cat = LakeCatalog(spark, _scratch(sf_dir, "zorder"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = cat.create_table(
        "events_z",
        ev.schema,
        properties={
            "write.zorder-by": "user_id,value",
            "write.cluster-partitions": "16",
        },
    )
    t.append(ev)
    return (
        t.read(
            where=[
                ("user_id", ">=", 100),
                ("user_id", "<", 200),
                ("value", ">=", 20.0),
                ("value", "<", 60.0),
            ]
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
