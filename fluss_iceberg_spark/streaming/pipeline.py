"""The reference's streaming pipeline (README.md:207-253) on Spark.

Dataflow (see SURVEY §0):

    order stream ──┐
                   ├─ enrichment: 2× lookup LEFT JOIN against dim snapshots
    customer dim ──┤      (J1/J2, README.md:222-239)
    nation dim   ──┘            │ append
                                ▼
                   enriched_orders (log table, datalake-enabled)
                                │ incremental GROUP BY + SUM
                                ▼
                   nation_revenue (PK table, upsert by nation_name)

Execution model: each micro-batch runs inside ``foreachBatch`` (or is fed
directly by a driver loop in deterministic tests). The enrichment join is
stream-static against the dimension tables' *current snapshot* — the
Spark-idiomatic temporal/lookup join (the reference's ``FOR SYSTEM_TIME AS
OF o.ptime``, README.md:236-238); we pin determinism by snapshotting dims
at micro-batch start (SURVEY §7 risk 3), so their broadcasts are built per
batch.

The enrichment is written once, to the hot store, and the aggregation
reads the batch it just staged — the reference's ``FROM enriched_orders``
(README.md:247-250): it counts exactly the rows the sink kept, and the
enriched frame is never cached. The aggregation is **MERGE-delta** (A1):
per batch, partial-aggregate the delta, then upsert ``revenue = existing
+ delta`` into the PK table. Idempotence: the last applied batch id is
recorded in the commit summary; a replayed batch (crash/retry) is skipped
(ST5 exactly-once), and a batch that crashed between the stage and the
merge restages itself on the retry.

Sizing: the order batch and both dim snapshots are ``right_size``d, so a
small batch runs its enrichment, broadcasts and hot write as one task
each and stages one file. ``nation_revenue`` holds one row per nation
(at most 26 with the NULL group) and has one bucket: a batch merges one
file, not one per core-sized bucket.

Scale: per batch the fact side is joined against broadcast dim snapshots
(shuffle-free), and the merge exchanges only group-cardinality rows. At
1000 executors the only wide operation is the delta aggregation, bounded
by distinct nations per batch; a large batch's size estimate is at or
above the default parallelism and keeps its scan partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog, LakeTable
from fluss_iceberg_spark.operators.enrichment import enrich_orders
from fluss_iceberg_spark.operators.util import right_size

ENRICHED_SCHEMA = T.StructType(
    [
        T.StructField("order_key", T.LongType()),
        T.StructField("cust_key", T.IntegerType()),
        T.StructField("total_price", T.DecimalType(15, 2)),
        T.StructField("order_date", T.DateType()),
        T.StructField("order_priority", T.StringType()),
        T.StructField("cust_name", T.StringType()),
        T.StructField("cust_acctbal", T.DecimalType(15, 2)),
        T.StructField("cust_mktsegment", T.StringType()),
        T.StructField("nation_name", T.StringType()),
    ]
)

REVENUE_SCHEMA = T.StructType(
    [
        T.StructField("nation_name", T.StringType()),
        T.StructField("revenue", T.DecimalType(15, 2)),
    ]
)


class ReferencePipeline:
    """Materializes the reference pipeline over a LakeCatalog warehouse."""

    def __init__(self, spark: SparkSession, catalog: LakeCatalog):
        self.spark = spark
        self.catalog = catalog
        # enriched_orders: append log table, datalake-enabled freshness 30s
        # (README.md:175-191)
        self.enriched = self._ensure(
            "enriched_orders",
            ENRICHED_SCHEMA,
            properties={"datalake.enabled": "true", "datalake.freshness": "30s"},
        )
        # nation_revenue: PK upsert table (README.md:196-203); one row per
        # nation, so one bucket (a table an earlier run created keeps its
        # layout)
        self.revenue = self._ensure(
            "nation_revenue",
            REVENUE_SCHEMA,
            primary_key=["nation_name"],
            n_buckets=1,
            properties={"datalake.enabled": "true", "datalake.freshness": "30s"},
        )

    def _ensure(self, name, schema, **create) -> LakeTable:
        if self.catalog.exists(name):
            return self.catalog.load(name)
        return self.catalog.create_table(name, schema, **create)

    # -- the statement set's two continuous INSERTs (README.md:222-250) --

    def last_applied_batch(self) -> int:
        snap = self.revenue.snapshot()
        return snap.summary.get("batch_id", -1) if snap else -1

    def process_order_batch(
        self, orders: DataFrame, customer_snapshot: DataFrame,
        nation_snapshot: DataFrame, batch_id: int,
    ) -> bool:
        """One micro-batch: enrichment append + MERGE-delta aggregation.
        Returns False if the batch was already applied (replay skip)."""
        if batch_id <= self.last_applied_batch():
            return False

        # stage into the hot store (the Fluss role); the tiering job
        # commits it to the lake on its freshness schedule (S17)
        self.enriched.write_hot_batch(
            enrich_orders(
                right_size(orders),
                right_size(customer_snapshot),
                right_size(nation_snapshot),
            ),
            batch_id,
        )

        # MERGE-delta over the staged batch (the reference aggregates
        # FROM enriched_orders): null-safe group key (NULL nation is a
        # real group — FIXTURES invariant 3) — fold delta into existing
        # revenue.
        delta = (
            self.enriched.read_hot_batch(batch_id)
            .groupBy("nation_name")
            .agg(F.sum("total_price").cast("decimal(15,2)").alias("__delta"))
        )
        current = self.revenue.read()
        merged = delta.join(
            current,
            on=[delta.nation_name.eqNullSafe(current.nation_name)],
            how="left",
        ).select(
            delta.nation_name.alias("nation_name"),
            (
                F.coalesce(current.revenue, F.lit(0).cast("decimal(15,2)"))
                + F.col("__delta")
            )
            .cast("decimal(15,2)")
            .alias("revenue"),
        )
        # the idempotence marker rides the merge commit's own atomic
        # snapshot write — a crash can never commit the revenue delta
        # without the batch_id, so a replayed batch is always detected
        self.revenue.merge(merged, summary={"batch_id": batch_id})
        return True

    def tier_enriched(self) -> None:
        """Freshness-triggered tiering commit for enriched_orders (ST2),
        followed by the commit-cadence small-file check (no-op unless the
        table opts in via write.auto-compact.file-threshold)."""
        self.enriched.tier()
        self.enriched.maybe_auto_compact()
        self.enriched.maybe_auto_expire()

    # -- Structured Streaming driver (S15 statement set) --

    def run_stream(
        self,
        order_stream: DataFrame,
        customer_snapshot: DataFrame,
        nation_snapshot: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Continuous form: foreachBatch over a streaming orders source.
        The reference submits enrichment+aggregation as one statement set
        (README.md:211-216); here both sinks are written inside one
        foreachBatch: the enrichment is staged once and the aggregation
        reads the staged batch."""

        def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.process_order_batch(
                batch_df, customer_snapshot, nation_snapshot, batch_id
            )
            self.tier_enriched()

        writer = (
            order_stream.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()
