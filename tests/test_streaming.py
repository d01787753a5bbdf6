"""Streaming pipeline tests: invariants the reference itself asserts
(SURVEY §5) plus the Structured Streaming driver path."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeCatalog
from fluss_iceberg_spark.operators.enrichment import enrich_orders
from fluss_iceberg_spark.sources import faker
from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline


def _mini_pipeline(spark, warehouse, n_orders=400, n_batches=4):
    orders = faker.orders_batch(spark, n_orders)
    customers = faker.customers_batch(spark, 50).dropDuplicates(["cust_key"])
    nations = faker.nations_batch(spark, 40).dropDuplicates(["nation_key"])
    pipe = ReferencePipeline(spark, LakeCatalog(spark, warehouse))
    for b in range(n_batches):
        batch = orders.filter(F.pmod(F.col("order_key"), F.lit(n_batches)) == b)
        pipe.process_order_batch(batch, customers, nations, b)
    return pipe, orders, customers, nations


def test_incremental_equals_batch(spark):
    """FIXTURES invariant 4: streaming MERGE-delta == one-shot batch."""
    with tempfile.TemporaryDirectory() as d:
        pipe, orders, customers, nations = _mini_pipeline(spark, d)
        incremental = {
            r.nation_name: r.revenue for r in pipe.revenue.read().collect()
        }
        batch = {
            r.nation_name: r.revenue
            for r in enrich_orders(orders, customers, nations)
            .groupBy("nation_name")
            .agg(F.sum("total_price").cast("decimal(15,2)").alias("revenue"))
            .collect()
        }
        assert incremental == batch
        # PK semantics: one row per nation (FIXTURES invariant 2)
        rows = pipe.revenue.read().collect()
        assert len(rows) == len({r.nation_name for r in rows})


def test_replay_is_idempotent(spark):
    """ST5: a replayed micro-batch must not double-count revenue."""
    with tempfile.TemporaryDirectory() as d:
        pipe, orders, customers, nations = _mini_pipeline(spark, d, n_batches=2)
        before = sorted(map(tuple, pipe.revenue.read().collect()), key=repr)
        batch0 = orders.filter(F.pmod(F.col("order_key"), F.lit(2)) == 0)
        assert not pipe.process_order_batch(batch0, customers, nations, 0)
        after = sorted(map(tuple, pipe.revenue.read().collect()), key=repr)
        assert before == after


def test_cold_le_union_and_monotonic(spark):
    """README.md:307-316 contract: cold count ≤ union count; union count
    nondecreasing as tiering advances."""
    with tempfile.TemporaryDirectory() as d:
        pipe, *_ = _mini_pipeline(spark, d, n_batches=4)
        cold0 = pipe.enriched.read().count()
        union0 = pipe.enriched.union_read().count()
        assert cold0 <= union0
        pipe.tier_enriched()
        cold1 = pipe.enriched.read().count()
        union1 = pipe.enriched.union_read().count()
        assert cold0 <= cold1 and union1 == union0  # tiering moves, never loses
        assert cold1 == union1  # fully tiered now


def test_event_time_watermark_drops_late_data(spark):
    """Event-time semantics (beyond reference parity — the reference is
    processing-time only, SURVEY §2.8): windowed agg with a 1-hour
    watermark in append mode drops rows arriving later than the
    watermark allows."""
    import os
    import time as _time

    import pyspark.sql.functions as F

    import glob
    import shutil

    with tempfile.TemporaryDirectory() as src:

        def write_one(df, name):
            tmp = os.path.join(src, "_tmp")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.move(
                glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                os.path.join(src, f"{name}.parquet"),
            )
            shutil.rmtree(tmp)

        def mk(rows):
            return spark.createDataFrame(
                rows, "id long, ts_s string, v double"
            ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "v")

        # file a: hours 0,1,2 + 10 → after this batch, watermark = 9:30
        write_one(
            mk([(i, f"2024-01-01 {h:02d}:30:00", 1.0) for i, h in enumerate([0, 1, 2, 10])]),
            "a",
        )
        _time.sleep(1.1)  # distinct mtimes → deterministic file order
        # file b: on-time row → closes hours ≤ 9:30, advances wm to 10:30
        write_one(mk([(100, "2024-01-01 11:30:00", 1.0)]), "b")
        _time.sleep(1.1)
        # file c: VERY late hour-0 row — its window is already finalized
        write_one(mk([(101, "2024-01-01 00:00:00", 999.0)]), "c")

        stream = (
            spark.readStream.schema("id long, ts timestamp, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        name = "wm_test_sink"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = {
            r["window"]["start"].hour: (r["n"], r["sv"])
            for r in spark.table(name).collect()
        }
        # hours 0,1,2 closed by the watermark (10:30 - 1h) and emitted
        assert out[0] == (1, 1.0) and out[1] == (1, 1.0) and out[2] == (1, 1.0)
        # the late hour-0 row (v=999) arrived after the watermark passed:
        # its window was already finalized without it
        assert all(sv < 100 for _, sv in out.values())
        # hours 10/11 windows not yet closed at end-of-stream → not emitted
        assert 10 not in out and 11 not in out


def test_structured_streaming_rate_pipeline(spark):
    """S2/S15/ST1: the real writeStream path — rate-limited faker orders
    through foreachBatch enrichment+aggregation, a few micro-batches."""
    with tempfile.TemporaryDirectory() as d, tempfile.TemporaryDirectory() as ckpt:
        customers = faker.customers_batch(spark, 50).dropDuplicates(["cust_key"])
        nations = faker.nations_batch(spark, 40).dropDuplicates(["nation_key"])
        pipe = ReferencePipeline(spark, LakeCatalog(spark, d))
        stream = faker.orders_stream(spark, rows_per_second=200, number_of_rows=None)
        q = pipe.run_stream(
            stream, customers, nations, ckpt, trigger={"processingTime": "1 second"}
        )
        try:
            import time

            deadline = time.time() + 30
            while time.time() < deadline:
                if pipe.revenue.snapshot() is not None and pipe.revenue.read().count() > 0:
                    break
                time.sleep(1)
        finally:
            q.stop()
        assert pipe.revenue.snapshot() is not None, "no micro-batch committed"
        rows = pipe.revenue.read().collect()
        assert len(rows) > 0
        assert len(rows) == len({r.nation_name for r in rows})
        # enriched flows through hot store; union read sees them
        assert pipe.enriched.union_read().count() > 0


def test_scratch_names_are_unique():
    """Every workload builds its scratch tables under
    ``workloads.lake._scratch(sf_dir, name)``, which empties the directory
    it returns: two call sites sharing a name would clobber each other."""
    import ast
    import glob
    import os

    import fluss_iceberg_spark.workloads as W

    names = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(W.__file__), "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        names += [
            node.args[1].value
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "_scratch"
            and isinstance(node.args[1], ast.Constant)
        ]
    assert len(names) > 40
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1
    )


# sha256 of the sorted rows each query returned before its memory sink's
# view was dropped (sf0.001)
_MEMORY_SINK_ROWS = {
    "stream_events_hourly": "17f771ff6b000259fa94db2fb52562e56f2630381049259a043045b556844405",
    "stream_classifier_gate": "f28cf2622d08d2ef6a0729f0d5daadf364a37bae3d66d8cd063d57e66e1d2c17",
}


def test_memory_sink_queries_leave_no_table(spark):
    """A memory-sink query returns its rows and drops the sink's view, so
    running it again does not keep another copy of its rows in the
    driver."""
    import hashlib
    import re

    from fluss_iceberg_spark.workloads import streaming as S

    from tests.conftest import SF_SMOKE

    def tables():
        return {
            t.name
            for t in spark.catalog.listTables()
            if re.search(r"_[0-9a-f]{8}$", t.name)
        }

    before = tables()
    for name, want in _MEMORY_SINK_ROWS.items():
        for _ in range(2):
            rows = sorted(repr(tuple(r)) for r in getattr(S, name)(spark, SF_SMOKE).collect())
            assert hashlib.sha256("\n".join(rows).encode()).hexdigest() == want, name
    assert tables() == before
