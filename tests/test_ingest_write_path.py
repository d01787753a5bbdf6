"""The ingest write path: MERGE takes its touched buckets from the job that
materializes its delta, tiering sizes its files by bytes, each write has
its own data directory, ``right_size`` sizes small inputs by bytes, and
one pipeline batch stays within its job and task budget and replays
exactly once."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake import commit, manifest
from fluss_iceberg_spark.lake.table import LakeCatalog, LakeTable
from fluss_iceberg_spark.operators.enrichment import enrich_orders
from fluss_iceberg_spark.operators.util import conf_bytes, right_size, session_conf
from fluss_iceberg_spark.sources import faker
from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


@pytest.fixture()
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


def _keyed(spark, keys):
    """A HEAVY delta (an aggregate) over ``keys``: merge checkpoints it."""
    rows = [(k, i) for i, k in enumerate(keys)]
    return (
        spark.createDataFrame(rows, SCHEMA)
        .groupBy("k")
        .agg(F.sum("v").cast("long").alias("v"))
    )


def _distinct_buckets(t: LakeTable, df) -> set:
    """The touched buckets as the merge's separate stats query found them."""
    return {
        r["__bucket"]
        for r in df.withColumn("__bucket", t._bucket_col())
        .select("__bucket")
        .distinct()
        .collect()
    }


@pytest.mark.parametrize(
    "keys",
    [[f"n{i}" for i in range(12)] + [None], []],
    ids=["null-key", "empty"],
)
def test_observed_buckets_equal_the_distinct_collect(spark, cat, keys):
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=8)
    delta = _keyed(spark, keys)
    want = _distinct_buckets(t, delta)
    obs = Observation()
    with t._materialize_delta(delta.dropDuplicates(["k"]), obs) as frame:
        seen = t._observed(obs)
    assert frame is not delta
    assert set(seen["buckets"]) == want
    assert seen["rows"] == len(keys)


def test_trivial_delta_is_not_observed(spark, cat, tmp_path):
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=8)
    spark.createDataFrame([("a", 1)], SCHEMA).write.parquet(str(tmp_path / "src"))
    scan = spark.read.parquet(str(tmp_path / "src"))
    obs = Observation()
    with t._materialize_delta(scan, obs) as frame:
        pass
    assert frame is scan
    assert t._observed(obs) is None


def test_merge_with_null_key_rewrites_only_touched_buckets(spark, cat):
    """Untouched buckets' files carry over unchanged; each touched bucket
    gets exactly one new file; the NULL key is a bucket like any other."""
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=8)
    base = [f"n{i}" for i in range(64)] + [None]
    t.merge(_keyed(spark, base))
    before = set(t.snapshot().files)
    upd = ["n3", "n40", None, "new"]
    t.merge(_keyed(spark, upd))
    snap = t.snapshot()
    touched = set(snap.summary["touched_buckets"])
    assert touched == _distinct_buckets(t, _keyed(spark, upd))
    added = set(snap.files) - before
    assert sorted(manifest._bucket_of_path(f) for f in added) == sorted(touched)
    carried = set(snap.files) & before
    assert carried == {f for f in before if manifest._bucket_of_path(f) not in touched}
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == len(base) + 1
    assert got[None] == 2 and got["new"] == 3 and got["n3"] == 0


def _plan_of_write(t: LakeTable, fn) -> str:
    """Physical plan (before execution) of the frame ``fn`` writes."""
    plans = []
    writer = t._writer

    def capture(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return writer(df)

    t._writer = capture
    try:
        fn()
    finally:
        t._writer = writer
    return plans[-1]


def test_small_delta_broadcasts_its_keys_large_keeps_sort_merge(spark, cat):
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=8)
    t.merge(_keyed(spark, [f"n{i}" for i in range(64)]))
    plan = _plan_of_write(t, lambda: t.merge(_keyed(spark, ["n1", "n2"])))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    # 2 rows of one string key (20 B at Spark's default row size) > 32 B
    spark.conf.set(key, "32")
    try:
        plan = _plan_of_write(t, lambda: t.merge(_keyed(spark, ["n3", "n4"])))
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 64 and got["n2"] == 1 and got["n4"] == 1


def _hot_log_table(spark, cat):
    t = cat.create_table("log", SCHEMA)
    for b in range(3):
        rows = spark.range(b * 300, (b + 1) * 300).select(
            F.col("id").cast("string").alias("k"), F.col("id").alias("v")
        )
        t.write_hot_batch(rows.repartition(4), batch_id=b)
    return t


def test_tier_writes_ceil_bytes_over_max_partition_bytes_files(spark, cat):
    t = _hot_log_table(spark, cat)
    t.tier(up_to_batch=0)
    assert len(t.snapshot().files) == 1  # 4 hot files, far below 128 MB
    bytes_ = t._hot_batch_bytes([1, 2])
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(-(-bytes_ // 2)))
    try:
        t.tier()
    finally:
        spark.conf.set(key, prev)
    assert len(t.snapshot().files) == 1 + 2
    assert t.read().count() == 900


def test_prepare_returns_a_frame_in_table_shape_as_is(spark, cat):
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=8)
    df = spark.createDataFrame([("a", 1)], SCHEMA)
    assert t._prepare(df) is df
    # a widened column is cast; the others are projected as they are
    wide = df.select("k", F.col("v").cast("decimal(20,0)").alias("v"))
    out = t._prepare(wide)
    assert out.schema == SCHEMA and out.collect() == df.collect()
    # reordered columns come back in table order
    assert t._prepare(df.select("v", "k")).columns == ["k", "v"]


def test_two_handles_that_pick_one_id_keep_each_others_files(spark, cat):
    """Two writers that pick the same snapshot id for their data files
    write separate directories: the second write does not delete the
    files the first one already committed."""
    t = cat.create_table("log", SCHEMA)
    a, b = cat.load("log"), cat.load("log")
    pick = b._next_version

    def stale_pick():
        b._next_version = pick
        n = pick()
        a.append(spark.createDataFrame([("a", 1)], SCHEMA))  # commits id n
        return n

    b._next_version = stale_pick
    b.append(spark.createDataFrame([("b", 2)], SCHEMA))
    snap = t.snapshot()
    assert {manifest._file_seq(f) for f in snap.files} == {0}
    assert all(os.path.exists(os.path.join(t.path, f)) for f in snap.files)
    assert sorted(r.k for r in t.read().collect()) == ["a", "b"]


def test_path_rules_accept_the_write_directory():
    new = "data/s7/0123abcd/__bucket=3/part-0.parquet"
    legacy = "data/s7/__bucket=3/part-0.parquet"
    for p in (new, legacy):
        assert manifest._file_seq(p) == 7
        assert manifest._bucket_of_path(p) == 3
    part = "data/s2/0123abcd/__p_day=2024-01-02/part-0.parquet"
    assert manifest._partition_values_from_path(part) == {"day": "2024-01-02"}


def test_legacy_layout_reads_and_merges(spark, cat):
    """A table written with files directly under data/s{N}/ still reads,
    and a merge rewrites its buckets."""
    t = cat.create_table("pk", SCHEMA, primary_key=["k"], n_buckets=4)
    t.merge(_keyed(spark, [f"n{i}" for i in range(16)]))
    snap_file = commit.snapshot_path(t.path, 0)
    with open(snap_file) as f:
        doc = f.read()
    (write_dir,) = {os.path.dirname(os.path.dirname(f)) for f in t.snapshot().files}
    for name in os.listdir(os.path.join(t.path, write_dir)):
        shutil.move(os.path.join(t.path, write_dir, name), os.path.join(t.path, "data", "s0"))
    with open(snap_file, "w") as f:
        f.write(doc.replace(write_dir + "/", "data/s0/"))
    assert all(f.startswith("data/s0/__bucket=") for f in t.snapshot().files)
    assert t.read().count() == 16
    t.merge(_keyed(spark, ["n5", "x"]))
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 17 and got["n5"] == 0 and got["x"] == 1


@pytest.mark.parametrize("partition_by", [None, ["k"]], ids=["plain", "partitioned"])
def test_stream_appends_finds_files_at_any_depth(spark, cat, partition_by):
    """The append stream delivers every committed row, whether a write's
    files sit in its own directory or in partition directories below it."""
    t = cat.create_table("log", SCHEMA, partition_by=partition_by)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    t.append(spark.createDataFrame([("c", 3)], SCHEMA))
    sink = f"appends_{uuid.uuid4().hex[:8]}"
    q = (
        t.stream_appends()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r.v for r in spark.table(sink).collect()) == [1, 2, 3]


def _jobs_and_tasks(spark, group, fn) -> tuple[int, int]:
    """Spark jobs and tasks ``fn`` runs, counted per job group: the tasks
    are the ``numTasks`` of every distinct stage of those jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), sum(tracker.getStageInfo(s).numTasks for s in stages)


def _local(spark, df):
    """``df`` as a driver-local frame, as a stream hands a batch over."""
    return spark.createDataFrame(df.toArrow())


def _pipeline_inputs(spark, tmp_path, n_batches=4):
    orders = faker.orders_batch(spark, 1200)
    batches = [
        _local(spark, orders.filter(F.pmod(F.col("order_key"), F.lit(n_batches)) == b))
        for b in range(n_batches)
    ]
    customers = _local(spark, faker.customers_batch(spark, 50).dropDuplicates(["cust_key"]))
    nations = _local(spark, faker.nations_batch(spark, 40).dropDuplicates(["nation_key"]))
    pipe = ReferencePipeline(spark, LakeCatalog(spark, str(tmp_path / "wh")))
    return pipe, batches, customers, nations


def test_pipeline_batch_job_budget(spark, tmp_path):
    """One micro-batch of the reference pipeline runs at most 9 Spark jobs
    and 13 tasks, and at most 10 jobs and 14 tasks with its tier: each
    small input is one task, the batch stages one hot file, and the
    revenue table has one bucket."""
    pipe, batches, customers, nations = _pipeline_inputs(spark, tmp_path)

    def batch(b):
        return lambda: pipe.process_order_batch(batches[b], customers, nations, b)

    for b in range(2):  # the first batches create the tables' snapshots
        batch(b)()
    pipe.tier_enriched()
    jobs, tasks = _jobs_and_tasks(spark, "ingest-batch", batch(2))
    assert jobs <= 9 and tasks <= 13, (jobs, tasks)
    staged = os.listdir(pipe.enriched._hot_dir(2))
    assert len([n for n in staged if n.endswith(".parquet")]) == 1
    assert len(pipe.revenue.snapshot().files) == 1

    def batch_and_tier():
        batch(3)()
        pipe.tier_enriched()

    jobs, tasks = _jobs_and_tasks(spark, "ingest-batch-tier", batch_and_tier)
    assert jobs <= 10 and tasks <= 14, (jobs, tasks)


def test_batch_that_failed_after_staging_replays_exactly_once(spark, tmp_path):
    """A batch whose revenue merge fails after its enrichment was staged
    restages itself on the retry: revenue equals the one-shot GROUP BY,
    the hot store holds the batch's rows once, and a later replay is
    skipped."""
    pipe, batches, customers, nations = _pipeline_inputs(spark, tmp_path, n_batches=2)
    assert pipe.process_order_batch(batches[0], customers, nations, 0)
    merge = pipe.revenue.merge

    def fail_once(*args, **kwargs):
        pipe.revenue.merge = merge
        assert os.path.isdir(pipe.enriched._hot_dir(1))  # batch 1 is staged
        raise RuntimeError("injected merge failure")

    pipe.revenue.merge = fail_once
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_order_batch(batches[1], customers, nations, 1)
    assert pipe.last_applied_batch() == 0
    assert pipe.process_order_batch(batches[1], customers, nations, 1)

    want = {
        r.nation_name: r.revenue
        for r in enrich_orders(batches[0].unionByName(batches[1]), customers, nations)
        .groupBy("nation_name")
        .agg(F.sum("total_price").cast("decimal(15,2)").alias("revenue"))
        .collect()
    }
    assert {r.nation_name: r.revenue for r in pipe.revenue.read().collect()} == want
    assert pipe.enriched.read_hot_batch(1).count() == batches[1].count()
    assert pipe.enriched.union_read().count() == sum(b.count() for b in batches)
    assert not pipe.process_order_batch(batches[1], customers, nations, 1)


def test_right_size_coalesces_to_bytes_over_max_partition_bytes(spark):
    df = spark.range(0, 1000, 1, 8)  # 8 KB by the optimizer's estimate
    with session_conf(spark, {"spark.sql.files.maxPartitionBytes": "3000"}):
        sized = right_size(df)
    assert sized.rdd.getNumPartitions() == 3
    assert right_size(df).rdd.getNumPartitions() == 1
    assert sorted(sized.collect()) == sorted(df.collect())


def test_right_size_never_raises_the_partition_count(spark):
    df = spark.range(0, 1000, 1, 2)
    split = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    assert right_size(df, nbytes=5 * split).rdd.getNumPartitions() == 2


def test_right_size_keeps_an_unknown_size(spark):
    rdd = spark.sparkContext.parallelize([(i,) for i in range(100)], 4)
    ckpt = spark.createDataFrame(rdd, "a int").localCheckpoint()
    assert right_size(ckpt) is ckpt


def test_right_size_takes_nbytes_over_the_estimate(spark):
    df = spark.range(0, 1000, 1, 8)
    split = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    n = spark.sparkContext.defaultParallelism
    assert right_size(df, nbytes=n * split) is df
    one = right_size(df, nbytes=1)
    assert one.rdd.getNumPartitions() == 1
    assert sorted(one.collect()) == sorted(df.collect())
