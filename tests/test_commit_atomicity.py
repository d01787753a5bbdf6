"""Commit-protocol atomicity: tiering watermarks and streaming
idempotence markers must land inside the SAME atomic snapshot write as
the data commit — never via a post-commit rewrite (a crash between the
two would double-expose a batch in lake+hot, or double-apply a replayed
delta)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeCatalog


def _versions(t):
    return sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(t.path, "meta"))
        if f.startswith("v") and f.endswith(".json")
    )


def test_tier_watermark_rides_the_commit(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t = cat.create_table("log_t", df.schema)
    t.write_hot_batch(df.filter(F.col("k") < 10), batch_id=1)
    t.write_hot_batch(df.filter(F.col("k") >= 10), batch_id=2)
    before = _versions(t)
    snap = t.tier()
    after = _versions(t)
    # exactly ONE new snapshot file; it already carries the watermark,
    # the tier operation tag, and the tiered batch list
    assert len(after) == len(before) + 1
    with open(t._meta(f"v{after[-1]}.json")) as f:
        raw = json.load(f)
    assert raw["operation"] == "tier"
    assert raw["hot_watermark"] == 2
    assert raw["summary"]["tiered_batches"] == [1, 2]
    assert snap.hot_watermark == 2
    # nothing left hot; union == lake
    assert t.read_hot().count() == 0
    assert t.union_read().count() == 20


def test_merge_summary_rides_the_commit(spark, tmp_path):
    """merge(summary=) lands in the merge's own snapshot, after the merge's
    own entries, and only there: the next merge carries none of it."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(4).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    t = cat.create_table("pk_t", df.schema, primary_key=["k"], n_buckets=2)
    snap = t.merge(df, summary={"batch_id": 7})
    assert list(snap.summary) == ["touched_buckets", "batch_id"]
    assert snap.summary["batch_id"] == 7
    assert t.snapshot().summary == snap.summary
    assert "batch_id" not in t.merge(df).summary


def test_pk_tier_orders_batches_last_write_wins(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id").alias("k"), F.lit("b1").alias("v"))
    t = cat.create_table("pk_t", df.schema, primary_key=["k"], n_buckets=2)
    t.write_hot_batch(df, batch_id=1)
    # batch 3 then 2 staged out of order; key 0..4 updated in both
    t.write_hot_batch(
        spark.range(5).select(F.col("id").alias("k"), F.lit("b3").alias("v")),
        batch_id=3,
    )
    t.write_hot_batch(
        spark.range(8).select(F.col("id").alias("k"), F.lit("b2").alias("v")),
        batch_id=2,
    )
    t.tier()
    state = {r.k: r.v for r in t.read().collect()}
    assert state[0] == "b3" and state[4] == "b3"  # highest batch id wins
    assert state[5] == "b2" and state[7] == "b2"
    assert state[8] == "b1" and state[9] == "b1"


def test_pipeline_batch_id_rides_merge_commit(spark, tmp_path):
    from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    pipe = ReferencePipeline(spark, cat)
    orders = spark.createDataFrame(
        [(1, 1, 10.0, "1995-01-01", "1-URGENT")],
        "order_key long, cust_key int, total_price double, order_date string, order_priority string",
    ).select(
        "order_key", "cust_key",
        F.col("total_price").cast("decimal(15,2)").alias("total_price"),
        F.col("order_date").cast("date").alias("order_date"), "order_priority",
    )
    cust = spark.createDataFrame(
        [(1, "c1", 1, None, "SEG")],
        "cust_key int, name string, nation_key int, acctbal decimal(15,2), mktsegment string",
    )
    nat = spark.createDataFrame([(1, "GERMANY")], "nation_key int, name string")
    assert pipe.process_order_batch(orders, cust, nat, 0)
    snap = pipe.revenue.snapshot()
    with open(pipe.revenue._meta(f"v{snap.snapshot_id}.json")) as f:
        raw = json.load(f)
    assert raw["summary"]["batch_id"] == 0  # marker inside the commit json
    # replay is a no-op and creates no snapshot
    before = _versions(pipe.revenue)
    assert not pipe.process_order_batch(orders, cust, nat, 0)
    assert _versions(pipe.revenue) == before


def test_append_only_guard_blocks_rewrites(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(5).select(F.col("id").alias("k"))
    t = cat.create_table(
        "stream_log", df.schema, properties={"streaming.append-only": "true"}
    )
    t.append(df)
    t.append(df)
    with pytest.raises(ValueError, match="append-only"):
        t.compact()
    with pytest.raises(ValueError, match="append-only"):
        t.overwrite(df)
    # appends remain allowed
    t.append(df)
    assert t.read().count() == 15


def test_commit_conflict_detection(spark):
    """Optimistic-concurrency CAS (the role the Iceberg REST catalog's
    compare-and-swap plays): a commit based on a stale version must be
    rejected, and a physically concurrent same-version snapshot write
    must lose the exclusive-create race instead of silently overwriting."""
    import tempfile

    from pyspark.sql import types as T

    from fluss_iceberg_spark.lake.table import CommitConflictError, LakeCatalog

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("cas", schema)
        t.append(spark.createDataFrame([(1, "a")], schema))  # v0
        t.append(spark.createDataFrame([(2, "b")], schema))  # v1
        # logical CAS: commit based on stale v0 while current is v1
        with pytest.raises(CommitConflictError):
            t._commit("append", t.snapshot(0), [])
        # physical CAS: a racing writer already created v2.json
        import json as _json
        import os as _os

        # physical CAS: a racing writer claims the SAME snapshot id
        # (simultaneous same-base writers list the same snapshot files,
        # so they compute the same next id — exclusive-create arbitrates)
        stale = t.snapshot().to_json()
        nxt = t._next_version()
        with open(_os.path.join(d, "cas", "meta", f"v{nxt}.json"), "w") as f:
            f.write(stale)
        orig = t._next_version
        t._next_version = lambda: nxt  # freeze the racer's id choice
        try:
            with pytest.raises(CommitConflictError):
                t.append(spark.createDataFrame([(3, "c")], schema))
        finally:
            t._next_version = orig
            _os.remove(_os.path.join(d, "cas", "meta", f"v{nxt}.json"))
        # pointer CAS: the VERSION pointer moved after the base was read
        # (a same-base racer with a different id already published) —
        # the late writer must lose and remove its unpublished snapshot
        from fluss_iceberg_spark.lake import commit

        base = t.current_version()
        orig_cv = commit.read_version
        calls = {"n": 0}

        def moved(_tpath):
            # _commit reads the pointer for its parent check and next-id
            # (calls 1-2); the publish re-check (call 3) sees it moved
            calls["n"] += 1
            return base if calls["n"] <= 2 else base + 7

        commit.read_version = moved
        try:
            with pytest.raises(CommitConflictError, match="concurrent"):
                t._commit("append", t.snapshot(base), list(t.snapshot(base).files))
        finally:
            commit.read_version = orig_cv
        # the loser's snapshot file was cleaned up
        assert t._next_version() == base + 1
        # table still readable and consistent at v1 after all rejections
        assert t.current_version() == 1
        assert t.read().count() == 2
        # crash debris (an orphan snapshot file whose commit never
        # published) does NOT wedge the table: the next id skips past it
        with open(_os.path.join(d, "cas", "meta", "v5.json"), "w") as f:
            f.write(stale)
        t.append(spark.createDataFrame([(3, "c")], schema))
        assert t.current_version() == 6 and t.read().count() == 3


def _while_writing(t, race) -> None:
    """Make ``t``'s next write race another commit: ``race()`` runs after
    ``t`` read its parent and before ``t`` commits (the first id pick of a
    write follows its parent read)."""
    orig = t._next_version

    def racing():
        t._next_version = orig  # race once
        race()
        return orig()

    t._next_version = racing


def test_cow_delete_does_not_undo_a_concurrent_rollback(spark, tmp_path):
    """A copy-on-write delete computed from v1 must not publish on top of
    a rollback that landed meanwhile: its file list would bring back
    the rows the rollback removed."""
    from fluss_iceberg_spark.lake.table import CommitConflictError

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(1, 4).select(F.col("id").alias("k"))
    t = cat.create_table("log_t", df.schema)
    t.append(df.filter(F.col("k") <= 2).coalesce(1))  # v0: 1, 2
    t.append(df.filter(F.col("k") == 3).coalesce(1))  # v1: 1, 2, 3
    other = cat.load("log_t")
    _while_writing(t, lambda: other.rollback(0))
    with pytest.raises(CommitConflictError):
        t.delete(where=[("k", "=", 1)])
    assert sorted(r.k for r in t.read().collect()) == [1, 2]  # the rollback
    t.delete(where=[("k", "=", 1)])
    assert sorted(r.k for r in t.read().collect()) == [2]


def test_pk_merge_does_not_undo_a_concurrent_rollback(spark, tmp_path):
    from fluss_iceberg_spark.lake.table import CommitConflictError

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(1, 4).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    t = cat.create_table("pk_t", df.schema, primary_key=["k"], n_buckets=2)
    t.merge(df.filter(F.col("k") <= 2))  # v0: keys 1, 2
    t.merge(df.filter(F.col("k") == 3))  # v1: keys 1, 2, 3
    upd = df.filter(F.col("k") == 1).withColumn("v", F.lit("b"))
    other = cat.load("pk_t")
    _while_writing(t, lambda: other.rollback(0))
    with pytest.raises(CommitConflictError):
        t.merge(upd)
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    t.merge(upd)
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "b"), (2, "a")]


def test_tier_does_not_commit_a_batch_a_concurrent_tier_landed(spark, tmp_path):
    """tier() drains the batches past one snapshot's watermark and commits
    on top of that same snapshot: a second handle that tiers the batch
    meanwhile makes the first a conflict, not a second copy of the batch."""
    from fluss_iceberg_spark.lake.table import CommitConflictError

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t = cat.create_table("log_t", df.schema)
    t.append(df.filter(F.col("k") < 5).coalesce(1))  # v0: 5 rows
    t.write_hot_batch(df.filter(F.col("k") >= 5), batch_id=1)
    other = cat.load("log_t")
    _while_writing(t, other.tier)
    with pytest.raises(CommitConflictError):
        t.tier()
    assert t.read().count() == 10
    assert t.tier() is None  # batch 1 is in the lake once


def test_tier_parses_the_snapshot_once(spark, tmp_path, monkeypatch):
    """tier() takes its watermark and the commit's parent from one parse;
    the commit derives its counts without another."""
    from fluss_iceberg_spark.lake.table import Snapshot

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t = cat.create_table("log_t", df.schema)
    t.append(df)
    t.write_hot_batch(df, batch_id=1)
    parse = Snapshot.from_json
    calls = []

    def counting(s):
        calls.append(1)
        return parse(s)

    monkeypatch.setattr(Snapshot, "from_json", staticmethod(counting))
    t.tier()
    assert len(calls) <= 1
