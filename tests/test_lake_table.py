"""Unit tests for the snapshot-log lake table format."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog

PK_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("amt", T.DecimalType(15, 2), True),
    ]
)


@pytest.fixture()
def cat(spark):
    with tempfile.TemporaryDirectory() as d:
        yield LakeCatalog(spark, d)


def _df(spark, rows):
    return spark.createDataFrame(rows, PK_SCHEMA)


def test_append_and_read(spark, cat):
    t = cat.create_table("log1", PK_SCHEMA)
    t.append(_df(spark, [(1, "a", None), (2, "b", None)]))
    t.append(_df(spark, [(3, "c", None)]))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert t.snapshot().total_rows == 3


def test_merge_last_write_wins(spark, cat):
    t = cat.create_table("pk1", PK_SCHEMA, primary_key=["k"], n_buckets=4)
    t.merge(_df(spark, [(1, "a", None), (2, "b", None), (3, "c", None)]))
    t.merge(_df(spark, [(2, "B2", None), (4, "d", None)]))
    state = {r.k: r.v for r in t.read().collect()}
    assert state == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_merge_bucket_pruning(spark, cat):
    """A merge touching one key rewrites only that key's bucket; files of
    untouched buckets carry forward verbatim into the new snapshot."""
    t = cat.create_table("pk2", PK_SCHEMA, primary_key=["k"], n_buckets=8)
    t.merge(_df(spark, [(i, f"v{i}", None) for i in range(64)]))
    files_before = set(t.snapshot().files)
    t.merge(_df(spark, [(7, "NEW", None)]))
    snap = t.snapshot()
    assert len(snap.summary["touched_buckets"]) == 1
    carried = set(snap.files) & files_before
    assert carried, "untouched bucket files must carry forward"
    assert {r.v for r in t.read().filter(F.col("k") == 7).collect()} == {"NEW"}
    assert t.read().count() == 64


def test_not_null_drop(spark, cat):
    """S16: NULLs in NOT NULL columns are dropped at the sink, not errors."""
    t = cat.create_table("log2", PK_SCHEMA, not_null=["v"])
    t.append(_df(spark, [(1, "a", None), (2, None, None), (3, "c", None)]))
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_time_travel_and_snapshots(spark, cat):
    t = cat.create_table("log3", PK_SCHEMA)
    t.append(_df(spark, [(1, "a", None)]))
    t.append(_df(spark, [(2, "b", None)]))
    assert t.read(version=0).count() == 1
    assert t.read(version=1).count() == 2
    log = t.snapshots().collect()
    assert [r.operation for r in log] == ["append", "append"]
    assert [r.total_rows for r in log] == [1, 2]


def test_union_read_exactly_once(spark, cat):
    """The tiering watermark boundary: a tiered batch is visible via the
    lake, an untiered one via hot — never both, never neither."""
    t = cat.create_table("log4", PK_SCHEMA)
    t.append(_df(spark, [(1, "cold", None)]))
    t.write_hot_batch(_df(spark, [(2, "hot1", None)]), batch_id=1)
    t.write_hot_batch(_df(spark, [(3, "hot2", None)]), batch_id=2)
    assert sorted(r.k for r in t.union_read().collect()) == [1, 2, 3]
    t.tier(up_to_batch=1)
    assert t.snapshot().hot_watermark == 1
    assert sorted(r.k for r in t.read().collect()) == [1, 2]  # cold grew
    assert sorted(r.k for r in t.union_read().collect()) == [1, 2, 3]  # unchanged
    t.tier()
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert t.union_read().count() == 3


def test_pk_table_tier_merges(spark, cat):
    t = cat.create_table("pk3", PK_SCHEMA, primary_key=["k"], n_buckets=4)
    t.merge(_df(spark, [(1, "a", None)]))
    t.write_hot_batch(_df(spark, [(1, "a2", None), (2, "b", None)]), batch_id=1)
    t.tier()
    state = {r.k: r.v for r in t.read().collect()}
    assert state == {1: "a2", 2: "b"}


def test_append_on_pk_table_rejected(spark, cat):
    t = cat.create_table("pk4", PK_SCHEMA, primary_key=["k"])
    with pytest.raises(ValueError):
        t.append(_df(spark, [(1, "a", None)]))


def test_changelog_stream_compose_equals_batch_diff(spark, cat):
    """Streamed per-commit changelog, compacted, must equal the batch
    changelog(v0, vN) — including delete composition (update→delete is
    delete carrying old values; insert→delete cancels entirely)."""
    t = cat.create_table("pk_cdc_stream", PK_SCHEMA, primary_key=["k"], n_buckets=4)
    t.merge(_df(spark, [(1, "a", None), (2, "b", None), (3, "c", None)]))  # v0
    t.merge(_df(spark, [(2, "b2", None), (4, "d", None), (5, "e", None)]))  # v1
    t.merge(_df(spark, [(4, "d2", None)]))  # v2: insert→update chain for 4
    t.delete([("k", "=", 3)])  # v3: update-less delete of a v0 key
    t.delete([("k", "=", 5)])  # v4: deletes a key inserted in v1 → cancels
    stream = t.changelog_stream(0)
    # per-step emission: v1 has 3 changes, v2 one, v3/v4 one delete each
    per_step = {r.change_version: r.cnt for r in
                stream.groupBy("change_version").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per_step == {1: 3, 2: 1, 3: 1, 4: 1}
    composed = {(r.op, r.k, r.v) for r in t.compose_changelog(stream).collect()}
    batch = {(r.op, r.k, r.v) for r in t.changelog(0, 4).collect()}
    assert composed == batch
    assert composed == {
        ("update", 2, "b2"),
        ("insert", 4, "d2"),
        ("delete", 3, "c"),
    }


def test_changelog_stream_requires_pk(spark, cat):
    t = cat.create_table("log_cdc", PK_SCHEMA)
    with pytest.raises(ValueError):
        t.changelog_stream(0)


def test_tags_time_travel_and_expiry_protection(spark, cat):
    """Named tags (Iceberg ref role): resolve in read()/SQL, survive
    snapshot expiry, immutable until dropped."""
    t = cat.create_table("tagged", PK_SCHEMA)
    t.append(_df(spark, [(1, "a", None)]))        # v0
    t.create_tag("launch")                         # tag v0
    t.append(_df(spark, [(2, "b", None)]))        # v1
    t.append(_df(spark, [(3, "c", None)]))        # v2
    assert t.tags() == {"launch": 0}
    assert sorted(r.k for r in t.read(version="launch").collect()) == [1]
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("launch", 2)
    # expiry keeps the tagged snapshot alive
    res = t.expire_snapshots(keep_last=1)
    assert 0 in res["retained_snapshots"] and 1 in res["expired_snapshots"]
    assert sorted(r.k for r in t.read(version="launch").collect()) == [1]
    t.drop_tag("launch")
    assert t.tags() == {}
    with pytest.raises(ValueError, match="unknown ref"):
        t.read(version="launch")


def test_sql_version_as_of_tag(spark, tmp_path):
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    t = eng.create_table("ntag", PK_SCHEMA)
    t.append(_df(spark, [(1, "a", None)]))
    t.create_tag("baseline")
    t.append(_df(spark, [(2, "b", None)]))
    eng.refresh("ntag")
    got = {r.k for r in eng.sql(
        "SELECT k FROM ntag VERSION AS OF 'baseline'").collect()}
    assert got == {1}
    assert {r.k for r in eng.sql("SELECT k FROM ntag").collect()} == {1, 2}


def test_merge_delta_with_pandas_udf_runs_udf_once(spark, cat):
    """A delta whose key comes from a scalar pandas UDF is heavy: the
    merge checkpoints it once instead of re-running the UDF in each of
    its 2-3 actions (every one of them reads the key)."""
    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("int")
    def key_of(raw: pd.Series) -> pd.Series:
        calls.add(len(raw))
        return raw - 100

    t = cat.create_table("udf_delta", PK_SCHEMA, primary_key=["k"], n_buckets=4)
    t.merge(_df(spark, [(i, "a", None) for i in range(10)]))
    src = spark.createDataFrame([(i + 100,) for i in range(5, 15)], "raw int")
    t.merge(
        src.select(
            key_of("raw").alias("k"),
            F.concat(F.lit("u"), (F.col("raw") - 100).cast("string")).alias("v"),
            F.lit(None).cast("decimal(15,2)").alias("amt"),
        )
    )
    assert calls.value == 10
    assert {r.k: r.v for r in t.read().collect()} == {
        **{i: "a" for i in range(5)}, **{i: f"u{i}" for i in range(5, 15)}
    }


def test_scan_filter_delta_stays_unmaterialized(spark, cat, tmp_path):
    t = cat.create_table("scan_delta", PK_SCHEMA, primary_key=["k"], n_buckets=4)
    _df(spark, [(1, "a", None), (2, "b", None)]).write.parquet(str(tmp_path / "src"))
    scan = spark.read.parquet(str(tmp_path / "src")).filter(F.col("k") > 1)
    with t._materialize_delta(scan) as frame:
        assert frame is scan
