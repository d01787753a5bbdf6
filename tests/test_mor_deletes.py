"""Merge-on-read position deletes (the Iceberg v2 delete-file role,
``write.delete.mode=merge-on-read``): DELETE commits a tombstone file
instead of rewriting data files; reads anti-join the broadcast
tombstones; compact() materializes them; accounting stays live and
metadata-only. Reference context: the cold path is Iceberg
(trino/iceberg.properties:6) whose v2 spec defines position deletes."""

from __future__ import annotations

import datetime
import decimal
import tempfile

import pytest
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("d", T.DateType(), True),
        T.StructField("price", T.DecimalType(15, 2), True),
    ]
)

MOR = {"write.delete.mode": "merge-on-read"}


def _rows(lo, hi):
    return [
        (
            i,
            datetime.date(1995, 1, 1) + datetime.timedelta(days=i % 300),
            decimal.Decimal(f"{i}.50"),
        )
        for i in range(lo, hi)
    ]


def _mk(spark, d, name="mor", pk=None, props=MOR):
    return LakeCatalog(spark, d).create_table(
        name, SCHEMA, primary_key=pk, properties=dict(props)
    )


def test_mor_delete_leaves_data_files_untouched(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        for lo in (0, 100, 200):
            t.append(spark.createDataFrame(_rows(lo, lo + 100), SCHEMA).coalesce(1))
        before = list(t.snapshot().files)
        snap = t.delete([("k", ">=", 250)])
        assert snap.operation == "delete"
        assert snap.summary["mode"] == "merge-on-read"
        assert snap.summary["deleted_positions"] == 50
        assert snap.files == before  # zero data files rewritten
        assert len(snap.delete_files) == 1
        assert snap.total_rows == 250
        assert t.count_rows() == 250
        assert sorted(r.k for r in t.read().collect()) == list(range(250))
        # stats-bounded: only the 200-299 file is referenced
        meta = snap.delete_meta[snap.delete_files[0]]
        assert len(meta["files"]) == 1
        # time travel to the pre-delete snapshot sees every row
        assert t.read(version=snap.snapshot_id - 1).count() == 300


def test_mor_overlapping_deletes_do_not_double_count(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        t.delete([("k", ">=", 50)])
        snap = t.delete([("k", ">=", 30)])  # overlaps rows already dead
        assert snap.summary["deleted_positions"] == 20  # only 30..49 live
        assert snap.total_rows == 30
        assert sorted(r.k for r in t.read().collect()) == list(range(30))


def test_mor_predicate_on_live_rows_only_after_append(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        t.delete([("k", "<", 10)])
        t.append(spark.createDataFrame(_rows(100, 150), SCHEMA).coalesce(1))
        assert t.count_rows() == 140
        assert t.read().count() == 140
        # the delete file carried forward across the append commit
        assert len(t.snapshot().delete_files) == 1


def test_mor_where_pushdown_combines_with_tombstones(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        t.delete([("k", ">=", 90)])
        got = sorted(r.k for r in t.read(where=[("k", ">=", 80)]).collect())
        assert got == list(range(80, 90))


def test_compact_materializes_tombstones(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        for lo in (0, 100):
            t.append(spark.createDataFrame(_rows(lo, lo + 100), SCHEMA).coalesce(1))
        t.delete([("k", "<", 20)])
        snap = t.compact()
        assert snap.delete_files == []  # tombstones applied and dropped
        assert snap.total_rows == 180
        assert sorted(r.k for r in t.read().collect()) == list(range(20, 200))


def test_mor_min_max_declines_and_rescan_is_exact(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        assert t.min_max("k") == (0, 99)
        t.delete([("k", "=", 99)])
        assert t.min_max("k") is None  # footer bounds include the dead row


def test_mor_delete_on_pk_table_then_merge(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"])
        t.merge(spark.createDataFrame(_rows(0, 100), SCHEMA))
        t.delete([("k", "<", 10)])
        assert t.read().count() == 90
        # upsert back two of the deleted keys: the bucket rewrite reads
        # LIVE rows, so the other eight stay dead
        t.merge(spark.createDataFrame(_rows(0, 2), SCHEMA))
        got = sorted(r.k for r in t.read().collect())
        assert got == [0, 1] + list(range(10, 100))


def test_mor_changelog_emits_deletes(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"])
        v0 = t.merge(spark.createDataFrame(_rows(0, 20), SCHEMA)).snapshot_id
        v1 = t.delete([("k", "<", 3)]).snapshot_id
        log = t.changelog(v0, v1).collect()
        assert sorted((r.op, r.k) for r in log) == [
            ("delete", 0), ("delete", 1), ("delete", 2)
        ]


def test_mor_union_read_applies_tombstones(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 50), SCHEMA).coalesce(1))
        t.delete([("k", "<", 5)])
        t.write_hot_batch(spark.createDataFrame(_rows(50, 60), SCHEMA), 0)
        assert t.union_read().count() == 55


def test_expire_and_orphan_gc_cover_delete_files(spark):
    import os

    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 50), SCHEMA).coalesce(1))
        t.append(spark.createDataFrame(_rows(50, 100), SCHEMA).coalesce(1))
        t.delete([("k", "<", 10)])
        assert t.compact() is not None  # tombstones materialized
        res = t.expire_snapshots(keep_last=1)
        assert any(f.startswith("deletes/") for f in res["removed_files"])
        assert t.remove_orphan_files() == []
        assert sorted(r.k for r in t.read().collect()) == list(range(10, 100))


def test_rollback_restores_tombstone_state(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d)
        t.append(spark.createDataFrame(_rows(0, 50), SCHEMA).coalesce(1))
        t.append(spark.createDataFrame(_rows(50, 100), SCHEMA).coalesce(1))
        v_del = t.delete([("k", "<", 10)]).snapshot_id
        t.compact()
        snap = t.rollback(v_del)
        assert snap.total_rows == 90
        assert len(snap.delete_files) == 1
        assert t.read().count() == 90


def test_cow_remains_default(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("cow", SCHEMA)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        snap = t.delete([("k", "<", 10)])
        assert snap.delete_files == []
        assert snap.summary.get("mode") is None
        assert t.read().count() == 90


# ---------- merge-on-read UPDATE (write.update.mode=merge-on-read) ----------

MORU = {"write.update.mode": "merge-on-read"}


def test_mor_update_appends_and_tombstones(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, props=MORU)
        for lo in (0, 100):
            t.append(spark.createDataFrame(_rows(lo, lo + 100), SCHEMA).coalesce(1))
        before = list(t.snapshot().files)
        snap = t.update({"price": "price * 2"}, [("k", "<", 10)])
        assert snap.operation == "update"
        assert snap.summary["mode"] == "merge-on-read"
        assert snap.summary["updated_rows"] == 10
        assert set(before) < set(snap.files)  # old files intact, new appended
        assert len(snap.delete_files) == 1
        assert snap.total_rows == 200  # row count unchanged by UPDATE
        got = {r.k: r.price for r in t.read().collect()}
        assert len(got) == 200
        assert got[5] == decimal.Decimal("11.00")  # 5.50 * 2
        assert got[50] == decimal.Decimal("50.50")  # untouched
        # time travel to pre-update snapshot sees the old value
        old = {r.k: r.price for r in t.read(version=snap.snapshot_id - 1).collect()}
        assert old[5] == decimal.Decimal("5.50")


def test_mor_update_then_delete_compose(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, props={**MOR, **MORU})
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA).coalesce(1))
        t.update({"price": "price + 1"}, [("k", "<", 50)])
        t.delete([("k", "<", 10)])
        got = {r.k: r.price for r in t.read().collect()}
        assert len(got) == 90
        assert 0 not in got
        assert got[10] == decimal.Decimal("11.50")  # updated, not deleted
        assert got[60] == decimal.Decimal("60.50")  # untouched
        assert t.count_rows() == 90


# ---------- equality deletes (PK tables, delete_by_key) ----------


def test_equality_delete_hides_keys_without_rewrite(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"], props={})
        t.merge(spark.createDataFrame(_rows(0, 100), SCHEMA))
        before = list(t.snapshot().files)
        keys = spark.createDataFrame([(i,) for i in range(10)], "k int")
        snap = t.delete_by_key(keys)
        assert snap.summary["mode"] == "equality"
        assert snap.summary["hidden_rows"] == 10
        assert snap.files == before  # no data file rewritten
        # $files labels the delete file by its kind, as $delete_files does
        content = {r.file_path: r.content for r in t.files().collect()}
        assert [content[d] for d in snap.delete_files] == ["equality-deletes"]
        assert snap.total_rows == 90
        assert t.count_rows() == 90
        assert sorted(r.k for r in t.read().collect()) == list(range(10, 100))


def test_equality_delete_reinsert_survives(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"], props={})
        t.merge(spark.createDataFrame(_rows(0, 50), SCHEMA))
        t.delete_by_key(spark.createDataFrame([(7,), (8,)], "k int"))
        assert t.read().count() == 48
        # re-insert key 7: the new file's sequence postdates the delete
        t.merge(spark.createDataFrame(_rows(7, 8), SCHEMA))
        got = sorted(r.k for r in t.read().collect())
        assert 7 in got and 8 not in got
        assert len(got) == 49
        assert t.count_rows() == 49


def test_equality_delete_missing_keys_count_zero(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"], props={})
        t.merge(spark.createDataFrame(_rows(0, 20), SCHEMA))
        snap = t.delete_by_key(
            spark.createDataFrame([(500,), (501,)], "k int")
        )
        assert snap.summary["hidden_rows"] == 0
        assert t.count_rows() == 20


def test_equality_delete_materialized_by_merge(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"], props={})
        t.merge(spark.createDataFrame(_rows(0, 100), SCHEMA))
        t.delete_by_key(spark.createDataFrame([(i,) for i in range(100)], "k int"))
        assert t.count_rows() == 0
        # a merge touching every bucket rewrites them all; the equality
        # entry becomes fully inert and is dropped from the snapshot
        snap = t.merge(spark.createDataFrame(_rows(200, 300), SCHEMA))
        assert t.count_rows() == 100
        assert sorted(r.k for r in t.read().collect()) == list(range(200, 300))


def test_equality_delete_changelog_emits_deletes(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, pk=["k"], props={})
        v0 = t.merge(spark.createDataFrame(_rows(0, 20), SCHEMA)).snapshot_id
        v1 = t.delete_by_key(
            spark.createDataFrame([(3,), (4,)], "k int")
        ).snapshot_id
        log = t.changelog(v0, v1).collect()
        assert sorted((r.op, r.k) for r in log) == [("delete", 3), ("delete", 4)]


def test_equality_delete_requires_pk(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _mk(spark, d, props={})
        t.append(spark.createDataFrame(_rows(0, 10), SCHEMA))
        with pytest.raises(ValueError, match="requires a primary key"):
            t.delete_by_key(spark.createDataFrame([(1,)], "k int"))


def test_delete_files_metadata_table(spark, tmp_path):
    """$delete_files: one row per active delete file with kind, count,
    and referenced data files; empties after a rewrite materializes the
    tombstones."""
    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "whdf"))
    t = cat.create_table(
        "dfm",
        spark.createDataFrame([(1, "a")], "k int, v string").schema,
        properties=dict(MOR),
    )
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], t.schema)
    )
    t.delete([("k", ">=", 7)])
    rows = t.delete_files().collect()
    assert len(rows) == 1
    assert rows[0].kind == "position"
    assert rows[0].record_count == 3
    assert rows[0].referenced_data_files >= 1
    # compaction materializes the tombstones: the view drains
    t.compact()
    assert t.delete_files().count() == 0


def test_delete_files_sql_companion_view(spark, tmp_path):
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "whdf2"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k int, v string")
    t = eng.create_table("dfm2", df.schema, properties=dict(MOR))
    t.append(df)
    t.delete([("k", "=", 3)])
    got = eng.sql(
        "SELECT kind, record_count FROM dfm2__delete_files"
    ).collect()
    assert [(r.kind, r.record_count) for r in got] == [("position", 1)]
