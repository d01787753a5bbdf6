"""Multi-table atomic transactions (CatalogTransaction): stage →
intent → publish with roll-forward recovery."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.commit import atomic_write
from fluss_iceberg_spark.lake.table import (
    CommitConflictError,
    LakeCatalog,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _setup(spark, d):
    cat = LakeCatalog(spark, d)
    a = cat.create_table("a", SCHEMA)
    b = cat.create_table("b", SCHEMA)
    a.append(spark.createDataFrame([(1, "a0")], SCHEMA))
    b.append(spark.createDataFrame([(1, "b0")], SCHEMA))
    return cat


def test_both_tables_publish_together(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        with cat.transaction() as txn:
            txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
            # mid-txn: external readers see NEITHER write
            fresh = LakeCatalog(spark, d)
            assert fresh.load("a").read().count() == 1
            txn.table("b").append(spark.createDataFrame([(2, "b1")], SCHEMA))
            assert fresh.load("b").read().count() == 1
        after = LakeCatalog(spark, d)
        assert after.load("a").read().count() == 2
        assert after.load("b").read().count() == 2


def test_exception_aborts_everything(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        with pytest.raises(RuntimeError, match="boom"):
            with cat.transaction() as txn:
                txn.table("a").append(
                    spark.createDataFrame([(2, "a1")], SCHEMA)
                )
                raise RuntimeError("boom")
        after = LakeCatalog(spark, d)
        assert after.load("a").read().count() == 1
        # staged snapshot json cleaned up
        meta = os.path.join(d, "a", "meta")
        vs = [f for f in os.listdir(meta) if f.startswith("v")]
        assert len([f for f in vs if f.endswith(".json")]) == 1


def test_read_your_own_writes_inside_txn(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        with cat.transaction() as txn:
            ta = txn.table("a")
            ta.append(spark.createDataFrame([(2, "a1")], SCHEMA))
            assert ta.read().count() == 2  # txn sees its own stage
            ta.append(spark.createDataFrame([(3, "a2")], SCHEMA))
            assert ta.read().count() == 3  # chained stages
        assert LakeCatalog(spark, d).load("a").read().count() == 3


def test_concurrent_commit_fails_txn_and_publishes_nothing(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        txn = cat.transaction()
        txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
        txn.table("b").append(spark.createDataFrame([(2, "b1")], SCHEMA))
        # an outside writer advances table a between stage and publish
        LakeCatalog(spark, d).load("a").append(
            spark.createDataFrame([(9, "ext")], SCHEMA)
        )
        with pytest.raises(CommitConflictError):
            txn.commit()
        after = LakeCatalog(spark, d)
        got = {r.v for r in after.load("a").read().collect()}
        assert got == {"a0", "ext"}  # txn's write NOT published
        assert after.load("b").read().count() == 1  # b untouched too


def test_roll_forward_recovery_after_intent(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        txn = cat.transaction()
        txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
        txn.table("b").append(spark.createDataFrame([(2, "b1")], SCHEMA))
        # simulate a crash AFTER the link + intent write (the commit
        # point), BEFORE any pointer flip: publish first links every
        # staged txn-v{N}.json into its public place, then writes the
        # intent — so a post-intent crash always leaves the links live
        for p, s in txn._staged.items():
            for v in s["all"]:
                os.link(
                    os.path.join(p, "meta", f"txn-v{v}.json"),
                    os.path.join(p, "meta", f"v{v}.json"),
                )
        intent_dir = os.path.join(d, "_txn")
        os.makedirs(intent_dir, exist_ok=True)
        intent = {
            "entries": [
                {"path": p, "version": s["latest"]}
                for p, s in txn._staged.items()
            ]
        }
        atomic_write(
            os.path.join(intent_dir, "txn-crashed.json"), json.dumps(intent)
        )
        txn._detach()  # process dies
        # next catalog open rolls the transaction FORWARD
        after = LakeCatalog(spark, d)
        assert after.load("a").read().count() == 2
        assert after.load("b").read().count() == 2
        assert os.listdir(intent_dir) == []


def test_branch_writes_rejected_in_txn(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        cat.load("a").create_branch("audit")
        txn = cat.transaction()
        t = txn.table("a")
        with pytest.raises(ValueError, match="branch"):
            with t.on_branch("audit"):
                t.append(spark.createDataFrame([(2, "x")], SCHEMA))
        txn.abort()


def test_post_intent_failure_rolls_forward_not_back(spark, monkeypatch):
    """A failure AFTER the intent write (the commit point) must never
    abort: some VERSION pointers may already reference staged snapshots,
    so deleting them would dangle live pointers. The intent stays on
    disk and the next catalog open completes the publish."""
    import fluss_iceberg_spark.lake.commit as mod

    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        txn = cat.transaction()
        txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
        txn.table("b").append(spark.createDataFrame([(2, "b1")], SCHEMA))
        real = mod.atomic_write
        state = {"fail": True}
        b_version = os.path.join(d, "b", "meta", "VERSION")

        def flaky(path, payload):
            if state["fail"] and path == b_version:
                raise OSError("disk full")
            real(path, payload)

        monkeypatch.setattr(mod, "atomic_write", flaky)
        txn.commit()  # must NOT raise: the txn is durably committed
        # intent file left behind for roll-forward; staged snapshots kept
        intent_dir = os.path.join(d, "_txn")
        assert len(os.listdir(intent_dir)) == 1
        # disk recovers; next catalog open completes the publish
        state["fail"] = False
        after = LakeCatalog(spark, d)
        assert after.load("a").read().count() == 2
        assert after.load("b").read().count() == 2
        assert os.listdir(intent_dir) == []


def test_sql_transaction_block(spark, tmp_path):
    """BEGIN TRANSACTION; <DML>; COMMIT publishes atomically across
    tables; ROLLBACK and mid-block failures leave no trace; DDL is
    rejected inside the block."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "whtxn"))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("ta", df.schema).append(df)
    eng.create_table("tb", df.schema).append(df)
    res = eng.sql(
        """BEGIN TRANSACTION;
           INSERT INTO ta VALUES (2, 'x');
           INSERT INTO tb VALUES (2, 'y');
           COMMIT"""
    ).collect()[0]
    assert (res.op, res.statements) == ("commit", 2)
    assert eng.sql("SELECT COUNT(*) AS n FROM ta").collect()[0].n == 2
    assert eng.sql("SELECT COUNT(*) AS n FROM tb").collect()[0].n == 2
    # ROLLBACK discards the staged writes
    eng.sql("BEGIN TRANSACTION; INSERT INTO ta VALUES (3, 'z'); ROLLBACK")
    assert eng.sql("SELECT COUNT(*) AS n FROM ta").collect()[0].n == 2
    # a failing statement mid-block rolls the whole block back
    with pytest.raises(Exception):
        eng.sql(
            """BEGIN TRANSACTION;
               INSERT INTO ta VALUES (4, 'w');
               INSERT INTO missing_t VALUES (1, 'q');
               COMMIT"""
        )
    assert eng.sql("SELECT COUNT(*) AS n FROM ta").collect()[0].n == 2
    # DDL refused inside the block (nothing applied)
    with pytest.raises(ValueError, match="only DML"):
        eng.sql("BEGIN TRANSACTION; DROP TABLE ta; COMMIT")
    assert eng.sql("SELECT COUNT(*) AS n FROM ta").collect()[0].n == 2
    # UPDATE and DELETE stage through the same transaction
    eng.sql(
        """BEGIN TRANSACTION;
           UPDATE ta SET v = 'u' WHERE k = 1;
           DELETE FROM tb WHERE k = 1;
           COMMIT"""
    )
    got = {r.k: r.v for r in eng.sql("SELECT * FROM ta").collect()}
    assert got[1] == "u"
    assert eng.sql("SELECT COUNT(*) AS n FROM tb").collect()[0].n == 1


def test_txn_read_your_own_writes_in_sql_sources(spark, tmp_path):
    """A later statement's SELECT source must see the block's earlier
    staged writes (read-your-own-writes across statements)."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "whryow"))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    eng.create_table("rx", df.schema).append(df)
    eng.create_table("ry", df.schema)
    eng.sql(
        """BEGIN TRANSACTION;
           INSERT INTO rx VALUES (2, 'staged');
           INSERT INTO ry SELECT * FROM rx;
           COMMIT"""
    )
    assert eng.sql("SELECT COUNT(*) AS n FROM ry").collect()[0].n == 2
    # and after a ROLLBACK the views are repaired to published state
    eng.sql("BEGIN TRANSACTION; INSERT INTO rx VALUES (3, 'x'); ROLLBACK")
    assert eng.sql("SELECT COUNT(*) AS n FROM rx").collect()[0].n == 2


def test_staged_snapshots_invisible_to_other_readers(spark):
    """Uncommitted transaction snapshots must be invisible to EVERY
    other reader — $snapshots listings, snapshot_versions(), explicit
    read(version=N) time travel, and _next_version — not only
    pointer-following reads (the r5 advisory's isolation leak)."""
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        txn = cat.transaction()
        txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
        staged_v = txn.staged_version(txn.table("a"))
        # an independent reader of the same table
        other = LakeCatalog(spark, d).load("a")
        assert staged_v not in other.snapshot_versions()
        assert staged_v not in [
            r.snapshot_id for r in other.snapshots().collect()
        ]
        with pytest.raises(ValueError, match="does not exist"):
            other.read(version=staged_v)
        # the txn itself reads its staged head (read-your-own-writes)
        assert txn.table("a").read().count() == 2
        txn.commit()
        # published: now visible everywhere
        other = LakeCatalog(spark, d).load("a")
        assert staged_v in other.snapshot_versions()
        assert other.read(version=staged_v).count() == 2
        # staged names are gone after publish
        import glob as _glob
        assert not _glob.glob(os.path.join(d, "a", "meta", "txn-v*.json"))


def test_swept_staged_snapshot_fails_publish_descriptively(spark):
    """remove_orphan_files honors the gc.orphan.older-than-hours table
    property for STAGED txn metadata, and a transaction whose staged
    snapshot was swept (it outlived the horizon) fails at publish with
    the descriptive expired error — not a raw FileNotFoundError."""
    with tempfile.TemporaryDirectory() as d:
        cat = _setup(spark, d)
        txn = cat.transaction()
        txn.table("a").append(spark.createDataFrame([(2, "a1")], SCHEMA))
        ta = cat.load("a")
        # default horizon (24h): a live txn's staged metadata survives
        assert not [
            r for r in ta.remove_orphan_files() if "txn-v" in r
        ], "fresh staged metadata must not be swept at the default horizon"
        # zero horizon via the table property: the sweep takes it
        ta.properties["gc.orphan.older-than-hours"] = "0"
        swept = ta.remove_orphan_files()
        assert any("txn-v" in r for r in swept)
        with pytest.raises(CommitConflictError, match="transaction expired"):
            txn.commit()
        # nothing published; table a still at its pre-txn state
        assert LakeCatalog(spark, d).load("a").read().count() == 1
