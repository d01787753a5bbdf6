"""Catalog commit coordinator (lake/coordinator.py): the REST-catalog
CAS service stand-in behind the ``commit_section`` seam. Proves the
documented swap-in path actually works multi-process: writers in
SEPARATE processes serialize their check→flip sections through the
service, a dead holder's lease auto-releases, and the real commit /
transaction machinery runs unchanged against the shim."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
import threading
import time

import pytest

from fluss_iceberg_spark.lake import coordinator
from fluss_iceberg_spark.lake.table import (
    CommitConflictError,
    LakeCatalog,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD_INCR = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from fluss_iceberg_spark.lake.commit import commit_section
    wh, n = sys.argv[1], int(sys.argv[2])
    ctr = os.path.join(wh, "counter.txt")
    for _ in range(n):
        with commit_section(wh):
            v = int(open(ctr).read())
            time.sleep(0.002)  # widen the lost-update window
            with open(ctr, "w") as f:
                f.write(str(v + 1))
    """
).format(repo=REPO)

_CHILD_DIE_HOLDING = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from fluss_iceberg_spark.lake import coordinator
    client = coordinator.CoordinatorClient(sys.argv[1], scope="s")
    print("ACQUIRED", flush=True)
    os._exit(1)  # crash WITHOUT releasing — the lease must die with us
    """
).format(repo=REPO)


def test_multiprocess_writers_never_lose_updates(tmp_path):
    """4 separate OS processes × 20 read-modify-write cycles through the
    coordinator-backed ``commit_section`` — the deliberately non-atomic
    counter ends exactly at 80 (any lost update shows as a smaller
    value; without mutual exclusion the 2 ms hold makes losses
    near-certain)."""
    proc, sock = coordinator.serve_in_subprocess()
    try:
        wh = str(tmp_path / "wh")
        coordinator.enable(wh, sock)
        with open(os.path.join(wh, "counter.txt"), "w") as f:
            f.write("0")
        script = str(tmp_path / "incr.py")
        with open(script, "w") as f:
            f.write(_CHILD_INCR)
        workers = [
            subprocess.Popen([sys.executable, script, wh, "20"])
            for _ in range(4)
        ]
        for w in workers:
            assert w.wait(timeout=120) == 0
        with open(os.path.join(wh, "counter.txt")) as f:
            assert int(f.read()) == 80
    finally:
        proc.terminate()


def test_dead_holder_releases_lease(tmp_path):
    """A holder that crashes mid-critical-section (no close) must not
    wedge the catalog: the OS closes its socket and the server releases
    the scope — the flock-parity property a real REST catalog gets from
    lease expiry."""
    proc, sock = coordinator.serve_in_subprocess()
    try:
        script = str(tmp_path / "die.py")
        with open(script, "w") as f:
            f.write(_CHILD_DIE_HOLDING)
        child = subprocess.Popen(
            [sys.executable, script, sock], stdout=subprocess.PIPE, text=True
        )
        assert child.stdout.readline().strip() == "ACQUIRED"
        child.wait(timeout=30)
        # acquire after the holder's death — bounded wait, no recovery step
        t0 = time.monotonic()
        client = coordinator.CoordinatorClient(sock, scope="s", timeout=10)
        client.close()
        assert time.monotonic() - t0 < 10
    finally:
        proc.terminate()


def test_contention_is_exclusive_in_process(tmp_path):
    srv = coordinator.serve(str(tmp_path / "c.sock"))
    try:
        order: list[str] = []
        a = coordinator.CoordinatorClient(str(tmp_path / "c.sock"), "x")
        order.append("a-in")

        def contender():
            b = coordinator.CoordinatorClient(str(tmp_path / "c.sock"), "x")
            order.append("b-in")
            b.close()

        th = threading.Thread(target=contender)
        th.start()
        time.sleep(0.3)
        order.append("a-out")
        a.close()
        th.join(timeout=10)
        assert order == ["a-in", "a-out", "b-in"]
        # distinct scopes don't contend
        c = coordinator.CoordinatorClient(str(tmp_path / "c.sock"), "x")
        d = coordinator.CoordinatorClient(str(tmp_path / "c.sock"), "y")
        c.close()
        d.close()
    finally:
        srv.shutdown()


def test_commit_and_transaction_suites_green_against_shim(spark):
    """The real commit machinery — appends, snapshot lineage, the
    multi-table transaction conflict path — behaves identically when
    the warehouse's ``commit_section`` is served by the coordinator
    instead of flock (the seam swap changes no protocol code)."""
    proc, sock = coordinator.serve_in_subprocess()
    try:
        with tempfile.TemporaryDirectory() as d:
            coordinator.enable(d, sock)
            cat = LakeCatalog(spark, d)
            df = spark.createDataFrame([(1, "a0")], "k int, v string")
            ta = cat.create_table("a", df.schema)
            ta.append(df)
            ta.append(spark.createDataFrame([(2, "a1")], "k int, v string"))
            assert ta.read().count() == 2
            assert ta.current_version() == 1
            tb = cat.create_table("b", df.schema)
            tb.append(df)
            # transaction publish race: outside writer advances table a
            # between stage and publish → txn must abort, publish nothing
            txn = cat.transaction()
            txn.table("a").append(
                spark.createDataFrame([(3, "t1")], "k int, v string")
            )
            txn.table("b").append(
                spark.createDataFrame([(3, "t2")], "k int, v string")
            )
            LakeCatalog(spark, d).load("a").append(
                spark.createDataFrame([(9, "ext")], "k int, v string")
            )
            with pytest.raises(CommitConflictError):
                txn.commit()
            after = LakeCatalog(spark, d)
            assert {r.v for r in after.load("a").read().collect()} == {
                "a0", "a1", "ext",
            }
            assert after.load("b").read().count() == 1
            # a clean transaction through the shim publishes atomically
            txn2 = cat.transaction()
            txn2.table("a").append(
                spark.createDataFrame([(4, "t3")], "k int, v string")
            )
            txn2.table("b").append(
                spark.createDataFrame([(4, "t4")], "k int, v string")
            )
            txn2.commit()
            assert after.load("a").read().count() == 4
            assert after.load("b").read().count() == 2
    finally:
        proc.terminate()


def test_sql_call_routes_commits_through_coordinator(spark, tmp_path):
    """CALL system.set_commit_coordinator('<socket>') opts the engine's
    warehouse into the service; '' reverts to flock. Proven by running
    a DML commit while the coordinator is live and observing the
    warehouse config flip."""
    from fluss_iceberg_spark.engine import Engine

    srv = coordinator.serve(str(tmp_path / "c.sock"))
    try:
        eng = Engine(spark, warehouse=str(tmp_path / "wh"))
        res = eng.sql(
            f"CALL system.set_commit_coordinator('{tmp_path / 'c.sock'}')"
        ).collect()
        assert res[0].commit_coordinator.endswith("c.sock")
        assert coordinator.endpoint_for(str(tmp_path / "wh"))
        eng.sql("CREATE TABLE ct (k INT, v STRING, PRIMARY KEY (k) NOT ENFORCED)")
        eng.sql("INSERT INTO ct VALUES (1, 'a'), (2, 'b')")
        eng.sql("INSERT INTO ct VALUES (1, 'a2')")
        got = {r.k: r.v for r in eng.sql("SELECT * FROM ct").collect()}
        assert got == {1: "a2", 2: "b"}
        eng.sql("CALL system.set_commit_coordinator('')")
        assert coordinator.endpoint_for(str(tmp_path / "wh")) is None
    finally:
        srv.shutdown()
