"""REST catalog facade (lake/rest_catalog.py — the S18 catalog-service
role): a SECOND PROCESS with no engine code reads a committed table's
current snapshot through HTTP metadata + plain DuckDB parquet reads;
pointer CAS answers 409 on stale expectations and serializes through
the same commit section writers use; read-after-commit sees new data."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.rest_catalog import (
    RestCatalogServer,
    cas_commit,
    fetch_table,
    http_json,
)
from fluss_iceberg_spark.lake.table import LakeCatalog

READER = textwrap.dedent(
    """
    import json, sys, urllib.request
    import duckdb
    endpoint, table = sys.argv[1], sys.argv[2]
    with urllib.request.urlopen(f"{endpoint}/v1/tables/{table}") as r:
        doc = json.loads(r.read())
    files = doc["data-files"]
    n, s = duckdb.sql(
        "SELECT COUNT(*), COALESCE(SUM(v), 0) FROM read_parquet($f)", params={"f": files}
    ).fetchone()
    print(json.dumps({
        "version": doc["current-version"], "rows": int(n), "sum": int(s),
    }))
    """
)


def _reader(endpoint: str, table: str) -> dict:
    """The engine-free consumer process (imports: stdlib + duckdb)."""
    out = subprocess.run(
        [sys.executable, "-c", READER, endpoint, table],
        capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture()
def served(spark, tmp_path):
    wh = str(tmp_path / "rest_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    t = cat.create_table("events", df.schema)
    t.append(df)
    srv = RestCatalogServer(wh).start()
    yield cat, t, srv
    srv.stop()


def test_second_process_reads_current_snapshot(spark, served):
    cat, t, srv = served
    got = _reader(srv.endpoint, "events")
    assert got == {"version": 0, "rows": 100, "sum": 9900}


def test_read_after_commit_sees_new_snapshot(spark, served):
    """The reference's cross-engine loop (README.md:129-133): engine A
    commits, engine B refreshes through the catalog and sees it."""
    cat, t, srv = served
    assert _reader(srv.endpoint, "events")["rows"] == 100
    t.append(spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"))
    got = _reader(srv.endpoint, "events")
    assert got["version"] == 1 and got["rows"] == 150
    # time travel through the facade: the old snapshot stays addressable
    old = fetch_table(srv.endpoint, "events", version=0)
    assert old["snapshot-version"] == 0 and len(old["data-files"]) >= 1


def test_cas_commit_409_on_stale_expectation(spark, served):
    cat, t, srv = served
    t.append(spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"))
    assert t.current_version() == 1
    # stale expectation loses (the Iceberg REST CommitFailedException role)
    status, body = cas_commit(srv.endpoint, "events", expected=0, target=1)
    assert status == 409 and "v1" in body["error"]
    # correct expectation flips — here a ROLLBACK to snapshot 0 by CAS
    status, body = cas_commit(srv.endpoint, "events", expected=1, target=0)
    assert status == 200 and body["current-version"] == 0
    assert t.read().count() == 100  # the engine follows the flipped pointer
    assert _reader(srv.endpoint, "events")["rows"] == 100
    # pointers only move between EXISTING snapshots
    status, body = cas_commit(srv.endpoint, "events", expected=0, target=99)
    assert status == 400


def test_listing_config_and_name_guard(spark, served):
    cat, t, srv = served
    status, cfg = http_json(f"{srv.endpoint}/v1/config")
    assert status == 200 and cfg["warehouse"] == srv.warehouse
    status, listing = http_json(f"{srv.endpoint}/v1/tables")
    assert status == 200 and listing["identifiers"] == ["events"]
    status, _ = http_json(f"{srv.endpoint}/v1/tables/no_such")
    assert status == 404
    status, body = http_json(f"{srv.endpoint}/v1/tables/..")
    assert status in (400, 404)  # guard (or the client normalizes away)


def test_facade_cas_excludes_writer_commits(spark, tmp_path):
    """The facade's CAS takes the SAME commit section as every writer's
    pointer flip: while the facade holds it (via a coordinator service),
    a writer commit blocks. Proves the two entry points serialize, not
    just coexist."""
    import threading
    import time

    from fluss_iceberg_spark.lake import coordinator
    from fluss_iceberg_spark.lake.commit import commit_section

    wh = str(tmp_path / "serial_wh")
    cat = LakeCatalog(spark, wh)
    proc, sock = coordinator.serve_in_subprocess()
    try:
        coordinator.enable(wh, sock)
        df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
        t = cat.create_table("tser", df.schema)
        t.append(df)
        order: list[str] = []
        entered = threading.Event()

        def hold_section():
            with commit_section(wh):
                entered.set()
                time.sleep(1.5)
                order.append("facade-released")

        holder = threading.Thread(target=hold_section)
        holder.start()
        assert entered.wait(10)
        t.append(spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v"))
        order.append("writer-committed")
        holder.join()
        assert order == ["facade-released", "writer-committed"]
        assert t.read().count() == 20
    finally:
        proc.terminate()
        proc.join()


def test_facade_cas_excludes_writer_commits_flock_path(spark, tmp_path):
    """Same mutual-exclusion pin for the DEFAULT (no-coordinator) flock
    branch: the facade and table.py must agree on the lock file
    byte-for-byte, or CAS and writer flips silently stop excluding each
    other on every warehouse that never opted into a coordinator.
    (flock is per-open-file-description, so two holders in one process
    DO contend — this exercises the real lock, not a thread mutex.)"""
    import threading
    import time

    from fluss_iceberg_spark.lake.commit import commit_section

    wh = str(tmp_path / "flock_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
    t = cat.create_table("tf", df.schema)
    t.append(df)
    order: list[str] = []
    entered = threading.Event()

    def hold_section():
        with commit_section(wh):
            entered.set()
            time.sleep(1.5)
            order.append("facade-released")

    holder = threading.Thread(target=hold_section)
    holder.start()
    assert entered.wait(10)
    t.append(spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v"))
    order.append("writer-committed")
    holder.join()
    assert order == ["facade-released", "writer-committed"]
    assert t.read().count() == 20


def test_writer_commits_route_through_facade(spark, tmp_path):
    """With _catalog.json's rest-catalog opt-in, a table's pointer flip
    is POSTed to the catalog service instead of written by the writer —
    proven by pointing the warehouse at a DEAD endpoint (the commit must
    fail loudly, so routing is engaged, and the staged snapshot is
    cleaned up) and then at the live facade (commits succeed end-to-end
    and a plain reader sees them)."""
    from fluss_iceberg_spark.lake import rest_catalog as rc

    wh = str(tmp_path / "routed_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
    t = cat.create_table("ev", df.schema)
    t.append(df)  # v0: direct (no opt-in yet)
    srv = RestCatalogServer(wh).start()
    try:
        rc.enable_for_writers(wh, "http://127.0.0.1:9")  # dead endpoint
        with pytest.raises(RuntimeError, match="failed committing"):
            t.append(spark.range(50, 60).selectExpr("id AS k", "id * 2 AS v"))
        assert t.current_version() == 0  # determinate: commit did not land
        import os
        meta = os.listdir(os.path.join(wh, "ev", "meta"))
        assert not any(m.startswith("rest-v") for m in meta), (
            "failed routed commit must consume its staged snapshot"
        )
        assert "v1.json" not in meta, "no phantom public snapshot"
        rc.enable_for_writers(wh, srv.endpoint)  # live facade
        t.append(spark.range(50, 60).selectExpr("id AS k", "id * 2 AS v"))
        assert t.current_version() > 0
        assert t.read().count() == 60
        assert _reader(srv.endpoint, "ev")["rows"] == 60
        # a CAS rejection surfaces as the engine's CommitConflictError
        from fluss_iceberg_spark.lake import table as tbl
        orig = rc.cas_commit
        try:
            rc.cas_commit = lambda *a, **k: (409, {"error": "stale"})
            with pytest.raises(tbl.CommitConflictError):
                t.append(spark.range(60, 70).selectExpr("id AS k", "id * 2 AS v"))
        finally:
            rc.cas_commit = orig
        # and the loser's staged snapshot is gone; a retry then lands
        t.append(spark.range(60, 70).selectExpr("id AS k", "id * 2 AS v"))
        assert t.read().count() == 70
    finally:
        srv.stop()


def test_txn_publish_coexists_with_facade_routing(spark, tmp_path):
    """Multi-table transactions on a facade-enabled warehouse route
    their whole publish through /v1/transactions/commit (single-table
    commits POST their CAS; both take the same section, so the entry
    points serialize). The facade consumes every staged txn-v{N}.json
    at publish time."""
    import os

    from fluss_iceberg_spark.lake import rest_catalog as rc

    wh = str(tmp_path / "txnfac_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
    a = cat.create_table("ta", df.schema)
    b = cat.create_table("tb", df.schema)
    srv = RestCatalogServer(wh).start()
    try:
        rc.enable_for_writers(wh, srv.endpoint)
        with cat.transaction() as txn:
            txn.table("ta").append(df)
            txn.table("tb").append(df)
        assert a.read().count() == 10 and b.read().count() == 10
        for name in ("ta", "tb"):
            meta = os.listdir(os.path.join(wh, name, "meta"))
            assert not any(m.startswith("txn-v") for m in meta)
        assert not os.path.isdir(os.path.join(wh, "_txn")) or not os.listdir(
            os.path.join(wh, "_txn")
        )
        a.append(df)  # routed single-table commit after the txn
        assert a.read().count() == 20 and a.current_version() == 1
    finally:
        srv.stop()


def test_txn_via_facade_conflict_and_transport_failure(spark, tmp_path):
    """The routed transaction publish fails determinately: a 409 from
    the facade aborts the whole transaction (no table advanced, staged
    names cleaned); a transport error with the request never applied
    resolves to a determinate RuntimeError; a transport error AFTER the
    facade applied resolves to success (response-lost case)."""
    import os

    from fluss_iceberg_spark.lake import rest_catalog as rc
    from fluss_iceberg_spark.lake import table as tbl

    wh = str(tmp_path / "txnfail_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
    a = cat.create_table("fa", df.schema)
    b = cat.create_table("fb", df.schema)
    srv = RestCatalogServer(wh).start()
    orig = rc.commit_transaction
    try:
        rc.enable_for_writers(wh, srv.endpoint)

        # 1) facade 409 → whole txn aborts, neither table advances
        rc.commit_transaction = lambda *args, **kw: (409, {"error": "stale"})
        with pytest.raises(tbl.CommitConflictError):
            with cat.transaction() as txn:
                txn.table("fa").append(df)
                txn.table("fb").append(df)
        rc.commit_transaction = orig
        assert a.current_version() == -1 and b.current_version() == -1
        for name in ("fa", "fb"):
            meta = os.listdir(os.path.join(wh, name, "meta"))
            assert not any(m.startswith(("txn-v", "v")) for m in meta if m.endswith(".json") and m != "table.json"), meta

        # 2) transport error, request never reached the facade →
        # determinate failure, staged names consumed
        def _dead(*args, **kw):
            raise OSError("connection refused")

        rc.commit_transaction = _dead
        with pytest.raises(RuntimeError, match="no table advanced"):
            with cat.transaction() as txn:
                txn.table("fa").append(df)
                txn.table("fb").append(df)
        rc.commit_transaction = orig
        assert a.current_version() == -1 and b.current_version() == -1

        # 3) facade applied, response lost → resolved as SUCCESS
        def _applied_then_lost(endpoint, changes):
            orig(endpoint, changes)
            raise OSError("response lost")

        rc.commit_transaction = _applied_then_lost
        with cat.transaction() as txn:
            txn.table("fa").append(df)
            txn.table("fb").append(df)
        assert a.read().count() == 10 and b.read().count() == 10
        assert a.current_version() == 0 and b.current_version() == 0
    finally:
        rc.commit_transaction = orig
        srv.stop()


def test_cas_resolution_applied_then_advanced(spark, tmp_path):
    """ADVICE r8 (medium): a routed single-table commit whose CAS
    APPLIED but whose response was lost, followed by a concurrent
    commit advancing the pointer before the client resolves, must be
    reported as SUCCESS (staged name consumed + public snapshot
    present), never as a determinate failure inviting a double-apply
    retry."""
    import os

    from fluss_iceberg_spark.lake import rest_catalog as rc

    wh = str(tmp_path / "casadv_wh")
    cat = LakeCatalog(spark, wh)
    df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
    t = cat.create_table("tc", df.schema)
    t.append(df)  # v0 direct
    srv = RestCatalogServer(wh).start()
    orig = rc.cas_commit
    try:
        rc.enable_for_writers(wh, srv.endpoint)

        def _applied_advanced_lost(endpoint, name, expected, target):
            status, body = orig(endpoint, name, expected, target)
            assert status == 200
            # a concurrent writer lands v{target+1} before resolution:
            # simulate with a pointer-visible published snapshot
            meta = os.path.join(wh, "tc", "meta")
            os.link(
                os.path.join(meta, f"v{target}.json"),
                os.path.join(meta, f"v{target + 1}.json"),
            )
            with open(os.path.join(meta, "VERSION.t"), "w") as f:
                f.write(str(target + 1))
            os.replace(
                os.path.join(meta, "VERSION.t"), os.path.join(meta, "VERSION")
            )
            raise OSError("response lost")

        rc.cas_commit = _applied_advanced_lost
        t.append(spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v"))
        # no exception: the commit is acknowledged as applied
        assert t.current_version() == 2  # the "concurrent" advance
        assert os.path.exists(os.path.join(wh, "tc", "meta", "v1.json"))
    finally:
        rc.cas_commit = orig
        srv.stop()
