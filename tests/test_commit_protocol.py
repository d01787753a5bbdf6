"""The shared commit protocol (lake/commit.py) under injected faults.

A multi-table publish runs the same ``publish_txn`` in-process
(CatalogTransaction) and behind the REST catalog facade. An OSError at
any durable step — linking the second table's snapshot, writing the
intent, either VERSION flip, dropping the staged names — must leave
both tables all-before or all-after once a catalog reopens, every
pointer on an existing snapshot, and the warehouse able to commit
again. A single-table commit gets the same treatment at each of its
durable steps: the snapshot's exclusive create, the ``VERSION`` flip, a
branch commit's ``refs.json`` write and ``fast_forward``'s flip. Also
pins the one table-name rule both entry points apply."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import types as T

from fluss_iceberg_spark.lake import rest_catalog as rc
from fluss_iceberg_spark.lake.table import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

# step -> (os function, predicate on (warehouse, target path), outcome)
STEPS = {
    "link_second": (
        "link",
        lambda wh, p: p.startswith(os.path.join(wh, "pb", "meta", "v")),
        "before",
    ),
    "intent": (
        "replace",
        lambda wh, p: p.startswith(os.path.join(wh, "_txn") + os.sep),
        "before",
    ),
    "flip_first": (
        "replace",
        lambda wh, p: p == os.path.join(wh, "pa", "meta", "VERSION"),
        "after",
    ),
    "flip_second": (
        "replace",
        lambda wh, p: p == os.path.join(wh, "pb", "meta", "VERSION"),
        "after",
    ),
    "drop_staged": (
        "remove",
        lambda wh, p: os.path.basename(p).startswith("txn-v"),
        "after",
    ),
}


@contextmanager
def _failing(fn_name: str, hit):
    """``os.<fn_name>`` raises OSError whenever ``hit(target)`` holds —
    the target being the destination of link/replace, the path of
    remove. The facade serves from a thread of this process, so both
    routes run into the same fault."""
    real = getattr(os, fn_name)

    def flaky(*args, **kw):
        target = os.fspath(args[0] if fn_name == "remove" else args[1])
        if hit(target):
            raise OSError(f"injected {fn_name} failure on {target}")
        return real(*args, **kw)

    setattr(os, fn_name, flaky)
    try:
        yield
    finally:
        setattr(os, fn_name, real)


def _rows(spark, v: str):
    return spark.createDataFrame([(1 if v.endswith("0") else 2, v)], SCHEMA)


def _pointer_ok(tpath: str) -> bool:
    vf = os.path.join(tpath, "meta", "VERSION")
    with open(vf) as f:
        v = int(f.read().strip())
    return os.path.exists(os.path.join(tpath, "meta", f"v{v}.json"))


@pytest.mark.parametrize("route", ["local", "facade"])
@pytest.mark.parametrize("step", list(STEPS))
def test_publish_survives_fault(spark, tmp_path, route, step):
    wh = str(tmp_path / "wh")
    cat = LakeCatalog(spark, wh)
    for name in ("pa", "pb"):
        cat.create_table(name, SCHEMA).append(_rows(spark, f"{name}0"))
    srv = None
    if route == "facade":
        srv = rc.RestCatalogServer(wh).start()
        rc.enable_for_writers(wh, srv.endpoint)
    try:
        txn = cat.transaction()
        txn.table("pa").append(_rows(spark, "pa1"))
        txn.table("pb").append(_rows(spark, "pb1"))
        fn_name, hit, outcome = STEPS[step]
        with _failing(fn_name, lambda p: hit(wh, p)):
            try:
                txn.commit()
            except (OSError, RuntimeError):
                pass  # a pre-intent failure may surface; its effect is checked below

        after = LakeCatalog(spark, wh)
        want = 1 if outcome == "before" else 2
        for name in ("pa", "pb"):
            assert after.load(name).read().count() == want, (name, outcome)
            assert _pointer_ok(os.path.join(wh, name))
        intents = os.path.join(wh, "_txn")
        assert not os.path.isdir(intents) or os.listdir(intents) == []

        with after.transaction() as txn2:
            txn2.table("pa").append(_rows(spark, "pa2"))
            txn2.table("pb").append(_rows(spark, "pb2"))
        for name in ("pa", "pb"):
            assert after.load(name).read().count() == want + 1
            assert _pointer_ok(os.path.join(wh, name))
    finally:
        if srv is not None:
            srv.stop()


def _append_main(t, df):
    t.append(df)


def _append_branch(t, df):
    with t.on_branch("b"):
        t.append(df)


def _publish_branch(t, df):
    t.fast_forward("b")


def _meta(tpath: str, name: str) -> str:
    return os.path.join(tpath, "meta", name)


# step -> (os function, predicate on (table path, target), the commit, the
# ref it moves); every single-table step fails before its commit point
SINGLE_STEPS = {
    "snapshot_create": (
        "link",
        lambda tp, p: os.path.dirname(p) == os.path.join(tp, "meta")
        and os.path.basename(p).startswith("v")
        and p.endswith(".json"),
        _append_main,
        None,
    ),
    "version_flip": (
        "replace", lambda tp, p: p == _meta(tp, "VERSION"), _append_main, None,
    ),
    "branch_refs": (
        "replace", lambda tp, p: p == _meta(tp, "refs.json"), _append_branch, "b",
    ),
    "fast_forward_flip": (
        "replace", lambda tp, p: p == _meta(tp, "VERSION"), _publish_branch, None,
    ),
}


# branch commits and fast_forward never route through the facade
@pytest.mark.parametrize(
    "step,route",
    [(s, "local") for s in SINGLE_STEPS]
    + [("snapshot_create", "facade"), ("version_flip", "facade")],
)
def test_single_table_commit_survives_fault(spark, tmp_path, step, route):
    wh = str(tmp_path / "wh")
    t = LakeCatalog(spark, wh).create_table("t", SCHEMA)
    t.append(_rows(spark, "t0"))
    t.create_branch("b")
    with t.on_branch("b"):
        t.append(_rows(spark, "b1"))
    srv = None
    if route == "facade":
        srv = rc.RestCatalogServer(wh).start()
        rc.enable_for_writers(wh, srv.endpoint)
    try:
        _fault_then_commit(spark, wh, t, step)
    finally:
        if srv is not None:
            srv.stop()


def _fault_then_commit(spark, wh, t, step):
    fn_name, hit, act, ref = SINGLE_STEPS[step]
    before = t.read(version=ref).count()
    versions = t.snapshot_versions()
    df = _rows(spark, "t1")
    with _failing(fn_name, lambda p: hit(t.path, p)):
        # the facade reports the fault as HTTP 500, the client as RuntimeError
        with pytest.raises((OSError, RuntimeError), match="injected"):
            act(t, df)

    after = LakeCatalog(spark, wh).load("t")
    # exactly the pre-commit state: the same rows at the ref, and no
    # snapshot of the failed commit left for time travel to find
    assert after.read(version=ref).count() == before
    assert after.snapshot_versions() == versions
    assert _pointer_ok(t.path)
    assert os.path.exists(_meta(t.path, f"v{after.branches()['b']}.json"))

    act(after, df)
    want = after.read(version="b").count() if step == "fast_forward_flip" else before + 1
    assert after.read(version=ref).count() == want
    assert _pointer_ok(t.path)
    after.append(_rows(spark, "t2"))
    assert after.read().count() == (want if ref is None else 1) + 1


BAD_NAMES = ["", ".", "..", "a/b", "a\\b", "../x", "/abs", "x/"]


def test_one_table_name_rule(spark, tmp_path):
    """The engine's catalog and the facade reject the same names."""
    wh = str(tmp_path / "names_wh")
    cat = LakeCatalog(spark, wh)
    cas_body = {"requirements": {"expected-version": -1}, "updates": {"set-current-version": 0}}
    for name in BAD_NAMES:
        with pytest.raises(ValueError, match="invalid table name"):
            cat.table_path(name)
        with pytest.raises(rc._BadRequest, match="invalid table name"):
            rc._table_doc(wh, name)
        with pytest.raises(rc._BadRequest, match="invalid table name"):
            rc._cas_commit(wh, name, cas_body)
        with pytest.raises(rc._BadRequest, match="invalid table name"):
            rc._txn_commit(wh, {"table-changes": [{"name": name, **cas_body}]})
    assert cat.table_path("a.b-c") == os.path.join(wh, "a.b-c")
    srv = rc.RestCatalogServer(wh).start()
    try:
        for name in (".", "..", "a\\b"):
            status, _ = rc.http_json(f"{srv.endpoint}/v1/tables/{name}")
            assert status == 400, name
            status, _ = rc.cas_commit(srv.endpoint, name, expected=-1, target=0)
            assert status == 400, name
    finally:
        srv.stop()
