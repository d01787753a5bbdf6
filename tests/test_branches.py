"""Branch refs + write-audit-publish (the Iceberg branch / spark.wap.branch
role): branch commits advance the branch ref while main's VERSION pointer
stays put; fast_forward publishes; expiry protects branch heads and main's
current snapshot.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeCatalog


@pytest.fixture()
def t(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = cat.create_table("b", df.schema)
    t.append(df)  # v0
    return t


def test_write_audit_publish_roundtrip(spark, t):
    main_v = t.current_version()
    t.create_branch("audit")
    extra = spark.createDataFrame([(100, 200), (101, 202)], "k int, v long")
    with t.on_branch("audit"):
        t.append(extra)  # branch commit
        # inside the branch scope, reads see the staged rows (audit step)
        assert t.read().count() == 12
    # main unchanged until publish
    assert t.current_version() == main_v
    assert t.read().count() == 10
    assert t.branches()["audit"] == main_v + 1
    # read the branch by ref without entering the scope
    assert t.read(version="audit").count() == 12
    # publish
    t.fast_forward("audit")
    assert t.read().count() == 12
    assert t.current_version() == main_v + 1


def test_branch_interleaves_with_main_commits(spark, t):
    t.create_branch("wip")
    with t.on_branch("wip"):
        t.append(spark.createDataFrame([(50, 1)], "k int, v long"))  # v1 (branch)
    # a main commit AFTER the branch commit gets a fresh snapshot id
    t.append(spark.createDataFrame([(60, 2)], "k int, v long"))
    assert t.current_version() > t.branches()["wip"] or \
        t.current_version() not in (t.branches()["wip"],)
    # both lineages read consistently
    assert t.read().count() == 11                  # main: base 10 + 1
    assert t.read(version="wip").count() == 11     # branch: base 10 + 1
    # branch fell behind main -> publish refuses (not a fast-forward)
    with pytest.raises(ValueError, match="fast-forward"):
        t.fast_forward("wip")


def test_history_shows_recorded_lineage(spark, t):
    """$history reports the parent each snapshot chained from — the one
    $snapshots shows — not the previous id: main's v2 follows v0 past the
    branch commit v1."""
    t.create_branch("wip")
    with t.on_branch("wip"):
        t.append(spark.createDataFrame([(50, 1)], "k int, v long"))  # v1
    t.append(spark.createDataFrame([(60, 2)], "k int, v long"))  # v2
    snaps = {r.snapshot_id: r.parent_id for r in t.snapshots().collect()}
    hist = {r.snapshot_id: r.parent_id for r in t.history().collect()}
    assert snaps == {0: None, 1: 0, 2: 0}
    assert hist == snaps


def test_branch_guards_and_expiry(spark, t):
    t.create_branch("keep")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("keep")
    t.create_tag("rel")
    with pytest.raises(ValueError, match="already a tag"):
        t.create_branch("rel")
    with pytest.raises(ValueError, match="already a branch"):
        t.create_tag("keep")
    with t.on_branch("keep"):
        for i in range(2):
            t.append(spark.createDataFrame([(200 + i, 0)], "k int, v long"))
    head = t.branches()["keep"]
    # several more main commits, then expire aggressively
    for i in range(2):
        t.append(spark.createDataFrame([(300 + i, 0)], "k int, v long"))
    res = t.expire_snapshots(keep_last=1)
    # branch head, tag, and main current all survive
    assert head not in res["expired_snapshots"]
    assert t.read(version="keep").count() == 12
    assert t.read().count() == 12  # main: 10 + 2 main appends
    t.drop_branch("keep")
    with pytest.raises(ValueError, match="unknown"):
        t.read(version="keep")


def test_pk_branch_merge(spark, tmp_path):
    """WAP over the PK merge path: staged upserts invisible until publish."""
    cat = LakeCatalog(spark, str(tmp_path / "whpk"))
    df = spark.range(6).select(
        F.col("id").cast("int").alias("k"), F.col("id").alias("v")
    )
    t = cat.create_table("pkb", df.schema, primary_key=["k"])
    t.merge(df)
    t.create_branch("stage")
    with t.on_branch("stage"):
        t.merge(spark.createDataFrame([(2, 999), (10, 10)], "k int, v long"))
        got = {r.k: r.v for r in t.read().collect()}
        assert got[2] == 999 and 10 in got
    got_main = {r.k: r.v for r in t.read().collect()}
    assert got_main[2] == 2 and 10 not in got_main
    t.fast_forward("stage")
    got_pub = {r.k: r.v for r in t.read().collect()}
    assert got_pub[2] == 999 and got_pub[10] == 10


def test_fast_forward_refuses_nondescendant_higher_id(spark, t):
    """Snapshot ids are global across refs, so a branch commit can carry
    a HIGHER id than a main commit it never saw — publishing by id
    comparison alone would silently discard the main rows. fast_forward
    must walk ancestry, not compare ids."""
    t.create_branch("wip")
    with t.on_branch("wip"):
        t.append(spark.createDataFrame([(50, 1)], "k int, v long"))
    t.append(spark.createDataFrame([(60, 2)], "k int, v long"))  # main
    with t.on_branch("wip"):
        t.append(spark.createDataFrame([(51, 1)], "k int, v long"))
    assert t.branches()["wip"] > t.current_version()  # id alone says "ahead"
    with pytest.raises(ValueError, match="descend"):
        t.fast_forward("wip")
    # main rows intact, branch untouched
    assert t.read().count() == 11
    assert t.read(version="wip").count() == 12


def test_fast_forward_after_main_catches_up(spark, t):
    """Publish works when main IS an ancestor of the branch head."""
    t.create_branch("ok")
    with t.on_branch("ok"):
        t.append(spark.createDataFrame([(70, 1)], "k int, v long"))
        t.append(spark.createDataFrame([(71, 1)], "k int, v long"))
    t.fast_forward("ok")
    assert t.read().count() == 12


def test_sql_wap_roundtrip(spark, tmp_path):
    """Full write-audit-publish through SQL alone: CALL create_branch →
    INSERT INTO ... BRANCH → audit via VERSION AS OF 'branch' →
    CALL fast_forward → main sees the rows."""
    from fluss_iceberg_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "whsql"))
    df = spark.createDataFrame([(1, 10)], "k int, v long")
    t = eng.create_table("wap_t", df.schema)
    t.append(df)
    eng.sql("CALL create_branch(wap_t, audit)")
    eng.sql("INSERT INTO wap_t BRANCH audit VALUES (2, 20)")
    assert eng.sql("SELECT COUNT(*) AS n FROM wap_t").collect()[0].n == 1
    got = eng.sql(
        "SELECT COUNT(*) AS n FROM wap_t VERSION AS OF 'audit'"
    ).collect()[0].n
    assert got == 2
    eng.sql("CALL fast_forward(wap_t, audit)")
    assert eng.sql("SELECT COUNT(*) AS n FROM wap_t").collect()[0].n == 2
    eng.sql("CALL drop_branch(wap_t, audit)")
    eng.sql("CALL create_tag(wap_t, published)")
    eng.sql("CALL drop_tag(wap_t, published)")


def test_expiry_preserves_branch_ancestry_for_publish(spark, t):
    """expire_snapshots must keep a branch's parent chain intact down to
    main's head — otherwise a legitimate fast_forward becomes
    unverifiable and the WAP pipeline wedges."""
    t.create_branch("staging")
    with t.on_branch("staging"):
        t.append(spark.createDataFrame([(50, 1)], "k int, v long"))
        t.append(spark.createDataFrame([(51, 1)], "k int, v long"))
    t.expire_snapshots(keep_last=1)
    # mid-chain branch snapshot survived; publish verifies and lands
    t.fast_forward("staging")
    assert t.read().count() == 12
