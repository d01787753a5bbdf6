"""Z-order clustering: Morton math, rectangle locality of written
files, and the pruning win over a linear sort on the non-leading
column."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators.zorder import (
    equidepth_bucket,
    interleave_bits,
    zorder_morton_local,
)


def test_morton_local_basics():
    assert zorder_morton_local(0, 0) == 0
    assert zorder_morton_local(1, 0, bits=4) == 2  # a in odd positions
    assert zorder_morton_local(0, 1, bits=4) == 1
    assert zorder_morton_local(0b11, 0b11, bits=4) == 0b1111
    # locality: diagonal neighbours stay adjacent on the curve
    assert zorder_morton_local(3, 3) - zorder_morton_local(2, 2) == 3


def test_spark_interleave_matches_local(spark):
    df = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8)], "a int, b int"
    )
    got = df.select(
        "a", "b", interleave_bits([F.col("a"), F.col("b")], 8).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == zorder_morton_local(r["a"], r["b"]), (r["a"], r["b"])


def test_equidepth_bucket_is_rank_based(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    # skewed boundaries: rank bucketing still spreads values
    out = df.select(
        equidepth_bucket(F.col("v"), [10.0, 50.0, 90.0]).alias("bk")
    ).groupBy("bk").count().collect()
    got = {r["bk"]: r["count"] for r in out}
    assert got == {0: 10, 1: 40, 2: 40, 3: 10}


def _prune_counts(spark, tmp_path, zorder: bool, op: str = "append"):
    """File counts of a full scan and of three range scans after ``op``
    writes the events. For ``overwrite``/``update`` the events are first
    appended with no layout property, then the property is set and the
    op rewrites every row, so the layout is the op's own."""
    from fluss_iceberg_spark.lake.table import LakeCatalog

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.pmod(F.col("id") * 7919, F.lit(1000))).alias("user_id"),
        (F.pmod(F.col("id") * 104729, F.lit(10_000)) / 100.0).alias("value"),
    )
    cat = LakeCatalog(spark, str(tmp_path / ("z" if zorder else "lin")))
    props = (
        {"write.zorder-by": "user_id,value", "write.cluster-partitions": "16"}
        if zorder
        else {"write.sort-order": "user_id", "write.cluster-partitions": "16"}
    )
    t = cat.create_table("ev", df.schema, properties=props if op == "append" else {})
    t.append(df)
    if op != "append":
        t.set_properties(props)
    if op == "overwrite":
        t.overwrite(df)
    elif op == "update":
        t.update({"value": "value"}, [("event_id", ">=", 0)])
    total = len(t.plan_scan())
    by_user = len(t.plan_scan([("user_id", ">=", 100), ("user_id", "<", 200)]))
    by_value = len(t.plan_scan([("value", ">=", 20.0), ("value", "<", 30.0)]))
    rect = len(
        t.plan_scan(
            [
                ("user_id", ">=", 100),
                ("user_id", "<", 200),
                ("value", ">=", 20.0),
                ("value", "<", 30.0),
            ]
        )
    )
    return total, by_user, by_value, rect, t


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    total, by_user, by_value, rect, _ = _prune_counts(spark, tmp_path, True)
    assert total >= 8
    # ~10% selectivity per dim: a z-layout must prune BOTH single dims
    assert by_user < total * 0.75, (by_user, total)
    assert by_value < total * 0.75, (by_value, total)
    assert rect <= min(by_user, by_value)


@pytest.mark.parametrize("op", ["overwrite", "update"])
def test_zorder_rewrites_keep_the_layout(spark, tmp_path, op):
    """Every write of a write.zorder-by table lays its files out on the
    curve, not only an append: an overwrite and a copy-on-write update
    of unclustered files both leave files that prune on both columns."""
    total, by_user, by_value, rect, _ = _prune_counts(spark, tmp_path, True, op)
    assert total >= 8
    assert by_user < total * 0.75, (by_user, total)
    assert by_value < total * 0.75, (by_value, total)
    assert rect <= min(by_user, by_value)


def test_linear_layout_cannot_prune_second_dim(spark, tmp_path):
    """The control: sort-order user_id prunes user ranges hard but
    keeps EVERY file for a value-range scan — the gap z-ordering closes."""
    total, by_user, by_value, _, _ = _prune_counts(spark, tmp_path, False)
    assert by_user <= total * 0.5
    assert by_value == total, (by_value, total)


def test_zorder_read_is_exact(spark, tmp_path):
    """Pruning must never change results: z-layout read == full filter."""
    _, _, _, _, t = _prune_counts(spark, tmp_path, True)
    where = [("user_id", ">=", 100), ("user_id", "<", 200)]
    pruned = t.read(where=where).agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    ).collect()[0]
    full = t.read().filter(
        (F.col("user_id") >= 100) & (F.col("user_id") < 200)
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")).collect()[0]
    assert (pruned["n"], pruned["s"]) == (full["n"], full["s"])


# --- BM25 (lives here to avoid a new spark-session file; zorder + bm25
# are the round's two index/layout operators) ---


def test_bm25_idf_and_saturation_math(spark):
    """Toy corpus with hand-checkable counts: doc 1 repeats 'a' (high tf,
    saturates), doc 2 mentions both terms once. idf must be the exact
    fixed-point ilog difference and scores must replay the rational
    saturation bit-for-bit."""
    from fluss_iceberg_spark.operators.text import bm25_scores, ilog2_local

    rows = [
        (1, "a a a a x"),
        (2, "a b x y"),
        (3, "x y z w"),
        (4, "x y z w v"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score_scaled"]
           for r in bm25_scores(df, ["a", "b"], top=10).collect()}
    n_docs, tl = 4, 18
    idf_a = ilog2_local(n_docs) - ilog2_local(2)  # 'a' in docs 1,2
    idf_b = ilog2_local(n_docs) - ilog2_local(1)  # 'b' in doc 2

    def sat(tf, dl):
        return (22 * tl * tf * 1000) // (10 * tl * tf + 3 * tl + 9 * dl * n_docs)

    assert got[1] == idf_a * sat(4, 5)
    assert got[2] == idf_a * sat(1, 4) + idf_b * sat(1, 4)
    assert 3 not in got and 4 not in got  # no query term -> no row
    # saturation: 4x the tf must score far less than 4x
    assert got[1] < 2 * idf_a * sat(1, 5)


def test_bm25_no_term_in_corpus_returns_empty(spark):
    """Contract guard (ADVICE r11): a query whose terms occur nowhere in
    the corpus must return an EMPTY frame with the (doc_id, score_scaled)
    schema, not crash on the empty stats collect."""
    from fluss_iceberg_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "x y z"), (2, "y z w")], "doc_id long, text string"
    )
    out = bm25_scores(df, ["nonexistent", "absent"], top=5)
    assert out.columns == ["doc_id", "score_scaled"]
    assert out.count() == 0


def test_zorder_by_property_validation(spark, tmp_path):
    """write.zorder-by must fail fast with a named error on a typo'd
    column or wrong arity (ADVICE r11): at CREATE (API and SQL ``WITH``),
    which then leaves no table behind and a refused replace keeps the old
    one, at ALTER, and a z-order column cannot be renamed or dropped away
    under the property."""
    from fluss_iceberg_spark.engine import Engine
    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    for props, frag in (
        ({"write.zorder-by": "a"}, "exactly two"),
        ({"write.zorder-by": "a,b,a"}, "exactly two"),
        ({"write.zorder-by": "a,typo"}, "typo"),
    ):
        name = f"zv_{len(props['write.zorder-by'])}_{frag.split()[0]}"
        with pytest.raises(ValueError, match=frag):
            cat.create_table(name, df.schema, properties=props)
        assert not os.path.exists(cat.table_path(name))
    t = cat.create_table("zv_ok", df.schema, properties={"write.zorder-by": "a,b"})
    t.append(df)
    with pytest.raises(ValueError, match="exactly two"):
        cat.create_table(
            "zv_ok", df.schema, properties={"write.zorder-by": "a"}, replace=True
        )
    assert cat.load("zv_ok").read().count() == 10
    eng = Engine(spark, str(tmp_path / "sql_wh"))
    with pytest.raises(ValueError, match="typo"):
        eng.sql("CREATE TABLE zv_sql (a BIGINT, b BIGINT) WITH ('write.zorder-by' = 'a,typo')")
    assert not eng.catalog.exists("zv_sql")
    with pytest.raises(ValueError, match="typo"):
        t.set_properties({"write.zorder-by": "a,typo"})
    assert cat.load("zv_ok").properties["write.zorder-by"] == "a,b"
    for change in (lambda: t.rename_column("b", "c"), lambda: t.drop_column("b")):
        with pytest.raises(ValueError, match="write.zorder-by"):
            change()


def test_rrf_fuse_arithmetic(spark):
    """Hand-checkable RRF: doc in both legs sums both reciprocals; a
    single-leg doc contributes one; absent rank reports 0; integer-exact
    1e6 // (60 + rank); ties broken by doc_id."""
    from fluss_iceberg_spark.operators.text import rrf_fuse

    bm = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rank int")
    cs = spark.createDataFrame([(10, 2), (12, 1)], "doc_id long, rank int")
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse([("bm25", bm), ("cos", cs)], k=60, top=10).collect()
    }
    r1, r2 = 1_000_000 // 61, 1_000_000 // 62
    assert rows[10]["rrf_scaled"] == r1 + r2
    assert rows[10]["bm25_rank"] == 1 and rows[10]["cos_rank"] == 2
    assert rows[11]["rrf_scaled"] == r2 and rows[11]["cos_rank"] == 0
    assert rows[12]["rrf_scaled"] == r1 and rows[12]["bm25_rank"] == 0
    # 11 and 12 differ in score (both single-leg, ranks 2 vs 1)
    assert rows[12]["rrf_scaled"] > rows[11]["rrf_scaled"]


def test_incremental_postings_index_only_delta(spark, tmp_path):
    """Incremental index maintenance must (a) index ONLY each commit's
    increment — tick 2's appended postings belong exclusively to delta
    docs — and (b) end bit-identical to a from-scratch rebuild."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.text import tokens

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a c c")],
        "doc_id long, text string",
    )
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    dt = cat.create_table("d", docs.schema)
    dt.append(docs.filter(F.col("doc_id") < 3))
    v0 = dt.current_version()
    dt.append(docs.filter(F.col("doc_id") == 3))
    v1 = dt.current_version()

    def postings(df):
        return (
            df.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok", "doc_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    base = postings(dt.incremental_read(-1, v0))
    pt = cat.create_table("p", base.schema)
    pt.append(base)
    pv0 = pt.current_version()
    pt.append(postings(dt.incremental_read(v0, v1)))
    # (a) tick 2 added exactly doc 3's postings
    tick2 = {
        (r["tok"], r["doc_id"], r["cnt"])
        for r in pt.incremental_read(pv0).collect()
    }
    assert tick2 == {("a", 3, 1), ("c", 3, 2)}
    # (b) maintained index == from-scratch rebuild
    maintained = {
        (r["tok"], r["doc_id"], r["cnt"]) for r in pt.read().collect()
    }
    scratch = {
        (r["tok"], r["doc_id"], r["cnt"]) for r in postings(docs).collect()
    }
    assert maintained == scratch
