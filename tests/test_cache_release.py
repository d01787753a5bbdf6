"""Cached and checkpointed blocks do not outlive their owner:
``util.materialized`` releases what it holds on every exit path,
``util.release_checkpoint`` frees a local checkpoint, and repeated
operator calls leave no cached blocks behind."""

from __future__ import annotations

import pytest

from fluss_iceberg_spark.operators.util import materialized, release_checkpoint


def _stored_rdd_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


@pytest.mark.parametrize("checkpoint", [False, True])
def test_materialized_releases_when_the_body_raises(spark, checkpoint):
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="body"):
        with materialized(spark.range(1000), checkpoint=checkpoint) as held:
            assert held.count() == 1000
            assert _persistent_rdd_ids(spark) - before
            assert _cache_manager_empty(spark) == checkpoint
            raise RuntimeError("body failed")
    assert _persistent_rdd_ids(spark) - before == set()
    assert _cache_manager_empty(spark)


def test_scd2_apply_leaves_nothing_cached(spark, tmp_path):
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.scd import scd2_apply

    schema = spark.createDataFrame(
        [], "k long, seg string, valid_from long, valid_to long, is_current boolean"
    ).schema
    t = LakeCatalog(spark, str(tmp_path / "wh")).create_table(
        "d", schema, primary_key=["k", "valid_from"], not_null=["k"]
    )
    batch = lambda rows: spark.createDataFrame(rows, "k long, seg string")  # noqa: E731
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    assert scd2_apply(t, batch([(1, "A"), (2, "B")]), 100, "k", ("seg",)) == 2
    assert scd2_apply(t, batch([(1, "X")]), 200, "k", ("seg",)) == 1
    assert _cache_manager_empty(spark)
    assert _persistent_rdd_ids(spark) - before == set()
    with pytest.raises(ValueError, match="not after"):
        scd2_apply(t, batch([(1, "Y")]), 200, "k", ("seg",))
    assert _cache_manager_empty(spark)
    assert _persistent_rdd_ids(spark) - before == set()
    assert t.read().count() == 3


def test_minhash_lsh_pairs_holds_only_its_result(spark):
    """Each call's shingle-set cache is gone when it returns; what stays
    is the returned pairs' own checkpoint, one per call."""
    from fluss_iceberg_spark.operators.dedup import minhash_lsh_pairs

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " today"), (3, "entirely different words in this one")],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    outs = [minhash_lsh_pairs(docs, 0.8) for _ in range(2)]
    try:
        assert _cache_manager_empty(spark)
        held = {_checkpoint_rdd_id(df) for df in outs}
        assert len(held) == 2
        assert _persistent_rdd_ids(spark) - before == held
        assert [sorted((r.d1, r.d2) for r in df.collect()) for df in outs] == [
            [(1, 2)], [(1, 2)]
        ]
    finally:
        for df in outs:
            release_checkpoint(df)


def test_release_checkpoint_frees_the_checkpoint_blocks(spark):
    cp = spark.range(1000).localCheckpoint(eager=True)
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in _stored_rdd_ids(spark)
    release_checkpoint(cp)
    assert rdd_id not in _stored_rdd_ids(spark)


def test_release_checkpoint_ignores_a_frame_without_checkpoint_rdd(spark):
    # the analyzed plan is a Range, which has no rdd(): a Py4JError
    release_checkpoint(spark.range(3))
    with pytest.raises(AttributeError):
        release_checkpoint(object())


def test_ahash_near_pairs_leaves_no_cached_rdds(spark):
    from fluss_iceberg_spark.operators.multimodal import ahash_near_pairs

    a, b = "01" * 32, "10" * 32
    near = "11" + a[2:]  # one bit from a
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, near), (4, b)], "doc_id long, ahash string"
    )
    before = _persistent_rdd_ids(spark)
    got = []
    for _ in range(2):
        pairs = ahash_near_pairs(df, max_hamming=6, n_bands=8)
        got.append(sorted(tuple(r) for r in pairs.collect()))
    assert _persistent_rdd_ids(spark) - before == set()
    assert got[0] == got[1] == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]
