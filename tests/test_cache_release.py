"""Cached and checkpointed blocks do not outlive their owner:
``util.release_checkpoint`` frees a local checkpoint, and repeated
``ahash_near_pairs`` calls leave no cached blocks behind."""

from __future__ import annotations

import pytest

from fluss_iceberg_spark.operators.util import release_checkpoint


def _stored_rdd_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


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
