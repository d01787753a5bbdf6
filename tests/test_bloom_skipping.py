"""Bloom-filter file skipping (``write.bloom-columns``): equality
pruning on HIGH-cardinality columns where lexicographic min/max bounds
span the domain and value sets (cap 64) refuse to record."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.manifest import _BLOOM_K_V2, _bloom_of, _bloom_positions, _file_may_match
from fluss_iceberg_spark.lake.table import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.StringType(), True),
    ]
)


def _rows(shard: int, n: int = 200):
    # interleaved lexicographic codes: every file's [min,max] spans nearly
    # the whole domain, so bounds can never prune; 200 distincts/file
    # exceeds the value-set cap — blooms are the only pruning lever
    return [
        (shard * 1000 + i, f"req-{i:04d}-{shard:02d}") for i in range(n)
    ]


def _make(spark, d):
    t = LakeCatalog(spark, d).create_table(
        "blooms", SCHEMA, properties={"write.bloom-columns": "code,id"}
    )
    for shard in range(3):
        t.append(spark.createDataFrame(_rows(shard), SCHEMA))
    return t


def test_bloom_prunes_to_single_file(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _make(spark, d)
        snap = t.snapshot()
        assert all("blooms" in m for m in snap.file_meta.values())
        assert len(snap.files) >= 3
        # a value present in exactly one shard
        touched = t.plan_scan(where=[("code", "=", "req-0007-01")])
        assert len(touched) < len(snap.files)
        got = t.read(where=[("code", "=", "req-0007-01")]).collect()
        assert [(r.id, r.code) for r in got] == [(1007, "req-0007-01")]


def test_bloom_absent_value_scans_nothing(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _make(spark, d)
        assert t.plan_scan(where=[("code", "=", "req-9999-99")]) == []
        assert t.read(where=[("code", "=", "req-9999-99")]).count() == 0


def test_bloom_on_integer_column(spark):
    with tempfile.TemporaryDirectory() as d:
        t = _make(spark, d)
        # ids are disjoint ranges so bounds ALSO prune; assert bloom is
        # consulted via a value inside every file's bounds-gap... use
        # plan_scan equivalence instead: present value → >=1 file,
        # absent value inside global range → bloom prunes where bounds
        # cannot (1500 is in no file but inside [0, 2199])
        assert t.plan_scan(where=[("id", "=", 1500)]) == []
        assert len(t.plan_scan(where=[("id", "=", 1007)])) >= 1


def test_bloom_never_false_negative(spark):
    """Every written value must pass its own file's bloom (completeness:
    pruning is only ever sound, never lossy)."""
    with tempfile.TemporaryDirectory() as d:
        t = _make(spark, d)
        for shard in range(3):
            for i in (0, 99, 199):
                code = f"req-{i:04d}-{shard:02d}"
                rows = t.read(where=[("code", "=", code)]).collect()
                assert len(rows) == 1 and rows[0].code == code


def test_non_equality_predicates_ignore_bloom(spark):
    meta = {"blooms": {"code": "0"}}  # empty bloom: nothing present
    # range ops never consult the bloom (no stats either → keep file)
    assert _file_may_match(meta, "code", ">", "a") is True
    assert _file_may_match(meta, "code", "=", "a") is False


def test_bloom_positions_deterministic_and_typed():
    assert _bloom_positions("x") == _bloom_positions("x")
    assert _bloom_positions(7) == _bloom_positions(7)
    assert _bloom_positions("7") == _bloom_positions(7)  # canon: str(int)
    assert _bloom_positions(1.5) is None  # floats excluded by design
    assert _bloom_positions(True) is None  # bools excluded


def _bloom_from_positions(values: list, m: int) -> str:
    buf = bytearray(m // 8)
    for v in values:
        for p in _bloom_positions(v, m=m, k=_BLOOM_K_V2):
            buf[p >> 3] |= 1 << (p & 7)
    return f"{int.from_bytes(buf, 'little'):x}"


# (distinct values, the filter size they get): every size from the 2048-bit
# floor to the 2^21-bit cap, and past the cap
@pytest.mark.parametrize("n,m", [(1, 2048)] + [(64 << i, 2048 << i) for i in range(11)] + [(70_000, 1 << 21)])
def test_bloom_of_matches_probe_positions(n, m):
    rng = random.Random(n)
    ints = [rng.getrandbits(63) - (1 << 62) for _ in range(n - n // 2)]
    values = ints + [f"key-{rng.getrandbits(40)}" for _ in range(n // 2)]
    assert _bloom_of(values) == {"m": m, "k": _BLOOM_K_V2, "bits": _bloom_from_positions(values, m)}


@pytest.mark.parametrize("values", [[], [None], [1, 2.5], ["a", True], [1, "b", None]])
def test_bloom_of_none_without_only_bloomable_values(values):
    assert _bloom_of(values) is None
