"""Manifest file stats, min/max scan pruning, sorted compaction, and the
$files/$history metadata tables."""

from __future__ import annotations

import datetime
import decimal
import json
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.manifest import (
    _file_may_match,
    _stat_canon,
    _stat_decode,
    _stat_encode,
)
from fluss_iceberg_spark.lake.table import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("d", T.DateType(), True),
        T.StructField("price", T.DecimalType(15, 2), True),
        T.StructField("name", T.StringType(), True),
    ]
)


def _rows(lo: int, hi: int):
    return [
        (
            i,
            datetime.date(1995, 1, 1) + datetime.timedelta(days=i),
            decimal.Decimal(f"{i}.25"),
            f"name{i:04d}",
        )
        for i in range(lo, hi)
    ]


def test_commit_records_file_stats(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("stats", SCHEMA)
        t.append(spark.createDataFrame(_rows(0, 100), SCHEMA))
        snap = t.snapshot()
        assert snap.files and all(f in snap.file_meta for f in snap.files)
        total = sum(m["rows"] for m in snap.file_meta.values())
        assert total == 100
        # aggregate min/max across files covers the full key range
        ks = [m["stats"]["k"] for m in snap.file_meta.values() if "k" in m["stats"]]
        assert min(lo for lo, _ in ks) == 0 and max(hi for _, hi in ks) == 99
        # typed stats survive the JSON round trip
        m = snap.file_meta[snap.files[0]]
        assert _stat_decode(m["stats"]["d"][0]) == "1995-01-01" or isinstance(
            _stat_decode(m["stats"]["d"][0]), str
        )
        assert isinstance(_stat_decode(m["stats"]["price"][0]), decimal.Decimal)


def test_stats_carry_forward_on_append(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("carry", SCHEMA)
        t.append(spark.createDataFrame(_rows(0, 10), SCHEMA))
        first_meta = dict(t.snapshot().file_meta)
        t.append(spark.createDataFrame(_rows(10, 20), SCHEMA))
        snap = t.snapshot()
        for f, m in first_meta.items():
            assert snap.file_meta[f] == m  # carried, not recomputed


def test_pruned_read_is_exact(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("exact", SCHEMA)
        # three disjoint key-range appends → prunable layout
        for lo in (0, 100, 200):
            t.append(spark.createDataFrame(_rows(lo, lo + 100), SCHEMA))
        where = [("k", ">=", 150)]
        assert len(t.plan_scan(where)) < len(t.snapshot().files)
        got = sorted(r.k for r in t.read(where=where).collect())
        want = sorted(
            r.k for r in t.read().filter(F.col("k") >= 150).collect()
        )
        assert got == want
        # point lookup on a date column prunes to one slice
        day = datetime.date(1995, 1, 1) + datetime.timedelta(days=250)
        got = t.read(where=[("d", "=", day)]).collect()
        assert [r.k for r in got] == [250]
        # predicate selecting nothing returns empty but valid schema
        assert t.read(where=[("k", ">", 10_000)]).count() == 0


def test_sorted_compaction_tightens_pruning(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("sorted", SCHEMA)
        # interleaved appends: every file spans the whole key range,
        # so nothing can be pruned before the sorted rewrite
        for r in range(4):
            t.append(
                spark.createDataFrame(
                    [row for row in _rows(0, 400) if row[0] % 4 == r], SCHEMA
                ).coalesce(1)
            )
        where = [("k", ">=", 300)]
        assert len(t.plan_scan(where)) == len(t.snapshot().files)
        snap = t.compact(target_file_rows=100, sort_by=["k"])
        assert snap.operation == "compact" and snap.summary["sort_by"] == ["k"]
        assert len(snap.files) >= 3
        scanned = t.plan_scan(where)
        assert len(scanned) < len(snap.files)
        got = sorted(r.k for r in t.read(where=where).collect())
        assert got == list(range(300, 400))


def test_sort_by_rejected_on_pk_table(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table(
            "pksort", SCHEMA, primary_key=["k"], n_buckets=4
        )
        t.merge(spark.createDataFrame(_rows(0, 10), SCHEMA))
        with pytest.raises(ValueError, match="sort_by"):
            t.compact(sort_by=["k"])


def test_files_and_history_metadata_tables(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("meta", SCHEMA)
        t.append(spark.createDataFrame(_rows(0, 50), SCHEMA))
        t.append(spark.createDataFrame(_rows(50, 60), SCHEMA))
        files = t.files().collect()
        assert len(files) == len(t.snapshot().files)
        assert sum(r.record_count for r in files) == 60
        assert all(r.file_size_bytes > 0 for r in files)
        stats = json.loads(files[0].column_stats)
        assert "k" in stats and len(stats["k"]) == 2
        hist = t.history().orderBy("snapshot_id").collect()
        assert [r.snapshot_id for r in hist] == [0, 1]
        assert [r.is_current for r in hist] == [False, True]
        assert hist[1].parent_id == 0


def test_stat_predicate_algebra():
    meta = {"stats": {"k": [10, 20], "s": ["bbb", "ddd"]}}
    assert _file_may_match(meta, "k", "=", 15)
    assert not _file_may_match(meta, "k", "=", 9)
    assert not _file_may_match(meta, "k", ">", 20)
    assert _file_may_match(meta, "k", ">=", 20)
    assert not _file_may_match(meta, "k", "<", 10)
    assert _file_may_match(meta, "k", "<=", 10)
    assert _file_may_match(meta, "s", ">=", "ccc")
    assert not _file_may_match(meta, "s", ">", "ddd")
    # missing stats / missing meta / incomparable literal → never prune
    assert _file_may_match(meta, "other", "=", 1)
    assert _file_may_match(None, "k", "=", 1)
    assert _file_may_match(meta, "k", "=", "not-a-number")
    with pytest.raises(ValueError):
        _file_may_match(meta, "k", "!=", 1)
    # float literal vs decimal bounds: conservative under both exact and
    # engine (decimal→double cast) comparison semantics
    dec = {"stats": {"p": [_stat_encode(decimal.Decimal("1.10")), _stat_encode(decimal.Decimal("2.20"))]}}
    assert _file_may_match(dec, "p", "=", 2.2)
    assert not _file_may_match(dec, "p", ">", 2.2)
    # p < 1.1: exact compare keeps it (1.10 < float(1.1)'s binary value)
    # even though the double-cast view sees no match — conservative is
    # correct, pruning may only happen when BOTH views prove no match
    assert _file_may_match(dec, "p", "<", 1.1)
    # identical float literal/bound: equality must never be pruned away
    flt = {"stats": {"f": [0.5000052452087402, 0.5000052452087402]}}
    assert _file_may_match(flt, "f", "<=", 0.5000052452087402)
    assert _file_may_match(flt, "f", "=", 0.5000052452087402)
    assert _stat_canon(2.2) == 2.2


GRID = T.StructType(
    [
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)


def _grid_rows():
    # 32×32 grid in shuffled-ish insertion order (hash order, deterministic)
    cells = sorted(
        ((x, y) for x in range(32) for y in range(32)),
        key=lambda c: hash(c) % 9973,
    )
    return [(x, y, f"p{x}_{y}") for x, y in cells]


def test_zorder_prunes_on_every_listed_column(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = LakeCatalog(spark, d)
        tz = cat.create_table("gridz", GRID)
        tz.append(spark.createDataFrame(_grid_rows(), GRID).coalesce(1))
        ts = cat.create_table("grids", GRID)
        ts.append(spark.createDataFrame(_grid_rows(), GRID).coalesce(1))

        tz.compact(target_file_rows=64, zorder_by=["x", "y"])
        ts.compact(target_file_rows=64, sort_by=["x"])
        assert tz.snapshot().summary["zorder_by"] == ["x", "y"]
        nz, ns = len(tz.snapshot().files), len(ts.snapshot().files)
        assert nz >= 8 and ns >= 8

        for col in ("x", "y"):
            where = [(col, "=", 3)]
            got = sorted(
                (r.x, r.y) for r in tz.read(where=where).collect()
            )
            assert got == sorted(
                (3, y) if col == "x" else (x, 3)
                for x, y in [(3, v) if col == "x" else (v, 3) for v in range(32)]
            )
            # z-order keeps both columns' bounds tight → pruning on either
            assert len(tz.plan_scan(where)) < nz, f"zorder must prune on {col}"
        # the plain x-sort scatters y across every file: y-predicates
        # cannot prune there, which is exactly what z-ordering fixes
        assert len(ts.plan_scan([("y", "=", 3)])) == ns
        assert len(ts.plan_scan([("x", "=", 3)])) < ns


def test_zorder_rejects_mixed_with_sort(spark):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table("zmix", GRID)
        t.append(spark.createDataFrame(_grid_rows()[:10], GRID))
        with pytest.raises(ValueError, match="exclusive"):
            t.compact(sort_by=["x"], zorder_by=["y"])


def test_compression_codec_property(spark):
    with tempfile.TemporaryDirectory() as d:
        cat = LakeCatalog(spark, d)
        tz = cat.create_table(
            "zstd_t",
            SCHEMA,
            properties={"write.parquet.compression-codec": "zstd"},
        )
        tz.append(spark.createDataFrame(_rows(0, 20), SCHEMA))
        assert all(f.endswith(".zstd.parquet") for f in tz.snapshot().files)
        ts = cat.create_table(
            "snappy_t",
            SCHEMA,
            properties={"write.parquet.compression-codec": "snappy"},
        )
        ts.append(spark.createDataFrame(_rows(0, 20), SCHEMA))
        assert all(f.endswith(".snappy.parquet") for f in ts.snapshot().files)
        # codec follows the table through rewrites too
        tz.compact(target_file_rows=5, sort_by=["k"])
        assert all(f.endswith(".zstd.parquet") for f in tz.snapshot().files)
        assert sorted(r.k for r in tz.read().collect()) == list(range(20))


def test_clustered_append_prunes_to_time_slice(spark, tmp_path):
    """write.sort-order range-clusters appends so per-file min/max
    ranges are tight and disjoint: a one-slice predicate scans a small
    fraction of files instead of all of them."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from pyspark.sql import functions as F

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    rows = spark.range(10_000).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias("ts"),
        (F.col("id") % 7).alias("k"),
    )
    # shuffle the input so every incoming partition straddles the range
    scrambled = rows.repartition(8, "k")
    t = cat.create_table(
        "ev_clustered",
        rows.schema,
        properties={"write.sort-order": "ts", "write.cluster-partitions": "8"},
    )
    t.append(scrambled)
    all_files = t.plan_scan()
    assert len(all_files) >= 4  # range partitioning actually split the write
    import datetime as dt

    lo = dt.datetime(1970, 1, 1, 0, 30)
    hi = dt.datetime(1970, 1, 1, 1, 0)
    pruned = t.plan_scan([("ts", ">=", lo), ("ts", "<", hi)])
    assert len(pruned) < len(all_files) / 2  # 30 min of ~2.8 h total
    # exactness is preserved
    got = t.read(where=[("ts", ">=", lo), ("ts", "<", hi)]).count()
    assert got == 1800


def test_unclustered_append_unchanged(spark, tmp_path):
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from pyspark.sql import functions as F

    cat = LakeCatalog(spark, str(tmp_path / "wh2"))
    rows = spark.range(100).select(F.col("id").alias("a"))
    t = cat.create_table("plain_log", rows.schema)
    t.append(rows)
    assert t.read().count() == 100


def test_bad_cluster_spec_rejected(spark, tmp_path):
    """write.clustered-by was the one-column form of write.sort-order: a
    table that still carries it (an older table.json) refuses to write
    rather than write unclustered, and CREATE and ALTER refuse to set it;
    every error names write.sort-order."""
    import json
    import os

    from fluss_iceberg_spark.lake.table import LakeCatalog
    from pyspark.sql import functions as F
    import pytest as _pytest

    cat = LakeCatalog(spark, str(tmp_path / "wh3"))
    rows = spark.range(10).select(F.col("id").alias("a"))
    with _pytest.raises(ValueError, match="write.clustered-by .*write.sort-order"):
        cat.create_table(
            "bad_spec", rows.schema, properties={"write.clustered-by": "a"}
        )
    assert not cat.exists("bad_spec")
    cat.create_table("legacy_spec", rows.schema)
    meta_path = os.path.join(cat.table_path("legacy_spec"), "meta", "table.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["properties"]["write.clustered-by"] = "a"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with _pytest.raises(ValueError, match="write.clustered-by .*write.sort-order"):
        cat.load("legacy_spec").append(rows)
    t2 = cat.create_table("alter_spec", rows.schema)
    with _pytest.raises(ValueError, match="write.clustered-by .*write.sort-order"):
        t2.set_properties({"write.clustered-by": "a"})
    assert "write.clustered-by" not in cat.load("alter_spec").properties


def test_min_max_metadata_only(spark, tmp_path):
    """MIN/MAX aggregate pushdown to manifest bounds: exact values with
    zero data I/O; None when any file lacks bounds for the column."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from pyspark.sql import functions as F

    cat = LakeCatalog(spark, str(tmp_path / "whmm"))
    rows = spark.range(1, 1001).select(
        F.col("id").alias("a"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias("ts"),
    )
    t = cat.create_table("mm", rows.schema)
    t.append(rows)
    assert t.min_max("a") == (1, 1000)
    lo, hi = t.min_max("ts")
    assert lo.startswith("1970-01-01T00:00:01") and hi.startswith("1970-01-01T00:16:40")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.min_max("nope")


def test_min_max_string_falls_back_to_scan(spark, tmp_path):
    """Parquet writers truncate long string/binary footer stats, so the
    bound need not be a real table value — min_max must decline (return
    None) for those types rather than report a wrong 'exact' answer.
    Pruning keeps using the (still-valid) bounds."""
    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "whms"))
    rows = spark.createDataFrame([("x" * 200, 1), ("y" * 200, 2)], "s string, a int")
    t = cat.create_table("mms", rows.schema)
    t.append(rows)
    assert t.min_max("s") is None
    assert t.min_max("a") == (1, 2)


def test_lake_write_restores_timestamp_conf(spark, tmp_path):
    """Lake writes force INT64-micros timestamps for footer stats but must
    not leave that conf set session-wide (unrelated writes keep the
    session's own encoding)."""
    from fluss_iceberg_spark.lake.table import LakeCatalog
    from pyspark.sql import functions as F

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    cat = LakeCatalog(spark, str(tmp_path / "whtc"))
    rows = spark.range(5).select(
        F.col("id").alias("a"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias("ts"),
    )
    t = cat.create_table("tsc", rows.schema)
    t.append(rows)
    assert spark.conf.get(key) == before
    # and the lake file itself still carries INT64 stats (skipping works)
    assert t.min_max("ts") is not None


def test_value_set_pruning_beats_minmax(spark, tmp_path):
    """Files hold lex-scattered code values (src2+src7+src12+src17 in one
    batch): min/max keeps everything, value sets prune exactly."""
    from pyspark.sql import functions as F

    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.sources.tpch import load_table

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source"
    )
    t = cat.create_table(
        "d",
        docs.schema,
        properties={"write.value-set-columns": "source"},
    )
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    for i in range(5):
        t.append(docs.filter(src_num % 5 == i).coalesce(1))
    all_files = t.plan_scan()
    kept = t.plan_scan(where=[("source", "=", "src7")])
    # only batch i=2 (src2, src7, src12, src17) may contain src7
    assert len(kept) < len(all_files)
    for f in kept:
        vs = t.snapshot().file_meta[f]["value_sets"]["source"]
        assert "src7" in vs
    # a value absent everywhere prunes the whole table
    assert t.plan_scan(where=[("source", "=", "nope")]) == []
    # result stays exact through the pruned scan
    n = t.read(where=[("source", "=", "src7")]).count()
    expect = docs.filter(F.col("source") == "src7").count()
    assert n == expect


def test_value_set_cap_falls_back_to_bounds(spark, tmp_path):
    """A column with more distincts than the cap records no set and keeps
    min/max pruning semantics (conservative, never wrong)."""
    from pyspark.sql import functions as F

    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh2"))
    df = spark.range(200).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("code")
    )
    t = cat.create_table(
        "c", df.schema, properties={"write.value-set-columns": "code"}
    )
    t.append(df.coalesce(1))
    meta = t.snapshot().file_meta[t.plan_scan()[0]]
    assert "value_sets" not in meta or "code" not in meta.get("value_sets", {})
    assert t.read(where=[("code", "=", "v42")]).count() == 1


def test_write_sort_order_clusters_every_append(spark, tmp_path):
    """write.sort-order range-clusters each append: files carry
    near-disjoint [min,max] ranges immediately, so a narrow range scan
    prunes most files WITHOUT any compaction pass."""
    from pyspark.sql import functions as F

    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "sowh"))
    df = (
        spark.range(4000)
        .select((F.col("id") * 2654435761 % 4000).alias("k"), F.col("id").alias("v"))
        .repartition(8)  # thoroughly unsorted input
    )
    t = cat.create_table(
        "so", df.schema,
        properties={"write.sort-order": "k", "write.cluster-partitions": "8"}
    )
    t.append(df)
    all_files = t.plan_scan()
    assert len(all_files) > 1
    kept = t.plan_scan(where=[("k", ">=", 3500)])
    assert len(kept) < len(all_files) / 2, (len(kept), len(all_files))
    # exactness through the pruned scan
    assert t.read(where=[("k", ">=", 3500)]).count() == df.filter("k >= 3500").count()
    # a plain compaction keeps the sort order: unclustered files
    # compacted after the property is set come out range-clustered
    t3 = cat.create_table("so3", df.schema)
    t3.append(df)
    t3.set_properties({"write.sort-order": "k"})
    t3.compact(target_file_rows=500)
    all_files = t3.plan_scan()
    assert len(all_files) == 8
    kept = t3.plan_scan(where=[("k", ">=", 3500)])
    assert len(kept) < len(all_files) / 2, (len(kept), len(all_files))
    assert t3.read(where=[("k", ">=", 3500)]).count() == df.filter("k >= 3500").count()
    # unknown sort column fails loudly at CREATE
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in schema"):
        cat.create_table("so2", df.schema, properties={"write.sort-order": "nope"})


def test_pk_writes_one_file_per_touched_bucket(spark, tmp_path):
    """Merge (into an empty table and into a populated one), overwrite
    and compact of a PK table write through the one data-file writer:
    each bucket a write touches gets exactly one new file, whatever the
    partitioning of the input."""
    from collections import Counter

    from pyspark.sql import functions as F

    from fluss_iceberg_spark.lake import manifest
    from fluss_iceberg_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "pkb"))
    rows = spark.range(200).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(8)
    t = cat.create_table("pkb", rows.schema, primary_key=["k"], n_buckets=4)

    def new_files_per_bucket(before):
        added = [f for f in t.snapshot().files if f not in before]
        return Counter(manifest._bucket_of_path(f) for f in added)

    t.merge(rows)
    assert new_files_per_bucket(set()) == {b: 1 for b in range(4)}
    before = set(t.snapshot().files)
    snap = t.merge(rows.filter("k < 3"))
    assert new_files_per_bucket(before) == {
        b: 1 for b in snap.summary["touched_buckets"]
    }
    for op in (lambda: t.overwrite(rows), lambda: t.compact()):
        before = set(t.snapshot().files)
        op()
        assert new_files_per_bucket(before) == {b: 1 for b in range(4)}
        assert len(t.snapshot().files) == 4
    assert t.read().count() == 200


def test_in_predicate_algebra():
    """op='in' keeps a file iff ANY member may match — across min/max
    bounds, exact value sets, and bloom filters (legacy and adaptive
    forms)."""
    bounds = {"stats": {"k": [_stat_encode(10), _stat_encode(20)]}}
    assert _file_may_match(bounds, "k", "in", [1, 15, 99])
    assert not _file_may_match(bounds, "k", "in", [1, 2, 99])
    assert not _file_may_match(bounds, "k", "in", [])
    vset = {"value_sets": {"name": ["a", "b"]}}
    assert _file_may_match(vset, "name", "in", ["zz", "b"])
    assert not _file_may_match(vset, "name", "in", ["zz", "c"])
    # no stats at all: never prune
    assert _file_may_match({}, "k", "in", [1])
    assert _file_may_match(None, "k", "in", [1])


def test_value_set_type_mismatch_keeps_file():
    """A literal outside the set's type domain must NOT be pruned
    definitively: Spark's row filter cast-coerces ('5' = int column can
    match rows), so a typed-membership miss only prunes when the types
    agree — mismatches fall through to bounds/bloom (here: absent, so
    the file is kept)."""
    ints = {"value_sets": {"k": [3, 5, 9]}}
    assert not _file_may_match(ints, "k", "=", 4)  # same-type miss: prune
    assert _file_may_match(ints, "k", "=", "5")  # str lit vs int set: keep
    assert _file_may_match(ints, "k", "=", "4")  # conservative either way
    strs = {"value_sets": {"s": ["3", "5"]}}
    assert not _file_may_match(strs, "s", "=", "4")
    assert _file_may_match(strs, "s", "=", 5)  # int lit vs str set: keep
    # empty set (all-null file): nothing compares equal — definitive
    assert not _file_may_match({"value_sets": {"k": []}}, "k", "=", 1)
    # same-type membership still beats bounds (15 is inside [10,20] but
    # not in the exact set); a mismatched literal falls through and the
    # incomparable bounds keep the file
    both = {
        "value_sets": {"k": [10, 20]},
        "stats": {"k": [_stat_encode(10), _stat_encode(20)]},
    }
    assert not _file_may_match(both, "k", "=", 15)
    assert _file_may_match(both, "k", "=", "15")


def test_in_predicate_bloom_forms():
    from fluss_iceberg_spark.lake.manifest import _BLOOM_BITS, _bloom_positions

    def bloom_of(values, m):
        bits = 0
        for v in values:
            for p in _bloom_positions(v, m=m):
                bits |= 1 << p
        return bits

    legacy = {"blooms": {"name": f"{bloom_of(['x', 'y'], _BLOOM_BITS):x}"}}
    assert _file_may_match(legacy, "name", "in", ["q", "y"])
    assert not _file_may_match(legacy, "name", "in", ["q", "r"])
    m = _BLOOM_BITS * 4
    adaptive = {
        "blooms": {"name": {"m": m, "bits": f"{bloom_of(['x', 'y'], m):x}"}}
    }
    assert _file_may_match(adaptive, "name", "in", ["q", "y"])
    assert not _file_may_match(adaptive, "name", "in", ["q", "r"])


def test_in_predicate_scan_is_exact(spark):
    """read(where=[('col','in',vals)]) prunes files AND filters rows;
    prune_only=True returns surviving files whole."""
    with tempfile.TemporaryDirectory() as d:
        cat = LakeCatalog(spark, d)
        t = cat.create_table("t_in", SCHEMA)
        rows = [
            (k, datetime.date(2024, 1, 1), decimal.Decimal("1.00"), f"n{k}")
            for k in range(100)
        ]
        # two appends → two files with disjoint k ranges
        t.append(spark.createDataFrame(rows[:50], SCHEMA).coalesce(1))
        t.append(spark.createDataFrame(rows[50:], SCHEMA).coalesce(1))
        assert len(t.plan_scan()) == 2
        probe = [("k", "in", [3, 7])]
        assert len(t.plan_scan(where=probe)) == 1  # second file pruned
        got = sorted(r.k for r in t.read(where=probe).collect())
        assert got == [3, 7]
        whole = t.read(where=probe, prune_only=True)
        assert whole.count() == 50  # surviving file returned unfiltered
