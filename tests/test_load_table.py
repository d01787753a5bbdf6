"""load_table's per-session schema cache: a repeat load of an unchanged
file submits no Spark job; a file rewritten at the same path is inferred
again."""

from __future__ import annotations

import os
import shutil

from fluss_iceberg_spark.sources.tpch import load_table
from tests.conftest import SF_SMOKE as SF


def _jobs_submitted(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    group = f"load-table-{id(fn)}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        fn()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return len(tracker.getJobIdsForGroup(group))


def test_repeat_load_submits_no_job(spark, tmp_path):
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    first = load_table(spark, str(tmp_path), "nation")
    assert _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "nation")) == 0
    again = load_table(spark, str(tmp_path), "nation")
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_events_repeat_load_keeps_timestamp_conversion(spark, tmp_path):
    shutil.copy(f"{SF}/events.parquet", tmp_path / "events.parquet")
    first = load_table(spark, str(tmp_path), "events")
    again = load_table(spark, str(tmp_path), "events")
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    before = load_table(spark, str(tmp_path), "nation")
    keys = sorted(r.n_nationkey for r in before.collect())
    out = str(tmp_path / "rewrite")
    before.withColumn("n_extra", before.n_nationkey * 2).coalesce(1).write.parquet(out)
    (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
    os.replace(os.path.join(out, part), tmp_path / "nation.parquet")
    after = load_table(spark, str(tmp_path), "nation")
    assert after.columns == before.columns + ["n_extra"]
    assert sorted(r.n_extra for r in after.collect()) == [k * 2 for k in keys]
