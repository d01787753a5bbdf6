"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import eventlog  # noqa: E402
from report import mix_figures  # noqa: E402
from run import TimedOp  # noqa: E402
from spans import Span, children, descendants, self_time  # noqa: E402
from stats import geomean, interval_union, kind_medians, percentile, quartile_spread  # noqa: E402
from workloads import Analytics  # noqa: E402

# ---------------------------------------------------------------- percentiles


def test_percentile_nearest_rank_and_counts():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 50) == (5.0, 10, 5)
    assert percentile(xs, 90) == (9.0, 10, 1)
    assert percentile(xs, 100) == (10.0, 10, 0)
    # 100 samples leave exactly ten beyond p90
    assert percentile([float(i) for i in range(100)], 90) == (89.0, 100, 10)


def test_percentile_counts_failures_as_slowest():
    v, n, beyond = percentile([1.0, 2.0, math.inf], 90)
    assert v == math.inf and n == 3 and beyond == 0
    assert percentile([1.0, 2.0, math.inf], 50)[0] == 2.0


def test_percentile_is_stable_across_whole_rounds():
    """A fixed mix repeated R times keeps p50/p90 in the same rank bucket."""
    mix = [0.3, 0.5, 0.7, 1.1, 1.3, 1.6, 2.0]
    for r in range(1, 7):
        samples = [x + 0.001 * k for k in range(r) for x in mix]
        assert round(percentile(samples, 50)[0], 1) == 1.1
        assert round(percentile(samples, 90)[0], 1) == 2.0


def test_kind_medians_and_counts():
    samples = [("q", 1.0), ("t", 5.0), ("q", 3.0), ("q", 2.0), ("t", 7.0)]
    assert kind_medians(samples) == {"q": (2.0, 3), "t": (6.0, 2)}


def test_mix_latency_moves_smoothly_with_each_kind():
    """The geometric mean of per-kind medians does not change with the round
    count, and moves by the same share whichever kind slows."""
    mix = {"read": 0.2, "q13": 0.55, "window": 0.5, "q1": 1.1}
    for r in (2, 3, 5):
        samples = [(k, v) for _ in range(r) for k, v in mix.items()]
        assert geomean([m for m, _ in kind_medians(samples).values()]) == pytest.approx(geomean(list(mix.values())))
    base = geomean(list(mix.values()))
    for k in mix:
        slowed = {**mix, k: mix[k] * 1.1}
        assert geomean(list(slowed.values())) / base == pytest.approx(1.1 ** (1 / len(mix)))


def test_mix_figures_per_kind():
    def op(op_id, latency, cpu, ok=True):
        return TimedOp(op_id=op_id, name=op_id.split(".", 2)[2], start=0.0, latency_s=latency, cpu_s=cpu, ok=ok)

    # a round of two plain batches and one with its tier, then part of a
    # second round: op_cpu_s weighs the kinds as a round does, op_latency_s
    # weighs them the same, and the pace by the count run
    ops = [op("r0.0.batch", 1.0, 2.0), op("r0.1.batch", 3.0, 4.0), op("r0.2.batch+tier", 4.0, 12.0),
           op("r1.0.batch", 2.0, 3.0)]
    fig = mix_figures(ops)
    assert fig["op_cpu_s"] == pytest.approx((3.0 + 3.0 + 12.0) / 3)
    assert fig["op_latency_s"] == pytest.approx(math.sqrt(8.0))
    assert fig["ops_per_min"] == pytest.approx(4 * 60.0 / (3 * 2.0 + 4.0))
    failed = mix_figures([*ops, op("r1.1.batch+tier", 1.0, 1.0, ok=False)])
    assert failed["op_cpu_s"] == math.inf and failed["ops_per_min"] == 0.0


def test_geomean_counts_failures_as_slowest():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([1.0, math.inf]) == math.inf
    with pytest.raises(ValueError):
        geomean([])


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_quartile_spread():
    assert quartile_spread([1.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


# ------------------------------------------------------------------ spans


def _span(name, start, end, parent=-1, op="r0.0"):
    return Span(name=name, start=start, end=end, parent=parent, op=op)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("streaming.batch", 0.0, 10.0),
        _span("lake.write_hot_batch", 1.0, 3.0, parent=0),
        _span("lake.merge", 2.0, 5.0, parent=0),  # overlaps the first child
        _span("lake.snapshot", 8.0, 9.0, parent=0),
        _span("lake.snapshot_parse", 8.2, 8.4, parent=3),  # grandchild: covered by its parent
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans, 0, only={"lake.merge"}) == pytest.approx(7.0)
    assert sorted(descendants(children(spans), 0)) == [1, 2, 3, 4]


def test_self_time_clips_children_to_the_parent():
    spans = [_span("a", 0.0, 4.0), _span("b", 3.0, 6.0, parent=0)]
    assert self_time(spans, 0) == pytest.approx(3.0)


def test_interval_union():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == 5.0


# -------------------------------------------------------------- event log


def _events(op: str) -> list[str]:
    py_scope = json.dumps({"id": "3", "name": "ArrowEvalPython"})
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
         "Stage IDs": [0], "Stage Infos": [{"Stage ID": 0, "RDD Info": [{"Name": "x", "Scope": py_scope}]}],
         "Properties": {"spark.jobGroup.id": op}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 800, "Executor CPU Time": 300_000_000, "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2 * 1024 * 1024,
                          "Output Metrics": {"Bytes Written": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 600, "Executor CPU Time": 500_000_000, "JVM GC Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1001_000},
        # a second job of the same operation, overlapping the first
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000_500, "Stage IDs": [1],
         "Stage Infos": [{"Stage ID": 1, "RDD Info": [{"Name": "FileScanRDD", "Scope": None}]}],
         "Properties": {"spark.jobGroup.id": op}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 100_000_000, "JVM GC Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1001_500},
        # another operation's job
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1002_000, "Stage IDs": [2],
         "Stage Infos": [{"Stage ID": 2}], "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1003_000},
    ]
    return [json.dumps(e) for e in ev] + ['{"Event": "SparkListenerTaskEnd", "Stage']  # torn tail


def test_event_log_job_union_and_driver_gap():
    log = eventlog.parse(_events("r0.1.q"))
    # op window 999.5 .. 1002.5 s; its jobs cover 1000.0 .. 1001.5
    lay = eventlog.op_layers(log, "r0.1.q", 999.5, 1002.5)
    assert lay["jobs"] == 2
    assert lay["in_job_s"] == pytest.approx(1.5)
    assert lay["driver_gap_s"] == pytest.approx(1.5)
    assert lay["tasks"] == 3
    assert lay["task_run_s"] == pytest.approx(1.8)
    assert lay["task_cpu_s"] == pytest.approx(0.9)
    assert lay["gc_s"] == pytest.approx(0.02)
    assert lay["shuffle_write_mb"] == pytest.approx(1.0)
    assert lay["spill_mb"] == pytest.approx(2.0)
    # only stage 0 evaluates Python: run - cpu = (0.8 + 0.6) - (0.3 + 0.5)
    assert lay["python_stages"] == 1 and lay["python_tasks"] == 2
    assert lay["python_boundary_s"] == pytest.approx(0.6)


def test_driver_time_of_a_span():
    log = eventlog.parse(_events("op"))
    # span 1000.8 .. 1002.0 overlaps the jobs for 0.7 s
    assert eventlog.driver_time(log, "op", 1000.8, 1002.0) == pytest.approx(0.5)
    assert eventlog.driver_time(log, "nobody", 0.0, 2.0) == pytest.approx(2.0)


# ------------------------------------------------------- seed determinism


def test_order_batches_are_seeded():
    a, b = datagen.order_batch(7, 3, 500), datagen.order_batch(7, 3, 500)
    assert a.equals(b)
    assert not a.equals(datagen.order_batch(8, 3, 500))
    assert not a.equals(datagen.order_batch(7, 4, 500))
    keys = set(a.column("order_key").to_pylist()) | set(datagen.order_batch(7, 4, 500).column("order_key").to_pylist())
    assert len(keys) == 1000  # keys unique across batches


def test_tables_and_dims_are_seeded():
    t1, t2, t3 = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])
    assert datagen.dims(5)[0].equals(datagen.dims(5)[0])
    assert not datagen.dims(5)[0].equals(datagen.dims(6)[0])


def _mix(cls, seed):
    w = cls(seed)
    w.ops = {name: (lambda: None) for name in cls.QUERIES}
    return [[op.name for op in w.round(r)] for r in range(3)]


def test_query_order_is_seeded():
    cls = Analytics
    assert _mix(cls, 11) == _mix(cls, 11)
    assert _mix(cls, 11) != _mix(cls, 12)
    rounds = _mix(cls, 11)
    assert all(sorted(r) == sorted(cls.QUERIES) for r in rounds)  # every round is the whole mix
    assert rounds[0] != rounds[1]  # and each round has its own order
