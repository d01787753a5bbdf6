"""Turns one run's operations, checks, spans and event log into metrics.

End-to-end metrics (untraced run), in CPU seconds of the process tree
(driver, JVM, Python workers):

- ``setup_s``: process start to the first timed operation: session start,
  data/warehouse build and the warm-up, less the benchmark's own work;
- ``op_cpu_s``: CPU time per operation of one round of the mix, each
  operation at its kind's median. A failed operation counts as infinitely
  slow.

Recorded too, from wall time: ``op_latency_s`` (combined the same way),
``ops_per_min`` (operations per minute at each kind's median latency) and
``op_p90_s`` (nearest-rank p90 over all operations).

Per-layer metrics (traced run) are per timed operation unless named per
call (``*_s`` of a single entry point is the mean per call of that span).
"""

from __future__ import annotations

import glob
import json
import math
import os

import eventlog
from spans import children, descendants, self_time
from stats import geomean, kind_medians, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
_MB = 1024 * 1024
_LAKE_CALLS = ("merge", "write_hot_batch", "tier", "read", "union_read", "changelog")
# printed and recorded, but not in BENCHMARK.json (see perfbench/README.md)
FIGURE_UNITS = {
    "op_p90_s": "s", "rows_per_s": "rows/s", "freshness_p50_s": "s", "freshness_p90_s": "s",
    "freshness_n": "count", "freshness_beyond_p90": "count", "queries_per_min": "q/min",
    "jvm_peak_rss_mb": "MB", "cpu_steal_share": "ratio", "setup_wall_s": "s", "setup_harness_s": "s",
    "op_latency_s": "s", "ops_per_min": "1/min",
}


def benchmark_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _outermost(spans, idxs: list[int], name: str) -> list[int]:
    """Drop spans nested inside another span of the same name."""
    out = []
    for i in idxs:
        p = spans[i].parent
        while p >= 0 and spans[p].name != name:
            p = spans[p].parent
        if p < 0:
            out.append(i)
    return out


def mix_figures(ops: list) -> dict[str, float]:
    """``op_cpu_s``, ``op_latency_s`` and ``ops_per_min`` of a run's
    operations, from each kind's median, so that the figures do not jump
    between kinds as their costs cross, as a median over all operations of
    a mix does. ``op_cpu_s`` is the mean over the first round's operations
    (every kind, in the mix's proportions) of their kind's median CPU time:
    the CPU cost of the mix per operation. ``op_latency_s`` weighs every
    kind the same (geometric mean)."""
    def medians(value) -> dict[str, tuple[float, int]]:
        return kind_medians([(o.name, value(o) if o.ok else math.inf) for o in ops])

    cpu, lat = medians(lambda o: o.cpu_s), medians(lambda o: o.latency_s)
    first_round = [o.name for o in ops if o.op_id.startswith("r0.")]
    return {
        "op_cpu_s": sum(cpu[k][0] for k in first_round) / len(first_round),
        "op_latency_s": geomean([m for m, _ in lat.values()]),
        "ops_per_min": len(ops) * 60.0 / sum(m * n for m, n in lat.values()),
    }


def layer_metrics(tracer, events_dir: str, ops: list, session_start_s: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics over the timed operations, and the per-tier table."""
    spans = tracer.spans
    kids = children(spans)
    timed = {o.op_id for o in ops}
    by_name: dict[str, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.op in timed:
            by_name.setdefault(sp.name, []).append(i)
    for name in list(by_name):
        by_name[name] = _outermost(spans, by_name[name], name)
    n_ops = max(1, len(ops))

    def calls(name: str) -> list[int]:
        return by_name.get(name, [])

    def mean_dur(name: str) -> float:
        c = calls(name)
        return sum(spans[i].end - spans[i].start for i in c) / len(c) if c else 0.0

    log = eventlog.load(events_dir)
    per_op = [eventlog.op_layers(log, o.op_id, o.start, o.start + o.latency_s) for o in ops]

    def op_sum(key: str) -> float:
        return sum(p[key] for p in per_op)

    def driver_mean(name: str) -> float:
        c = calls(name)
        if not c:
            return 0.0
        return sum(eventlog.driver_time(log, spans[i].op, spans[i].start, spans[i].end) for i in c) / len(c)

    lake_names = {f"lake.{a}" for a in _LAKE_CALLS} | {"lake.snapshot"}
    batch_self = [self_time(spans, i, kids, only=lake_names) for i in calls("streaming.batch")]
    parses = calls("lake.snapshot_parse")
    commits = calls("lake.commit")
    meta_bytes = sum(spans[i].nbytes for i in commits)
    output_mb = op_sum("output_mb")
    py_stages = op_sum("python_stages")

    # every tier of the run, warm-up included: the table is about how tier
    # cost follows the table's live file count
    tiers = []
    for i, sp in enumerate(spans):
        if sp.name != "streaming.tier":
            continue
        sub = descendants(kids, i)
        commit_notes = [spans[k].note for k in sub if spans[k].name == "lake.commit"]
        tiers.append({
            "timed": sp.op in timed,
            "tier_s": sp.end - sp.start,
            "live_files": commit_notes[-1] if commit_notes else None,
            "snapshot_parse_mb": sum(spans[k].nbytes for k in sub if spans[k].name == "lake.snapshot_parse") / _MB,
            "snapshot_parses": sum(1 for k in sub if spans[k].name == "lake.snapshot_parse"),
        })
    slope = _slope([(t["live_files"], t["snapshot_parse_mb"]) for t in tiers if t["live_files"] is not None])

    m = {
        "session.start_s": session_start_s,
        "workloads.build_s": mean_dur("workloads.build"),
        "streaming.batch_self_s": sum(batch_self) / len(batch_self) if batch_self else 0.0,
        "streaming.tier_s": mean_dur("streaming.tier"),
        "lake.merge_s": mean_dur("lake.merge"),
        "lake.merge_driver_s": driver_mean("lake.merge"),
        "lake.write_hot_s": mean_dur("lake.write_hot_batch"),
        "lake.tier_s": mean_dur("lake.tier"),
        "lake.tier_driver_s": driver_mean("lake.tier"),
        "lake.commits": len(commits) / n_ops,
        "lake.meta_bytes_written": meta_bytes / n_ops,
        "lake.meta_bytes_per_data_byte": meta_bytes / (output_mb * _MB) if output_mb else 0.0,
        "lake.read_s": mean_dur("lake.read"),
        "lake.union_read_s": mean_dur("lake.union_read"),
        "lake.changelog_s": mean_dur("lake.changelog"),
        "lake.snapshot_parses": len(parses) / n_ops,
        "lake.snapshot_parse_mb": sum(spans[i].nbytes for i in parses) / _MB / n_ops,
        "lake.live_files": float(tiers[-1]["live_files"] or 0) if tiers else 0.0,
        "lake.tier_parse_mb_per_file": slope,
        "spark.jobs": op_sum("jobs") / n_ops,
        "spark.in_job_s": op_sum("in_job_s") / n_ops,
        "spark.driver_gap_s": op_sum("driver_gap_s") / n_ops,
        "spark.tasks": op_sum("tasks") / n_ops,
        "spark.task_run_s": op_sum("task_run_s") / n_ops,
        "spark.task_cpu_s": op_sum("task_cpu_s") / n_ops,
        "spark.shuffle_write_mb": op_sum("shuffle_write_mb") / n_ops,
        "spark.spill_mb": op_sum("spill_mb") / n_ops,
        "spark.gc_s": op_sum("gc_s") / n_ops,
        "operators.python_boundary_s": op_sum("python_boundary_s") / n_ops,
        "operators.tasks_per_stage": op_sum("python_tasks") / py_stages if py_stages else 0.0,
        "trace.op_cpu_s": mix_figures(ops)["op_cpu_s"],
        "trace.bookkeeping_s": tracer.bookkeeping_s / n_ops,
        "trace.spans": sum(1 for sp in spans if sp.op in timed) / n_ops,
    }
    return m, tiers


def _slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of y on x; 0 with fewer than two distinct x."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    return sum((x - mx) * (y - my) for x, y in points) / sum((x - mx) ** 2 for x, _ in points)


def untraced_reference(record: dict) -> float | None:
    """op_cpu_s of the latest untraced run of the same workload and seed in
    perfbench/results, to state the traced run's overhead against it."""
    best = None
    for path in glob.glob(os.path.join(HERE, "results", f"{record['workload']}-s{record['seed']}-t0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("git_sha") == record["git_sha"] and "end_to_end" in rec:
            mt = os.path.getmtime(path)
            if best is None or mt > best[0]:
                best = (mt, rec["end_to_end"].get("op_cpu_s"))
    return best[1] if best else None


def summarize(*, record, ops, wall, setup_s, session_start_s, jvm_peak_rss_mb, figures, checks,
              error, tracer, events_dir) -> dict:
    spec = benchmark_spec()
    lat = [o.latency_s if o.ok else float("inf") for o in ops]
    failed_ops = sum(1 for o in ops if not o.ok)
    failed_checks = sum(1 for c in checks if not c.ok)
    attempted = max(1, len(ops) + len(checks))
    failed = failed_ops + failed_checks + (1 if error else 0)
    correct = failed == 0 and bool(ops) and bool(checks)

    out: dict = {"timed_ops": len(ops), "timed_wall_s": wall, "failed_ops": failed_ops,
                 "checks": [c.__dict__ for c in checks], "failed_ratio": failed / attempted,
                 "figures": {**figures, "jvm_peak_rss_mb": jvm_peak_rss_mb}, "error": error}
    e2e = {}
    if ops:
        p90, n, beyond = percentile(lat, 90)
        e2e = {"setup_s": setup_s, **mix_figures(ops), "op_p90_s": p90}
        out.update(samples=n, beyond_p90=beyond,
                   per_op=[{"op": o.op_id, "latency_s": o.latency_s, "cpu_s": o.cpu_s, "ok": o.ok} for o in ops])
    out["end_to_end"] = e2e

    lines = [f"workload {record['workload']}  seed {record['seed']}  trace {record['trace']}  "
             f"cpus {record['cpus']}  git {record['git_sha'][:12]}{' (dirty)' if record['dirty'] else ''}"]
    units = {**FIGURE_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}}
    for k, v in e2e.items():
        lines.append(f"  {k:<34} {v:>12.4f} {units.get(k, '')}")
    if ops:
        lines.append(f"  {'samples (beyond p90)':<34} {out['samples']:>12} ({out['beyond_p90']})")
    for k, v in out["figures"].items():
        lines.append(f"  {k:<34} {v:>12.4f} {units.get(k, '')}")
    lines.append(f"  {'failed_ratio':<34} {out['failed_ratio']:>12.4f} ratio ({failed}/{attempted})")
    for c in checks:
        lines.append(f"  check {'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail} [{c.seconds:.2f} s]")

    want = "per_layer" if record["trace"] else "end_to_end"
    metrics_src = e2e
    if tracer is not None and ops:
        layers, tiers = layer_metrics(tracer, events_dir, ops, session_start_s)
        out.update(per_layer=layers, tiers=tiers)
        metrics_src = layers
        for k, v in layers.items():
            lines.append(f"  {k:<34} {v:>12.4f} {units.get(k, '')}")
        ref = untraced_reference(record)
        if ref:
            over = layers["trace.op_cpu_s"] / ref - 1
            out["trace_overhead"] = over
            lines.append(f"  trace overhead on op_cpu_s vs untraced run: {over:+.1%}")
        if tiers:
            lines.append("  tier  timed  live_files  tier_s  snapshot_parse_mb  parses")
            for i, t in enumerate(tiers):
                lines.append(f"  {i:>4}  {'yes' if t['timed'] else 'no':>5}  {t['live_files']!s:>10}  "
                             f"{t['tier_s']:6.3f}  {t['snapshot_parse_mb']:17.3f}  {t['snapshot_parses']:6}")
    # a percentile that lands on a failed operation is infinite: left out, so
    # the line stays valid JSON (the run is not correct in that case anyway)
    metrics = {
        m["name"]: {"value": metrics_src[m["name"]], "unit": m["unit"]}
        for m in spec[want]
        if m["name"] in metrics_src and math.isfinite(metrics_src[m["name"]])
    }
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"record": out, "text": "\n".join(lines), "line": line}
