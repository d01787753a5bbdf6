"""Benchmark entry point: one workload, one fresh process, one Spark session.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Runs from the root of a checkout of the repository. It builds its inputs
from the seed, sets up the workload, runs the workload's operations in a
closed loop (the next operation starts when the previous one returns)
until ``--seconds`` have passed and every kind of operation ran, checks
every output, and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine's public entry points are wrapped with spans, Spark's event log
is on, and the metrics are the per-layer ones. Everything the run writes
goes under ``perfbench/.work`` (deleted at exit) and ``perfbench/results``.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_wall_s counts from here, less input generation and checks

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import traceback
import zipfile
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and of reaped children) used so far by
    this process and every process below it: the JVM and its Python
    workers. Read from /proc."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # ended while listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def git_info() -> dict:
    def git(*args: str) -> str | None:
        try:
            out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    top = git("rev-parse", "--show-toplevel")
    sha = git("rev-parse", "HEAD")
    if sha is None or top is None or os.path.realpath(top) != os.path.realpath(ROOT):
        return {"git_sha": "unknown", "dirty": None}
    return {"git_sha": sha, "dirty": bool(git("status", "--porcelain", "--untracked-files=no"))}


def prepare_env(work: str) -> None:
    """Point every temporary file of the run into ``work``; must run before
    pyspark and the engine are imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def ship_engine_zip(work: str) -> None:
    """The engine zips itself for Python workers into a fixed temp path;
    build that zip inside ``work`` instead, so the run writes only inside
    the checkout."""
    from fluss_iceberg_spark import runtime

    def package_zip() -> str:
        out = os.path.join(work, "fluss_iceberg_spark.zip")
        if not os.path.exists(out):
            pkg = os.path.join(ROOT, "fluss_iceberg_spark")
            with zipfile.ZipFile(out, "w") as z:
                for d, _, files in os.walk(pkg):
                    for f in files:
                        if f.endswith(".py"):
                            z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), ROOT))
        return out

    runtime.package_zip = package_zip


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait until the JVM process and its Python workers are gone."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def install_spans(tracer) -> None:
    from fluss_iceberg_spark.lake.table import LakeTable, Snapshot
    from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline

    tracer.wrap(ReferencePipeline, "process_order_batch", "streaming.batch")
    tracer.wrap(ReferencePipeline, "tier_enriched", "streaming.tier")
    for attr in ("merge", "write_hot_batch", "tier", "read", "union_read", "changelog", "snapshot"):
        tracer.wrap(LakeTable, attr, f"lake.{attr}")
    tracer.wrap(Snapshot, "from_json", "lake.snapshot_parse", size_arg=True)
    # the one commit-time serialisation: one call per commit, its size is
    # the metadata written, the snapshot's file count the live files
    tracer.wrap(Snapshot, "to_json", "lake.commit", size_result=True, note=lambda s: len(s.files))


@dataclass
class TimedOp:
    op_id: str
    name: str
    start: float  # epoch seconds, the clock of Spark's event log
    latency_s: float
    cpu_s: float  # CPU time of the process tree during the operation
    ok: bool


def run_loop(workload, seconds: float, spark, tracer) -> tuple[list[TimedOp], float]:
    """Operations in the seeded round order until the first round is done
    (every kind of operation has run) and ``seconds`` have passed; returns
    the operations and the timed wall time. Input generation between
    operations is not timed wall."""
    sc = spark.sparkContext
    ops: list[TimedOp] = []
    t0, gen0 = time.perf_counter(), workload.datagen_s

    def elapsed() -> float:
        return time.perf_counter() - t0 - (workload.datagen_s - gen0)

    r = 0
    while True:
        for i, op in enumerate(workload.round(r)):
            op_id = f"r{r}.{i}.{op.name}"
            if tracer is not None:
                sc.setJobGroup(op_id, op.name)
                tracer.op = op_id
            cpu = tree_cpu_s()
            start, t = time.time(), time.perf_counter()
            ok = True
            try:
                op.fn()
            except Exception:  # an operation failure is counted, not fatal
                ok = False
                traceback.print_exc()
            latency = time.perf_counter() - t
            ops.append(TimedOp(op_id, op.name, start, latency, tree_cpu_s() - cpu, ok))
            if tracer is not None:
                tracer.op = ""
            workload.after_op()
            if r > 0 and elapsed() >= seconds:
                return ops, elapsed()
        r += 1
        if elapsed() >= seconds:
            return ops, elapsed()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fluss_iceberg_spark", "__init__.py")):
        print(f"error: no engine source (fluss_iceberg_spark/) next to {HERE}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return bench(args, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, run_id: str) -> int:
    import pyarrow
    import pyspark

    import report
    from spans import Tracer
    from workloads import SF, WORKLOADS, Context

    from fluss_iceberg_spark.session import get_spark

    tracer = Tracer() if args.trace else None

    ship_engine_zip(work)
    if tracer is not None:
        install_spans(tracer)
    span = tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())
    with span("session.start"):
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, bool(args.trace)))
        session_start_s = time.perf_counter() - t
    workload = WORKLOADS[args.workload](args.seed)
    ctx = Context(spark=spark, work=work, seed=args.seed, span=span)
    error = None
    try:
        workload.setup(ctx)
    except Exception:  # reported as a failed run, with its traceback
        error = traceback.format_exc()
    # set-up less what the benchmark itself spent in it: generating inputs
    # and judging the warm-up results
    setup_harness_s = workload.datagen_s + sum(c.seconds for c in workload.checks)
    setup_wall_s = time.perf_counter() - T_START - setup_harness_s
    setup_s = tree_cpu_s() - workload.harness_cpu_s

    ops, wall = [], 0.0
    steal = None
    if error is None:
        before = cpu_ticks()
        ops, wall = run_loop(workload, args.seconds, spark, tracer)
        after = cpu_ticks()
        # share of the machine's CPU time taken by the hypervisor while timing:
        # other tenants' load, which slows every operation of the run
        steal = (after[0] - before[0]) / max(1, after[1] - before[1])
        try:
            workload.check()
        except Exception:
            error = traceback.format_exc()
    checks = workload.checks
    figures = workload.figures(ops, wall) if ops else {}
    figures.update(setup_wall_s=setup_wall_s, setup_harness_s=setup_harness_s)
    if steal is not None:
        figures["cpu_steal_share"] = steal
    stop_spark(spark)
    # the JVM is this process's largest waited-for child
    jvm_peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0

    if error is not None:
        print(error, file=sys.stderr)
    why = {w["name"]: w["why"] for w in report.benchmark_spec()["workloads"]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus(), **git_info(),
        "python": platform.python_version(), "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "sf": SF, "params": workload.params(), "driver_memory": DRIVER_MEM,
        "why": why[args.workload],
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    result = report.summarize(
        record=record, ops=ops, wall=wall, setup_s=setup_s, session_start_s=session_start_s,
        jvm_peak_rss_mb=jvm_peak_rss_mb, figures=figures, checks=checks, error=error,
        tracer=tracer, events_dir=os.path.join(work, "events"),
    )
    if tracer is not None:
        tracer.dump(os.path.join(HERE, "results", f"{run_id}-spans.jsonl"))
    with open(os.path.join(HERE, "results", f"{run_id}.json"), "w") as f:
        json.dump({**record, **result["record"]}, f, indent=1, default=str)
    print(result["text"])
    print(json.dumps(result["line"]))
    return 0 if result["line"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
