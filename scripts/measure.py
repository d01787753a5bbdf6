"""One measurement tool for the engine's registered queries.

    python scripts/measure.py time Q... [--sf DIR ...] [--runs N] [--root DIR]
    python scripts/measure.py plans --out DIR --tag T Q... [--sf DIR] [--root DIR]
    python scripts/measure.py profile Q... [--sf DIR] [--root DIR]
    python scripts/measure.py ab --a DIR --b DIR Q... [--pairs N] [--sf DIR ...] [--runs N]

- ``time``: best-of-N wall of each query to a ``noop`` sink, in one
  session, with the cache cleared between runs. Several ``--sf``
  directories give a scale series. The last line is the results as JSON.
- ``plans``: writes each query's formatted physical plan to
  ``DIR/<q>_<T>.txt``.
- ``profile``: runs each query once with Spark's event log on and
  reports its plan-build and execution wall, then its jobs, in-job time,
  driver gap, tasks, task CPU, shuffle writes and Python boundary time,
  read by ``perfbench/eventlog.py``.
- ``ab``: runs ``time`` against two checkouts in turn, switching which
  side goes first on every pair, and reports each side's median and
  quartiles per query and how many pairs B won.

The engine is imported from ``--root`` (default: this checkout); the
timing code always comes from this checkout, so ``ab`` can compare
against a checkout that has no measure.py. A query name the engine does
not register exits 2 before a JVM starts. ``--sf`` defaults to sf0.1 for
``time``/``ab`` and sf0.01 for ``plans``/``profile``. Run one Spark
measurement at a time: concurrent runs distort each other's timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import eventlog  # noqa: E402
import stats  # noqa: E402
from run import cpus, spark_conf, stop_spark  # noqa: E402
from tests.conftest import SF_ORACLE  # noqa: E402

SF_SMALL = SF_ORACLE
SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")
LAYERS = ("jobs", "in_job_s", "driver_gap_s", "tasks", "task_cpu_s",
          "shuffle_write_mb", "python_boundary_s")


def engine(root: str, names: list[str]):
    """The query registry of the checkout at ``root``; exits 2 if it lacks
    one of ``names``. Imports no JVM."""
    sys.path.insert(0, os.path.abspath(root))
    from fluss_iceberg_spark import registry

    registry.load_all()
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown queries in {root}: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    return registry


def session(app: str, sf: str, extra_conf: dict[str, str] | None = None):
    """The engine's session on every CPU of this process, warmed up by one
    small scan."""
    from fluss_iceberg_spark.session import get_spark

    spark = get_spark(app_name=app, cpus=cpus(), extra_conf=extra_conf)
    spark.read.parquet(os.path.join(sf, "nation.parquet")).count()
    return spark


def cmd_time(args) -> int:
    registry = engine(args.root, args.queries)
    sfs = args.sf or [SF_BENCH]
    spark = session("measure-time", sfs[0])
    out: dict[str, dict[str, float]] = {}
    for sf in sfs:
        for q in args.queries:
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                registry.QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            out.setdefault(sf, {})[q] = round(best, 4)
            print(f"{q} @ {sf}: {best:.3f} s", flush=True)
    stop_spark(spark)
    print(json.dumps(out))
    return 0


def cmd_plans(args) -> int:
    registry = engine(args.root, args.queries)
    os.makedirs(args.out, exist_ok=True)
    spark = session("measure-plans", args.sf)
    for q in args.queries:
        df = registry.QUERIES[q](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(args.out, f"{q}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    stop_spark(spark)
    return 0


def cmd_profile(args) -> int:
    registry = engine(args.root, args.queries)
    work = tempfile.mkdtemp(prefix="measure-profile-")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        spark = session("measure-profile", args.sf, spark_conf(work, True))
        sc = spark.sparkContext
        windows = []
        for q in args.queries:
            # the event log names each job's group, so its jobs are q's
            sc.setJobGroup(q, q)
            t0 = time.time()  # epoch seconds: the event log's clock
            df = registry.QUERIES[q](spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            windows.append((q, t0, t1, time.time()))
        stop_spark(spark)
        log = eventlog.load(os.path.join(work, "events"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {}
    print(f"{'query':<40} " + " ".join(f"{k:>{max(8, len(k))}}" for k in ("build_s", "exec_s", *LAYERS)))
    for q, t0, t1, t2 in windows:
        layers = eventlog.op_layers(log, q, t0, t2)
        row = {"build_s": t1 - t0, "exec_s": t2 - t1, **{k: layers[k] for k in LAYERS}}
        out[q] = {k: round(v, 4) for k, v in row.items()}
        print(f"{q:<40} " + " ".join(
            f"{v:>{max(8, len(k))}}" if isinstance(v, int) else f"{v:>{max(8, len(k))}.3f}"
            for k, v in row.items()))
    print(json.dumps(out))
    return 0


def pair_order(i: int) -> tuple[str, str]:
    """Which side runs first in pair ``i``: A on even pairs, B on odd."""
    return ("A", "B") if i % 2 == 0 else ("B", "A")


def _quartiles(values: list[float]) -> list[float]:
    return statistics.quantiles(values, n=4) if len(values) > 1 else values * 3


def summary(a_runs: list[dict], b_runs: list[dict]) -> list[str]:
    """One line per (scale, query): each side's median and quartiles of
    the per-pair best times, the spread (quartile distance / median) and
    how many pairs B was faster in. ``a_runs``/``b_runs`` are ``time``
    results, ``{sf: {query: seconds}}``, one per pair."""
    lines = []
    for sf, queries in a_runs[0].items():
        for q in queries:
            a = [r[sf][q] for r in a_runs]
            b = [r[sf][q] for r in b_runs]
            wins = sum(1 for x, y in zip(a, b) if y < x)
            (a1, am, a3), (b1, bm, b3) = _quartiles(a), _quartiles(b)
            sa, sb = (stats.quartile_spread(v) if len(v) > 1 else 0.0 for v in (a, b))
            lines.append(
                f"{q} @ {sf}: A {am:.3f} s [{a1:.3f}, {a3:.3f}] spread {sa:.2f}  "
                f"B {bm:.3f} s [{b1:.3f}, {b3:.3f}] spread {sb:.2f}  "
                f"B/A {bm / am:.3f}  B faster in {wins}/{len(a)} pairs"
            )
    return lines


def _registered(root: str) -> set[str]:
    """Query names the checkout at ``root`` registers, read in a fresh
    interpreter (two checkouts' engines cannot share one)."""
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from fluss_iceberg_spark import registry; registry.load_all(); "
            "print(' '.join(registry.QUERIES))")
    out = subprocess.run([sys.executable, "-c", code, root], capture_output=True, text=True, check=True)
    return set(out.stdout.split())


def _time_side(root: str, tail: list[str]) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "time", "--root", root, *tail]
    out = subprocess.run(cmd, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def cmd_ab(args) -> int:
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    for side, root in sides.items():
        known = _registered(root)
        unknown = [q for q in args.queries if q not in known]
        if unknown:
            print(f"unknown queries in {side} ({root}): {' '.join(unknown)}", file=sys.stderr)
            return 2
    tail = ["--runs", str(args.runs), *[a for sf in args.sf or [SF_BENCH] for a in ("--sf", sf)],
            *args.queries]
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in pair_order(i):
            runs[side].append(_time_side(sides[side], tail))
        print(f"pair {i} ({'-'.join(pair_order(i))}): " + "  ".join(
            f"{s} {json.dumps(runs[s][-1])}" for s in "AB"), flush=True)
    print("\n".join(summary(runs["A"], runs["B"])))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("time", help="best-of-N wall per query to a noop sink")
    p.add_argument("--sf", action="append", help="data directory; repeat for a scale series")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("plans", help="formatted physical plan per query")
    p.add_argument("--out", required=True)
    p.add_argument("--tag", required=True)
    p.add_argument("--sf", default=SF_SMALL)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("profile", help="per-query layers from Spark's event log")
    p.add_argument("--sf", default=SF_SMALL)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("ab", help="interleaved A/B of two checkouts")
    p.add_argument("--a", required=True, help="checkout A (the baseline)")
    p.add_argument("--b", required=True, help="checkout B")
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--sf", action="append", help="data directory; repeat for a scale series")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    args.queries = list(dict.fromkeys(args.queries))
    return {"time": cmd_time, "plans": cmd_plans, "profile": cmd_profile, "ab": cmd_ab}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
