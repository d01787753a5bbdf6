"""Repeat runs of the benchmark: seed spread, and A/B of two checkouts.

    python3 perfbench/compare.py spread --workload analytics --runs 10
    python3 perfbench/compare.py ab --a ../parent --b . --workload ingest --pairs 10

``spread`` runs one workload once per seed (seeds 1..runs) in this
checkout and reports, per metric, the median and the distance between the
first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json, the same for the recorded wall-clock figures, and each
run's hypervisor steal share (a set with runs above ``NOISY_STEAL`` ran
beside busy neighbours).

``ab`` runs the same workload and seed alternately in two checkouts (each
the root of a full checkout of the repository), switching which side goes
first on every pair, and reports each side's median and quartiles and how
many pairs B won per metric. Every run lasts BENCHMARK.json's
``run_seconds``. Runs are sequential: two Spark runs at once distort each
other's timings.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# steal share above which a run's timings follow other tenants' load
NOISY_STEAL = 0.05
WALL_FIGURES = ("op_latency_s", "ops_per_min", "setup_wall_s")


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = out.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"no output from {cmd} (exit {out.returncode}): {out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["exit"], res["wall_s"] = out.returncode, wall
    res["record"] = newest_record(root, workload, seed, trace)
    res["steal"] = res["record"].get("figures", {}).get("cpu_steal_share")
    return res


def newest_record(root: str, workload: str, seed: int, trace: int) -> dict:
    """The newest result record of this run's kind."""
    pattern = os.path.join(root, "perfbench", "results", f"{workload}-s{seed}-t{trace}-*.json")
    paths = sorted(glob.glob(pattern), key=os.path.getmtime)
    if not paths:
        return {}
    with open(paths[-1]) as f:
        return json.load(f)


def spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(args) -> int:
    b = spec(ROOT)
    seeds = list(range(1, args.runs + 1))
    results = []
    for s in seeds:
        r = run_once(ROOT, args.workload, s, b["run_seconds"], args.trace)
        results.append(r)
        vals = {k: v["value"] for k, v in r["metrics"].items()}
        # the wall-clock figures, printed next to the CPU-time metrics
        vals.update({k: v for k, v in r["record"].get("end_to_end", {}).items() if k in WALL_FIGURES})
        vals.update({k: v for k, v in r["record"].get("figures", {}).items() if k in WALL_FIGURES})
        r["values"] = vals
        steal = "-" if r["steal"] is None else f"{r['steal']:.3f}"
        print(f"seed {s}: correct={r['correct']} exit={r['exit']} wall={r['wall_s']:.1f}s steal={steal} "
              f"{ {k: round(v, 4) for k, v in vals.items()} }", flush=True)
    bounds = {m["name"]: m.get("bound") for m in b["end_to_end"]}
    noisy = sum(1 for r in results if (r["steal"] or 0) > NOISY_STEAL)
    print(f"\n{args.workload}: {len(results)} runs, mean wall {statistics.mean(r['wall_s'] for r in results):.1f} s, "
          f"{noisy} with steal above {NOISY_STEAL}")
    summary = {}
    for name in results[0]["values"]:
        vals = [r["values"][name] for r in results if name in r["values"]]
        sp = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        summary[name] = {"median": statistics.median(vals), "spread": sp, "values": vals}
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if sp < bound / 3 else ("  within bound" if sp <= bound else "  OVER BOUND"))
        print(f"  {name:<32} median {statistics.median(vals):12.4f}  spread {sp:7.4f}"
              f"  bound {bound if bound is not None else '-'}{flag}")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"spread-{args.workload}-t{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seeds": seeds, "seconds": b["run_seconds"],
                   "summary": summary, "runs": [{k: v for k, v in r.items() if k != "record"} for r in results]},
                  f, indent=1)
    print(f"written {path}")
    return 0 if all(r["correct"] and r["exit"] == 0 for r in results) else 1


def ab(args) -> int:
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    seconds = spec(sides["B"])["run_seconds"]
    better = {m["name"]: m["better"] for m in spec(sides["B"])["end_to_end"]}
    runs = {"A": [], "B": []}
    for i in range(args.pairs):
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        for side in order:
            runs[side].append(run_once(sides[side], args.workload, args.seed + i, seconds))
        print(f"pair {i}: " + "  ".join(
            f"{s} {runs[s][-1]['metrics'].get('op_cpu_s', {}).get('value', float('nan')):.4f}" for s in "AB"),
            flush=True)
    for name, direction in better.items():
        a = [r["metrics"][name]["value"] for r in runs["A"]]
        b = [r["metrics"][name]["value"] for r in runs["B"]]
        wins = sum(1 for x, y in zip(a, b) if (y < x if direction == "lower" else y > x))
        qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
        print(f"  {name:<14} A median {statistics.median(a):10.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
              f"  B median {statistics.median(b):10.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
              f"  B better in {wins}/{len(a)} pairs")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--runs", type=int, default=10)
    sp.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("ab")
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    return spread(args) if args.cmd == "spread" else ab(args)


if __name__ == "__main__":
    sys.exit(main())
