"""Interleaved A/B runner: alternates an env-var toggle across fresh
sessions so minutes-long host-contention windows hit both variants
equally. Prints per-variant best and median of per-round bests.

Usage: AB_ENV=FLUSS_MERGE_DELTA python scripts/ab_run.py q1 q2 -- rounds
AB_VALS=valA,valB sets the two toggle values (default "auto,persist");
the summary's OFF column is valA, ON is valB.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fluss_iceberg_spark import registry
from fluss_iceberg_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_round(names, env_val, env_key):
    os.environ[env_key] = env_val
    spark = get_spark(app_name=f"ab-{env_val}")
    spark.read.parquet(f"{SF}/nation.parquet").count()
    out = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        out[name] = best
    spark.stop()
    return out


def main():
    env_key = os.environ.get("AB_ENV", "FLUSS_MERGE_DELTA")
    vals = os.environ.get("AB_VALS", "auto,persist").split(",")
    if len(vals) != 2:
        print(f"usage: AB_VALS must name exactly two values, got {vals!r}",
              file=sys.stderr)
        sys.exit(2)
    args = sys.argv[1:]
    rounds = 3
    if "--" in args:
        i = args.index("--")
        rounds = int(args[i + 1])
        args = args[:i]
    registry.load_all()
    a: dict[str, list] = {}
    b: dict[str, list] = {}
    for r in range(rounds):
        for val, acc in ((vals[0], a), (vals[1], b)):
            res = run_round(args, val, env_key)
            for k, v in res.items():
                acc.setdefault(k, []).append(v)
            print(f"round {r} {env_key}={val}: "
                  + " ".join(f"{k}={v:.2f}" for k, v in res.items()),
                  flush=True)
    print("\n=== summary (median of per-round bests) ===")
    for k in a:
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        print(f"{k}: OFF {ma:.2f}  ON {mb:.2f}  ratio {mb / ma:.3f}")


if __name__ == "__main__":
    main()
