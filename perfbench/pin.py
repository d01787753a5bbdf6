"""Re-pin the rows-only queries (no DuckDB oracle) of the query mixes.

    python3 perfbench/pin.py

Runs each such query once on the benchmark's fixed sf tables and writes
its row count and order-insensitive row hash to perfbench/pinned.json,
which the warm-up pass of ``analytics`` checks against.
Re-pin only after confirming a changed result is intended.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.HERE, ".work", f"pin-{os.getpid()}")
    run.prepare_env(work)
    try:
        import datagen
        from fluss_iceberg_spark import registry
        from fluss_iceberg_spark.session import get_spark
        from workloads import DATA_SEED, PINNED_PATH, SF, Analytics, rows_digest

        run.ship_engine_zip(work)
        spark = get_spark(app_name="perfbench-pin", extra_conf=run.spark_conf(work, False))
        sf_dir = os.path.join(work, f"sf{SF}")
        datagen.write_tables(sf_dir, DATA_SEED, SF)
        registry.load_all()
        pinned = {}
        for name in Analytics.QUERIES:
            if name not in registry.ORACLES:
                pinned[name] = rows_digest(registry.QUERIES[name](spark, sf_dir))
                print(name, pinned[name])
        run.stop_spark(spark)
        with open(PINNED_PATH, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
