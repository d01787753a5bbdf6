"""SparkSession factory.

The reference topology gives Flink 10 task slots / 2 GB TM
(fluss-iceberg/docker-compose.yml:89-91); our equivalent execution resource
is a local[N] Spark session sized by env vars. All engine entry points share
one session.

Scale posture (for a real multi-executor cluster the same confs apply):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle partitions sized to cores for local mode (not the 200 default).
- UTC session timezone so results are engine-independent (and comparable
  with the DuckDB oracle).
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "fluss-iceberg-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # Python worker daemon with numpy/pandas/pyarrow PRELOADED
    # (pydaemon.py): forked workers inherit the loaded modules, so the
    # first Arrow-kernel stage of a fresh session stops paying ~32
    # concurrent cold imports (measured 19.9 s → 3.4 s for a 32-task
    # pandas-UDF stage; guide §4.5). The repo root rides PYTHONPATH so
    # the daemon resolves the module from any driver cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{py_path}" if py_path else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
        .config("spark.python.daemon.module", "fluss_iceberg_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
