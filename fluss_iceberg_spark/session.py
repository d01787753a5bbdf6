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
import warnings

from pyspark.sql import SparkSession

_STOCK_DAEMON = "pyspark.daemon"

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
    # the daemon resolves the module from any driver cwd. FLUSS_PY_DAEMON=0
    # restores the stock daemon (the A/B toggle).
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
    )
    daemon = _STOCK_DAEMON
    if os.environ.get("FLUSS_PY_DAEMON", "1") != "0":
        daemon = "fluss_iceberg_spark.pydaemon"
        builder = builder.config("spark.python.daemon.module", daemon).config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the daemon module is fixed when the SparkContext starts: a reused
    # session keeps the daemon it was created with
    active = spark.sparkContext.getConf().get("spark.python.daemon.module", _STOCK_DAEMON)
    if active != daemon:
        warnings.warn(
            f"get_spark reused a session whose Python worker daemon is "
            f"{active!r}; the requested {daemon!r} (FLUSS_PY_DAEMON) takes "
            f"effect only in a new session",
            stacklevel=2,
        )
    return spark
