"""SparkSession factory.

The reference topology gives Flink 10 task slots / 2 GB TM
(fluss-iceberg/docker-compose.yml:89-91); our equivalent execution resource
is a local[N] Spark session sized by env vars. All engine entry points share
one session.

Scale posture (for a real multi-executor cluster the same confs apply):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle partitions sized to cores for local mode (not the 200 default);
  cores default to this process's CPU affinity.
- UTC session timezone so results are engine-independent (and comparable
  with the DuckDB oracle).
- Arrow enabled for the Pandas-UDF slow path.

JVM start: the driver JVM loads Spark's classes from a JDK 17 dynamic
class-data-sharing (AppCDS) archive when one exists for this JDK and
Spark install, which roughly halves session start. The first session on a
machine writes the archive when its JVM exits; a later session validates
it, publishes it, and maps it. The archive lives in the user's cache
(``$XDG_CACHE_HOME/fluss_iceberg_spark/cds``, else ``~/.cache/...``),
never in a checkout, and any failure there starts the session exactly as
without it. See ``_cds_java_options``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import time
import uuid

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# ---------- class-data-sharing archive ----------

# A dynamic dump of a Spark driver writes ~180 MB; a claim older than this
# belongs to a dump that died, and no longer blocks a new one.
_CLAIM_STALE_S = 600
# First four bytes of a JDK dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC).
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def _java_binary() -> str:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else
    the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    # no java found: a relative path whose JDK ``release`` file is missing
    java = os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"
    return os.path.realpath(java)


def _cds_key(java: str, spark_home: str) -> str:
    """Hash of what the archive depends on: the JDK build (the ``java``
    binary's realpath and its ``release`` file) and the driver classpath
    (``SPARK_HOME`` and its jars' names and sizes). Starts no JVM. A
    stale-classpath archive would only be ignored with a warning at every
    start; a new key re-dumps instead."""
    h = hashlib.sha256()
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
        h.update(java.encode() + b"\0" + f.read() + b"\0")
    h.update(os.path.realpath(spark_home).encode() + b"\0")
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        h.update(f"{os.path.basename(jar)}:{os.path.getsize(jar)}\0".encode())
    return h.hexdigest()[:16]


def _driver_classpath(conf_dir: str, spark_home: str) -> str:
    """The driver classpath Spark's launcher builds: the conf dir, the
    slf4j-api jar first, then every jar."""
    jars = os.path.join(spark_home, "jars")
    slf4j = sorted(glob.glob(os.path.join(jars, "slf4j-api-*")))
    return os.pathsep.join([conf_dir.rstrip(os.sep) + os.sep, *slf4j, os.path.join(jars, "*")])


def _claim_held(claim: str) -> bool:
    """A dump is in flight: the claim is younger than ``_CLAIM_STALE_S``
    and the process it names (the dumping JVM, once started) is alive."""
    try:
        if time.time() - os.path.getmtime(claim) > _CLAIM_STALE_S:
            return False
        with open(claim) as f:
            pid = f.read().strip()
        if pid:  # else just created, its pid not yet written
            os.kill(int(pid), 0)
        return True
    except PermissionError:  # alive, another user's
        return True
    except (OSError, ValueError):  # no claim, or its process is gone
        return False


def _archive_is_complete(tmp: str, java: str, classpath: str, cache: str) -> bool:
    """A dump cut short (a killed JVM) leaves a truncated archive, and
    mapping one crashes the JVM (SIGBUS, exit 134) even under the default
    ``-Xshare:auto``. Map it once in a throwaway ``java -version``: under
    ``-Xshare:on`` with the driver's classpath it exits 0 only when the
    archive is complete and usable (junk and a missing file exit 1).
    Its crash report goes under ``cache``, never the caller's cwd."""
    with open(tmp, "rb") as f:
        if f.read(4) != _DYNAMIC_MAGIC:
            return False
    err = tmp + ".hs_err.log"
    try:
        rc = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", f"-XX:ErrorFile={err}",
             "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            cwd=cache, timeout=120,
        ).returncode
    except subprocess.TimeoutExpired:
        return False
    finally:
        if os.path.exists(err):
            os.remove(err)
    return rc == 0


def _cds_java_options(
    cache: str, conf_dir: str, java: str, spark_home: str, is_complete=_archive_is_complete
) -> tuple[list[str], str | None, str | None]:
    """Decide the driver JVM's archive flags from what is on disk.

    Returns ``(flags, spark_conf_dir, claim)``: the JVM options, the
    ``SPARK_CONF_DIR`` to launch with (None: leave it alone) and the claim
    file this session now holds (None: none). ``([], None, None)`` means
    start without an archive, as on any ``OSError`` in the cache.

    - The JDK refuses to dump with a non-empty directory on the classpath,
      and the conf dir is on it. So the archive is used only when the conf
      dir holds nothing but ``*.template`` files (they configure nothing),
      and the session then launches with an empty conf dir under ``cache``.
    - ``<key>.jsa`` exists: map it (``-XX:SharedArchiveFile``). The flag is
      never passed for a missing file: that also turns off the JDK's own
      default archive.
    - Else, unless another dump is in flight (``_claim_held``), each
      ``<key>.*.tmp`` left by an earlier dump is validated
      (``is_complete``): a complete one is renamed into place and mapped,
      an incomplete one deleted.
    - Else claim the key (exclusive create) and dump at JVM exit
      (``-XX:ArchiveClassesAtExit``) into a fresh ``<key>.<unique>.tmp``,
      with the dump's CDS warnings kept off stderr.

    Publishing a key deletes the files of every other key.
    """
    try:
        extra_dirs = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
        if any(os.environ.get(v) for v in extra_dirs):
            return [], None, None  # more directories on the classpath
        if os.path.isdir(conf_dir) and any(
            not f.endswith(".template") for f in os.listdir(conf_dir)
        ):
            return [], None, None
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return [], None, None
        key = _cds_key(java, spark_home)
        archive = os.path.join(cache, f"{key}.jsa")
        claim = os.path.join(cache, f"{key}.claim")
        if not os.path.exists(archive) and not _claim_held(claim):
            classpath = _driver_classpath(empty_conf, spark_home)
            for tmp in sorted(glob.glob(os.path.join(cache, f"{key}.*.tmp"))):
                if not os.path.exists(archive) and is_complete(tmp, java, classpath, cache):
                    os.replace(tmp, archive)
                    for other in os.listdir(cache):
                        if not other.startswith(key + ".") and other != "conf":
                            os.remove(os.path.join(cache, other))
                else:
                    os.remove(tmp)
            if os.path.exists(claim):
                os.remove(claim)
        if os.path.exists(archive):
            return [f"-XX:SharedArchiveFile={archive}"], empty_conf, None
        # fails (FileExistsError) while another session dumps this key
        fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        tmp = os.path.join(cache, f"{key}.{uuid.uuid4().hex[:12]}.tmp")
        dump = [f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off,cds+dynamic=off"]
        return dump, empty_conf, claim
    except OSError:
        return [], None, None


def _cds_launch_options() -> tuple[list[str], str | None, str | None]:
    """``_cds_java_options`` for a session that will launch a new JVM; no
    flags when the JVM already runs (a reused gateway, or a driver
    started by ``spark-submit``) or when the cache cannot be used."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return [], None, None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(base, "fluss_iceberg_spark", "cds")
    return _cds_java_options(cache, conf_dir, _java_binary(), spark_home)


def get_spark(
    app_name: str = "fluss-iceberg-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    from pyspark import SparkContext

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
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "spark.python.daemon.module": "fluss_iceberg_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        **(extra_conf or {}),
    }
    flags, conf_dir, claim = [], None, None
    if "spark.driver.extraClassPath" not in conf:
        flags, conf_dir, claim = _cds_launch_options()
    if flags:
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            [*flags, conf.get("spark.driver.defaultJavaOptions", "")]
        ).strip()
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is not None:
            if saved_conf_dir is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if claim is not None:
        # the claim names the dumping JVM (spark-submit execs into it), so
        # it stays held until that JVM has written the archive and exited
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError), open(claim, "w") as f:
                f.write(str(proc.pid))
    spark.sparkContext.setLogLevel("WARN")
    return spark
