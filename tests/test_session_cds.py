"""The driver JVM's class-data-sharing archive (session._cds_java_options).

The flag decision depends only on the cache dir, the conf dir and the
files in them, so most of these tests build both under tmp_path and start
no Spark session; the archive checks run the real ``java -version``. One
test starts a session in a child process and reads the driver JVM's
arguments back."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import time

import pytest

from fluss_iceberg_spark import session
from fluss_iceberg_spark.session import _cds_java_options, _cds_key, _driver_classpath

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _never(*_):
    raise AssertionError("no archive should be validated")


@pytest.fixture
def env(tmp_path):
    """(cache, conf dir holding only templates, java, spark home) of the
    real JDK and Spark install."""
    from pyspark.find_spark_home import _find_spark_home

    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    return str(tmp_path / "cache"), str(conf), session._java_binary(), _find_spark_home()


def _dump_small_archive(java: str, classpath: str, out: str) -> None:
    """A complete dynamic archive in under a second: the classes of
    ``java -version`` on the driver's classpath."""
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={out}", "-Xlog:cds=off,cds+dynamic=off",
         "-cp", classpath, "-version"],
        check=True, capture_output=True,
    )


def test_missing_archive_dumps_at_exit_and_never_maps(env):
    cache, conf, java, spark_home = env
    flags, conf_dir, claim = _cds_java_options(cache, conf, java, spark_home, _never)
    assert len(flags) == 2 and flags[0].startswith("-XX:ArchiveClassesAtExit=")
    tmp = flags[0].split("=", 1)[1]
    assert os.path.dirname(tmp) == cache and tmp.endswith(".tmp") and not os.path.exists(tmp)
    assert not any("SharedArchiveFile" in f for f in flags)
    # the templates-only conf dir is swapped for an empty one in the cache
    assert conf_dir == os.path.join(cache, "conf") and os.listdir(conf_dir) == []
    assert claim is not None and os.path.exists(claim)


def test_held_claim_blocks_a_second_dump(env):
    cache, conf, java, spark_home = env
    first, _, claim = _cds_java_options(cache, conf, java, spark_home, _never)
    assert first
    assert _cds_java_options(cache, conf, java, spark_home, _never) == ([], None, None)
    # a claim whose process is gone, or one past its age, blocks nothing
    with open(claim, "w") as f:
        f.write("999999999")
    assert _cds_java_options(cache, conf, java, spark_home, _never)[0]
    old = time.time() - session._CLAIM_STALE_S - 60
    os.utime(claim, (old, old))
    with open(claim, "w") as f:
        f.write(str(os.getpid()))
    os.utime(claim, (old, old))
    assert _cds_java_options(cache, conf, java, spark_home, _never)[0]


def test_conf_dir_with_real_config_gets_no_flags(env, monkeypatch):
    cache, conf, java, spark_home = env
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.sql.shuffle.partitions 7\n")
    monkeypatch.setenv("SPARK_CONF_DIR", conf)
    assert _cds_java_options(cache, conf, java, spark_home, _never) == ([], None, None)
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert not os.path.exists(cache)


def test_unwritable_cache_gets_no_flags(env, tmp_path):
    _, conf, java, spark_home = env
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert _cds_java_options(str(blocker / "cds"), conf, java, spark_home) == ([], None, None)


def test_truncated_dump_is_deleted_and_a_complete_one_published(env, tmp_path, monkeypatch):
    cache, conf, java, spark_home = env
    monkeypatch.chdir(tmp_path)
    os.makedirs(os.path.join(cache, "conf"))
    key = _cds_key(java, spark_home)
    classpath = _driver_classpath(os.path.join(cache, "conf"), spark_home)
    full = str(tmp_path / "full.jsa")
    _dump_small_archive(java, classpath, full)
    with open(full, "rb") as f:
        data = f.read()
    # an archive cut short by a killed JVM, and 1 MB of junk behind a valid magic
    with open(os.path.join(cache, f"{key}.cut.tmp"), "wb") as f:
        f.write(data[: len(data) // 2])
    with open(os.path.join(cache, f"{key}.junk.tmp"), "wb") as f:
        f.write(data[:4] + os.urandom(1 << 20))
    with open(os.path.join(cache, "0123456789abcdef.jsa"), "wb") as f:
        f.write(b"an archive of another JDK")
    flags, _, claim = _cds_java_options(cache, conf, java, spark_home)
    assert not any("SharedArchiveFile" in f for f in flags)
    assert flags[0].startswith("-XX:ArchiveClassesAtExit=") and claim is not None
    assert sorted(os.listdir(cache)) == sorted(["conf", "0123456789abcdef.jsa", f"{key}.claim"])

    # the dump of that claim completes; the next start publishes and maps it
    os.remove(claim)
    os.replace(full, flags[0].split("=", 1)[1])
    flags, conf_dir, claim = _cds_java_options(cache, conf, java, spark_home)
    archive = os.path.join(cache, f"{key}.jsa")
    assert flags == [f"-XX:SharedArchiveFile={archive}"] and claim is None
    assert conf_dir == os.path.join(cache, "conf")
    # publishing a key removes the archives of every other key
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.jsa"])
    assert not [f for f in os.listdir(tmp_path) if f.startswith(("hs_err", "core"))]


def test_default_cpus_follow_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(session).DEFAULT_CPUS == len(os.sched_getaffinity(0))
    finally:
        monkeypatch.undo()
        importlib.reload(session)


_PROBE = """
import json
from fluss_iceberg_spark.session import get_spark
spark = get_spark(cpus=1, extra_conf={"spark.driver.extraJavaOptions": "-Dprobe.extra=1"})
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_live_session_carries_archive_and_extra_java_options(env, tmp_path):
    _, _, java, spark_home = env
    cache = str(tmp_path / "fluss_iceberg_spark" / "cds")  # the child's $XDG_CACHE_HOME
    key = _cds_key(java, spark_home)
    os.makedirs(os.path.join(cache, "conf"))
    _dump_small_archive(java, _driver_classpath(os.path.join(cache, "conf"), spark_home),
                        os.path.join(cache, f"{key}.jsa"))
    child_env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    child_env.update(XDG_CACHE_HOME=str(tmp_path),
                     PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=child_env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert f"-XX:SharedArchiveFile={os.path.join(cache, f'{key}.jsa')}" in args
    assert "-Dprobe.extra=1" in args
