"""Python worker daemon with the engine's kernel libraries preloaded.

Spark forks every Python UDF worker from one long-lived daemon process
(``pyspark.daemon``). The engine's Arrow kernels (minhash, CDC chunking,
centroid assignment, perplexity, multimodal decoders) all import
numpy/pandas/pyarrow at task start — on a fresh session the FIRST
Python stage pays that import in every one of the (up to) 32 forked
workers concurrently, measured at 2-8 s of per-task blocking on this
box (guide §4.5: heavyweight init belongs before the fork, amortised
over every task).

Importing those modules HERE — in the daemon, before any fork — makes
each worker inherit the loaded modules through copy-on-write fork
memory: worker startup returns to process-fork cost. This is plugged in
via the documented ``spark.python.daemon.module`` conf (session.py) and
changes nothing about worker semantics — ``pyspark.daemon.manager()``
still runs the standard protocol.

Zip directory reuse. PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of EVERY task, and under
Python 3.11 each cached ``zipimporter`` answers by re-reading its
archive's whole central directory. A worker holds one importer per
package directory inside ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328
entries) plus the engine zip — ~135 re-reads per task, ~0.25 s of
worker CPU on a 4-vCPU VM, most of a short Python task's time. :func:`install` replaces
``zipimporter.invalidate_caches`` with a version that re-reads an
archive only when its identity (inode, size, mtime_ns) differs from the
one recorded before the cached directory was read; otherwise the
importer is pointed back at the shared ``zipimport._zip_directory_cache``
entry. An archive replaced or rewritten in place gets a new identity and
is re-read, so a changed zip still imports its new contents. It runs
before the fork, so every worker inherits it and the directories read
here.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# Preload order mirrors import weight: pandas pulls numpy and dateutil;
# pyarrow is what Arrow-serialized UDF batches deserialize through.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

from pyspark.daemon import manager

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> identity stat'ed just before its cached directory was read
_read_as: dict[str, tuple[int, int, int]] = {}


def _identity(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    unchanged archive. The identity is taken BEFORE the read it keys, so
    a matching identity means the cached directory is at least as new as
    the file."""
    ident = _identity(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if ident is not None and files is not None and _read_as.get(self.archive) == ident:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if ident is None:
        _read_as.pop(self.archive, None)
    else:
        _read_as[self.archive] = ident


def install() -> None:
    """Install the zip directory reuse hook and record the identity of
    every archive already imported from, so the forked workers start with
    no re-read pending."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    manager()
