"""Catalog commit coordinator — the REST-catalog CAS service stand-in.

The reference serializes snapshot commits through an Iceberg REST
catalog's compare-and-swap (docker-compose.yml:126-137 runs the catalog
service; trino/iceberg.properties:2-6 points engines at it). This repo's
filesystem stand-in serializes the same critical section — the
check→flip of each table's VERSION pointer — behind
``commit.commit_section`` (lake/commit.py). That section has two
interchangeable implementations:

1. **flock** (default): an ``fcntl.flock`` on a warehouse-level lock
   file. Correct across processes on one host; released by the OS on
   process death.
2. **coordinator service** (this module): a standalone lock service a
   warehouse opts into by writing ``_catalog.json`` with the service's
   unix-socket endpoint. Every writer of that warehouse then acquires
   the commit section FROM THE SERVICE — the exact topology of a REST
   catalog deployment, where the catalog process (not the writers'
   filesystem) is the serialization point. Swapping 1 → 2 changes no
   commit-protocol code: the seam is ``commit_section`` itself.

Protocol (line-oriented over ``AF_UNIX``, one lock per connection):

    client: LOCK <scope>\n      server: OK\n     (blocks until granted)
    ... critical section (connection held open) ...
    client: closes connection    → lock released

Lease-by-connection gives the same crash-safety as flock: a writer that
dies mid-commit drops its socket and the OS closes it, so the server
releases the lock with no stale-lock recovery — the property a
lease/heartbeat scheme approximates in a networked REST catalog.

The server is deliberately tiny: thread-per-connection, one
``threading.Lock`` per scope string. It is a test/demo harness proving
the multi-process swap-in path works, not a production catalog — the
real deployment uses an actual Iceberg REST catalog, which this module's
seam was shaped to accept.
"""

from __future__ import annotations

import json
import os
import socket
import socketserver
import threading
import uuid

from fluss_iceberg_spark.lake import commit


def endpoint_for(warehouse: str) -> str | None:
    """The coordinator endpoint a warehouse opted into, or None (flock).

    ``_catalog.json`` sits at the warehouse root — the stand-in for the
    catalog URI in a real deployment's table metadata."""
    return commit.catalog_key(warehouse, "commit-coordinator")


def merge_catalog_key(warehouse: str, key: str, value: str) -> None:
    """Read-merge-write ONE key of ``_catalog.json`` atomically (tmp +
    os.replace): a concurrent reader never sees a truncated file, so a
    committing writer can never silently fall back to the wrong commit
    path mid-rewrite. (Two concurrent ENABLES can still last-write-win
    each other's key — opt-ins are deployment-time configuration, not a
    data path, so that's accepted.)"""
    os.makedirs(warehouse, exist_ok=True)
    cfg_path = os.path.join(warehouse, "_catalog.json")
    cfg = {}
    try:
        with open(cfg_path) as f:
            cfg = json.load(f)
    except (OSError, ValueError):
        pass
    cfg[key] = value
    commit.atomic_write(cfg_path, json.dumps(cfg))


def enable(warehouse: str, socket_path: str) -> None:
    """Point every future commit in ``warehouse`` at a coordinator.
    Merges into _catalog.json (a REST-facade opt-in may coexist)."""
    merge_catalog_key(warehouse, "commit-coordinator", socket_path)


class CoordinatorClient:
    """Holds one granted commit lock; release by ``close()`` (or death).

    ``connect_timeout`` bounds only REACHING the service (an absent
    coordinator must fail fast, not hang commits). ``timeout`` bounds
    the grant WAIT — default None blocks indefinitely under contention,
    matching the flock implementation this is interchangeable with (a
    commit must queue behind a slow publisher, not error out); pass a
    number to opt into bounded waits."""

    def __init__(
        self,
        socket_path: str,
        scope: str,
        timeout: float | None = None,
        connect_timeout: float = 10.0,
    ):
        self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            self._sock.settimeout(connect_timeout)
            self._sock.connect(socket_path)
            self._sock.sendall(f"LOCK {scope}\n".encode())
            self._sock.settimeout(timeout)  # None = wait like flock
            buf = b""
            while not buf.endswith(b"\n"):
                got = self._sock.recv(64)
                if not got:
                    raise ConnectionError("coordinator closed before grant")
                buf += got
            if buf.strip() != b"OK":
                raise ConnectionError(f"coordinator refused: {buf!r}")
        except BaseException:
            self._sock.close()  # no half-open lease on a failed acquire
            raise

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        line = self.rfile.readline(4096).decode(errors="replace").strip()
        if not line.startswith("LOCK "):
            self.wfile.write(b"ERR bad request\n")
            return
        scope = line[5:] or "_"
        lock = self.server.scope_lock(scope)  # type: ignore[attr-defined]
        with lock:
            self.wfile.write(b"OK\n")
            # hold while the client connection lives; EOF = release
            while self.rfile.readline(4096):
                pass


class CoordinatorServer(socketserver.ThreadingUnixStreamServer):
    """Thread-per-connection lock service; one Lock per scope string."""

    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, socket_path: str):
        self._scope_locks: dict[str, threading.Lock] = {}
        self._scope_guard = threading.Lock()
        super().__init__(socket_path, _Handler)

    def scope_lock(self, scope: str) -> threading.Lock:
        with self._scope_guard:
            return self._scope_locks.setdefault(scope, threading.Lock())


def serve(socket_path: str) -> CoordinatorServer:
    """Start a coordinator on ``socket_path`` in a daemon thread and
    return the server (call ``.shutdown()`` to stop)."""
    srv = CoordinatorServer(socket_path)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def _subprocess_main(path: str, ready_evt) -> None:
    # module-level so multiprocessing's spawn context can pickle it
    srv = CoordinatorServer(path)
    ready_evt.set()
    srv.serve_forever()


def serve_in_subprocess(socket_path: str | None = None):
    """Spawn a coordinator as a SEPARATE PROCESS (the real deployment
    shape — writers and catalog share no memory). Returns
    (process, socket_path); terminate the process to stop it."""
    import multiprocessing as mp

    socket_path = socket_path or f"/tmp/cas_coord_{uuid.uuid4().hex[:12]}.sock"
    ctx = mp.get_context("spawn")
    ready = ctx.Event()
    proc = ctx.Process(
        target=_subprocess_main, args=(socket_path, ready), daemon=True
    )
    proc.start()
    if not ready.wait(timeout=30):
        proc.terminate()
        raise TimeoutError("coordinator subprocess failed to start")
    return proc, socket_path
