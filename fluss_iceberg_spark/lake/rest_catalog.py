"""REST catalog facade over a lake warehouse — the S18 service role.

The reference deploys an Iceberg REST catalog service that every engine
talks to for table metadata and commit CAS (docker-compose.yml:126-137
runs the catalog container; trino/iceberg.properties:2-6 points Trino at
``rest`` + S3 FileIO; README.md:129-133 shows a second engine reading
the same tables through it). This module serves that role for the
snapshot-log stand-in: a localhost HTTP service over a warehouse
directory, speaking the REST-catalog interaction shapes —

- ``GET  /v1/config``                      → warehouse root
- ``GET  /v1/namespaces``                  → the single namespace
  (``["default"]`` — directory-per-table warehouses are flat)
- ``GET  /v1/namespaces/default/tables``   → table identifiers in the
  spec's ``{"identifiers": [{"namespace": [...], "name": ...}]}`` shape
- ``GET  /v1/namespaces/default/tables/{name}`` → current table
  metadata: schema, properties, current version, the snapshot document,
  and the snapshot's data/delete files resolved to ABSOLUTE paths (the
  FileIO role: a reader needs no knowledge of the warehouse layout);
  plus ``metadata-location`` when an Iceberg-format metadata export
  exists (lake/iceberg_meta.py)
- ``GET  /v1/namespaces/default/tables/{name}/snapshots/{N}`` → the
  same at version N (time travel; a stand-in extension — the spec
  exposes time travel through the metadata document itself)
- ``POST /v1/namespaces/default/tables/{name}`` → the spec's
  updateTable commit shape: body ``{"requirements": [{"type":
  "assert-current-version", "version": N}], "updates": [{"action":
  "set-current-version", "version": M}]}`` compare-and-swaps the
  VERSION pointer N→M atomically UNDER THE SAME COMMIT SECTION every
  writer uses (``commit.publish_pointer``, lake/commit.py),
  answering 409 on a stale expectation (the Iceberg REST
  ``CommitFailedException`` shape). M must name an existing
  staged/published snapshot — the facade moves pointers, it never
  invents state.
- ``POST /v1/transactions/commit``         → the spec's
  commitTransaction shape: ``{"table-changes": [{"name": ...,
  "requirements": [...], "updates": [...], "staged-versions": [...]},
  ...]}`` — ``commit.publish_txn``, the same call an in-process
  CatalogTransaction makes: ALL tables' expectations verified, ALL
  staged snapshots linked public, an intent file written (the commit
  point), then every pointer flipped, all under ONE commit section. A
  failure before the intent aborts every table, one after it rolls
  forward; readers never observe a partial transaction.

Legacy flat routes (``/v1/tables...``, POST ``.../commit`` with the
dict-shaped body) remain as aliases. Route/payload divergence from the
Iceberg REST spec, stated: paths omit the ``{prefix}`` segment; the
requirement/update type names are stand-in ones (``assert-current-
version`` / ``set-current-version``) because the underlying metadata
model is a VERSION pointer over snapshot-log JSON, not Iceberg's
``metadata_location`` + snapshot-id refs (the spec's
``assert-ref-snapshot-id`` / ``add-snapshot``); ``staged-versions`` in
the transaction body is a stand-in extension (the spec ships staged
metadata inside the update objects themselves).

What this proves (and what it doesn't): a SECOND PROCESS with no engine
code — a plain pyarrow/DuckDB script — can discover and read a committed
table's current snapshot through the facade, and pointer flips serialize
through the catalog service across processes
(tests/test_rest_catalog.py). The metadata/data FORMAT remains the
stand-in's (snapshot-log JSON + parquet), not Iceberg's binary
manifests — the remaining third of S18, untestable without the
Spark–Iceberg runtime jars.

The server and the client helpers use only the standard library and
lake/commit.py, but importing this module loads the package, and the
package ``__init__`` loads pyspark. A consumer process needs none of
it: any HTTP client reads the tables (tests/test_rest_catalog.py's
reader subprocess imports nothing from the engine).
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from fluss_iceberg_spark.lake import commit, coordinator
from fluss_iceberg_spark.lake.commit import CommitConflictError


def enable_for_writers(warehouse: str, endpoint: str) -> None:
    """Route every future pointer commit in ``warehouse`` through the
    facade at ``endpoint`` — single-table commits stage under
    rest-v{N}.json and POST the CAS (lake/table._commit), multi-table
    transactions POST the whole publish to /v1/transactions/commit
    (CatalogTransaction._commit_via_rest) — the deployment topology
    where writers never touch catalog state directly. WAP
    fast_forward keeps its direct lock-held flip under the same
    section. Atomic merge into _catalog.json so a commit-coordinator
    opt-in coexists."""
    coordinator.merge_catalog_key(warehouse, "rest-catalog", endpoint)


def _table_path(warehouse: str, name: str) -> str:
    if not commit.is_valid_table_name(name):
        raise _BadRequest(f"invalid table name {name!r}")
    return os.path.join(warehouse, name)


def _table_doc(warehouse: str, name: str, version: int | None = None) -> dict:
    """Assemble the metadata document a reader needs: table meta,
    resolved snapshot, absolute file paths. Raises FileNotFoundError /
    ValueError for the handler to map to 404/400."""
    tpath = _table_path(warehouse, name)
    with open(os.path.join(tpath, "meta", "table.json")) as f:
        meta = json.load(f)
    # VERSION is read OUTSIDE the commit section (GETs must not queue
    # behind commits), so a racing expire_snapshots or pointer flip can
    # delete v{current}.json between the pointer read and the open. For
    # a CURRENT-snapshot request that is transient by construction —
    # re-read the pointer and retry once; only an explicit version=N
    # request may legitimately 404.
    for attempt in (0, 1):
        current = commit.read_version(tpath)
        v = current if version is None else int(version)
        try:
            if v < 0:  # empty table: no snapshot yet
                snap = None
            else:
                with open(commit.snapshot_path(tpath, v)) as f:
                    snap = json.load(f)
            break
        except FileNotFoundError:
            if version is not None or attempt:
                raise
    doc = {
        "name": name,
        "location": tpath,
        "schema": meta.get("schema"),
        "primary-key": meta.get("primary_key") or [],
        "properties": meta.get("properties") or {},
        "current-version": current,
        "snapshot-version": v,
        "snapshot": snap,
    }
    if snap is not None:
        doc["data-files"] = [os.path.join(tpath, f) for f in snap.get("files", [])]
        doc["delete-files"] = [
            os.path.join(tpath, f) for f in snap.get("delete_files", []) or []
        ]
    else:
        doc["data-files"] = []
        doc["delete-files"] = []
    # Iceberg-format metadata export, when one exists (the spec's
    # LoadTableResult carries metadata-location; lake/iceberg_meta.py
    # writes metadata/v{K}.metadata.json + version-hint.text)
    hint = os.path.join(tpath, "metadata", "version-hint.text")
    try:
        with open(hint) as f:
            k = int(f.read().strip())
        mloc = os.path.join(tpath, "metadata", f"v{k}.metadata.json")
        if os.path.exists(mloc):
            doc["metadata-location"] = mloc
    except (OSError, ValueError):
        pass
    return doc


def _parse_change(body: dict) -> tuple[int, int]:
    """(expected, target) from EITHER commit-body shape: the spec's
    list form — requirements ``[{"type": "assert-current-version",
    "version": N}]``, updates ``[{"action": "set-current-version",
    "version": M}]`` — or the legacy dict form
    ``{"expected-version": N} / {"set-current-version": M}``."""
    req, upd = body.get("requirements") or {}, body.get("updates") or {}
    try:
        if isinstance(req, list):
            (expected,) = [
                int(r["version"])
                for r in req
                if r.get("type") == "assert-current-version"
            ]
        else:
            expected = int(req["expected-version"])
        if isinstance(upd, list):
            (target,) = [
                int(u["version"])
                for u in upd
                if u.get("action") == "set-current-version"
            ]
        else:
            target = int(upd["set-current-version"])
    except (KeyError, TypeError, ValueError):
        raise _BadRequest(
            "commit body needs exactly one assert-current-version "
            "requirement and one set-current-version update (spec list "
            "form) or integer requirements.expected-version and "
            "updates.set-current-version (legacy dict form)"
        )
    return expected, target


def _cas_commit(warehouse: str, name: str, body: dict) -> dict:
    """Pointer CAS (``commit.publish_pointer``): the target is either an
    already-published snapshot (a pure pointer move — rollback) or a
    writer's staged ``rest-v{N}.json``, linked public inside the commit
    section. Returns the new state dict; raises CommitConflictError /
    _BadRequest for HTTP mapping."""
    expected, target = _parse_change(body)
    try:
        commit.publish_pointer(
            _table_path(warehouse, name), expected, target, staged=commit.REST
        )
    except ValueError as e:
        raise _BadRequest(str(e)) from None
    return {"name": name, "current-version": target}


def _txn_commit(warehouse: str, body: dict) -> dict:
    """Multi-table atomic commit — the Iceberg REST spec's
    commitTransaction role, run by ``commit.publish_txn`` (the call an
    in-process CatalogTransaction makes): verify → link → intent →
    publish under ONE commit section. Body: ``{"table-changes":
    [{"name", "requirements", "updates", "staged-versions": [every
    snapshot version the txn staged for the table — intermediate ones
    too, all needing publication]}]}``."""
    changes = body.get("table-changes")
    if not isinstance(changes, list) or not changes:
        raise _BadRequest("body needs a non-empty table-changes list")
    entries = []  # (tpath, expected, target, [versions to link])
    for ch in changes:
        name = ch.get("name") or (ch.get("identifier") or {}).get("name")
        expected, target = _parse_change(ch)
        versions = ch.get("staged-versions") or [target]
        try:
            versions = sorted({int(v) for v in versions} | {target})
        except (TypeError, ValueError):
            raise _BadRequest("staged-versions must be integers")
        entries.append(
            (_table_path(warehouse, name or ""), expected, target, versions)
        )
    commit.publish_txn(warehouse, entries)
    return {
        "results": [
            {"name": os.path.basename(tpath), "current-version": target}
            for tpath, _, target, _ in entries
        ]
    }


class _BadRequest(ValueError):
    pass


class _Handler(BaseHTTPRequestHandler):
    server_version = "FlussLakeRestCatalog/1"

    def log_message(self, *a):  # quiet: tests assert on payloads
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _route(self):
        wh = self.server.warehouse  # type: ignore[attr-defined]
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        if parts == ["v1", "config"]:
            return {"warehouse": wh, "defaults": {}, "overrides": {}}
        if parts == ["v1", "namespaces"]:
            return {"namespaces": [["default"]]}
        # spec-shaped namespace-scoped paths alias the flat legacy ones
        # (single flat namespace — see module docstring)
        if len(parts) >= 3 and parts[:2] == ["v1", "namespaces"]:
            if parts[2] != "default":
                raise FileNotFoundError(self.path)
            spec = True
            parts = ["v1"] + parts[3:]
        else:
            spec = False
        if parts == ["v1", "tables"]:
            names = sorted(
                n
                for n in os.listdir(wh)
                if os.path.exists(os.path.join(wh, n, "meta", "table.json"))
            )
            if spec:
                return {
                    "identifiers": [
                        {"namespace": ["default"], "name": n} for n in names
                    ]
                }
            return {"identifiers": names}
        if len(parts) >= 3 and parts[:2] == ["v1", "tables"]:
            name = parts[2]
            if len(parts) == 3:
                return _table_doc(wh, name)
            if len(parts) == 5 and parts[3] == "snapshots":
                try:
                    v = int(parts[4])
                except ValueError:
                    raise _BadRequest(
                        f"snapshot version must be an integer, got {parts[4]!r}"
                    )
                return _table_doc(wh, name, version=v)
        raise FileNotFoundError(self.path)

    def do_GET(self):
        try:
            self._send(200, self._route())
        except (FileNotFoundError, NotADirectoryError):
            self._send(404, {"error": f"not found: {self.path}"})
        except _BadRequest as e:
            self._send(400, {"error": str(e)})
        except Exception as e:  # a broken request must not kill the server
            self._send(500, {"error": f"{type(e).__name__}: {e}"})

    def do_POST(self):
        wh = self.server.warehouse  # type: ignore[attr-defined]
        try:
            parts = [p for p in self.path.split("/") if p]
            n = int(self.headers.get("Content-Length", "0"))
            body = json.loads(self.rfile.read(n) or b"{}")
            if parts == ["v1", "transactions", "commit"]:
                self._send(200, _txn_commit(wh, body))
                return
            # spec updateTable: POST /v1/namespaces/default/tables/{name}
            if (
                len(parts) == 5
                and parts[:3] == ["v1", "namespaces", "default"]
                and parts[3] == "tables"
            ):
                name = parts[4]
            # legacy: POST /v1/tables/{name}/commit
            elif (
                len(parts) == 4
                and parts[:2] == ["v1", "tables"]
                and parts[3] == "commit"
            ):
                name = parts[2]
            else:
                raise FileNotFoundError(self.path)
            self._send(200, _cas_commit(wh, name, body))
        except FileNotFoundError:
            self._send(404, {"error": f"not found: {self.path}"})
        except CommitConflictError as e:
            self._send(409, {"error": str(e)})
        except (_BadRequest, json.JSONDecodeError) as e:
            self._send(400, {"error": str(e)})
        except Exception as e:
            self._send(500, {"error": f"{type(e).__name__}: {e}"})


class RestCatalogServer:
    """Localhost HTTP facade over one warehouse. ``start()`` binds an
    ephemeral port and serves from a daemon thread; ``endpoint`` is the
    base URL a client passes to the helpers below."""

    def __init__(self, warehouse: str, host: str = "127.0.0.1", port: int = 0):
        self.warehouse = os.path.abspath(warehouse)
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.warehouse = self.warehouse  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "RestCatalogServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


# ---- client helpers (stdlib-only; usable from an engine-free process) ----


def http_json(url: str, body: dict | None = None, timeout: float = 10.0):
    """GET (body None) or POST json; returns (status, payload)."""
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def fetch_table(endpoint: str, name: str, version: int | None = None) -> dict:
    url = f"{endpoint}/v1/tables/{name}"
    if version is not None:
        url += f"/snapshots/{version}"
    status, doc = http_json(url)
    if status != 200:
        raise RuntimeError(f"GET {url} -> {status}: {doc}")
    return doc


def cas_commit(endpoint: str, name: str, expected: int, target: int) -> tuple:
    """(status, payload) of a pointer CAS through the facade — the
    spec's updateTable route and list-shaped body."""
    return http_json(
        f"{endpoint}/v1/namespaces/default/tables/{name}",
        body={
            "requirements": [
                {"type": "assert-current-version", "version": expected}
            ],
            "updates": [{"action": "set-current-version", "version": target}],
        },
    )


def commit_transaction(endpoint: str, changes: list[dict]) -> tuple:
    """(status, payload) of a multi-table atomic commit through the
    facade. ``changes``: [{"name", "expected", "target",
    "staged_versions"}] — translated to the commitTransaction body."""
    return http_json(
        f"{endpoint}/v1/transactions/commit",
        body={
            "table-changes": [
                {
                    "name": c["name"],
                    "requirements": [
                        {
                            "type": "assert-current-version",
                            "version": c["expected"],
                        }
                    ],
                    "updates": [
                        {
                            "action": "set-current-version",
                            "version": c["target"],
                        }
                    ],
                    "staged-versions": c.get("staged_versions")
                    or [c["target"]],
                }
                for c in changes
            ]
        },
    )
