"""The on-disk commit protocol of a lake warehouse — one implementation
behind every entry point: ``LakeTable`` commits and ``CatalogTransaction``
publishes (lake/table.py) and the REST catalog facade's CAS and
commitTransaction routes (lake/rest_catalog.py). Standard library only.

Per table, under ``{warehouse}/{name}/meta/``:

- ``VERSION`` — the current snapshot pointer, flipped by atomic replace;
- ``v{N}.json`` — published snapshot N (readers list only these);
- ``txn-v{N}.json`` / ``rest-v{N}.json`` — snapshot N staged by an open
  transaction / a facade-routed commit: names no reader lists, hard-linked
  into their public ``v{N}.json`` place at publish.

Per warehouse:

- the commit section: an ``flock`` on ``_commit.lock``, or the
  coordinator service ``_catalog.json`` names (lake/coordinator.py) —
  every pointer check→flip of every entry point runs inside it;
- ``_txn/txn-<id>.json`` — a multi-table publish's intent, its commit
  point: once it exists the publish only ever rolls forward.
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from contextlib import contextmanager

TXN = "txn-"  # staged-name prefix of a transaction's snapshots
REST = "rest-"  # staged-name prefix of a facade-routed commit's snapshot


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency commit rejection — the role the Iceberg REST
    catalog's compare-and-swap plays (docker-compose.yml:126-137). Raised
    when a commit is based on a stale table version (logical CAS) or when
    a racing writer already claimed the target snapshot file (physical
    CAS via exclusive-create)."""


def atomic_write(path: str, payload: str) -> None:
    """Replace ``path`` with ``payload`` all-or-nothing (temp file +
    ``os.replace``); a failed replace removes its temp file."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(payload)
    try:
        os.replace(tmp, path)
    except OSError:
        os.remove(tmp)
        raise


def exclusive_write(path: str, payload: str) -> None:
    """Write ``payload`` to ``path`` all-or-nothing, failing with
    CommitConflictError if ``path`` already exists. The payload is written
    to a temp file first, then linked into place — ``os.link`` is atomic
    and fails on an existing target, so a racing same-version writer loses
    the race instead of silently overwriting, and a crash mid-write can
    never leave a partial snapshot visible."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(payload)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent writer already committed {os.path.basename(path)}"
        ) from None
    finally:
        os.unlink(tmp)


def catalog_key(warehouse: str, key: str) -> str | None:
    """One key of the warehouse's ``_catalog.json`` (the stand-in for a
    deployment's catalog URI settings), or None when unset or unreadable:
    "commit-coordinator" names the lock service, "rest-catalog" the
    facade that writers route their pointer commits through."""
    try:
        with open(os.path.join(warehouse, "_catalog.json")) as f:
            return json.load(f).get(key) or None
    except (OSError, ValueError):
        return None


def is_valid_table_name(name: str) -> bool:
    """A table name must resolve to a DIRECT child of the warehouse: the
    commit section is derived from a table path's parent, so a name that
    escapes ('.', '..', either path separator) would serialize against
    another warehouse's lock."""
    return bool(name) and name not in (".", "..") and "/" not in name and "\\" not in name


def warehouse_of(tpath: str) -> str:
    """The warehouse root = the table dir's parent (table names hold no
    path separators, so this cannot alias)."""
    return os.path.dirname(os.path.abspath(tpath).rstrip(os.sep))


@contextmanager
def commit_section(warehouse: str):
    """Serialize VERSION-pointer flips across every writer of a warehouse
    (the filesystem stand-in for the REST catalog's commit CAS,
    docker-compose.yml:126-137), held across each check→flip. Pointer
    flips are tiny metadata writes, so serializing them costs nothing at
    any scale — data writes stay fully concurrent.

    A warehouse whose ``_catalog.json`` names a "commit-coordinator"
    acquires the section from that service (the catalog process is the
    serialization point, lease released on connection death); otherwise
    an ``flock`` on ``_commit.lock`` (released by the OS on process
    death). Either way a crashed holder can never wedge the catalog.
    ``flock`` is per open file, so a holder must not re-enter."""
    wh = os.path.abspath(warehouse).rstrip(os.sep)
    os.makedirs(wh, exist_ok=True)
    endpoint = catalog_key(wh, "commit-coordinator")
    if endpoint:
        from fluss_iceberg_spark.lake import coordinator

        client = coordinator.CoordinatorClient(endpoint, scope=wh)
        try:
            yield
        finally:
            client.close()
        return
    fd = os.open(os.path.join(wh, "_commit.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def snapshot_path(tpath: str, version: int, staged: str = "") -> str:
    """Path of snapshot ``version``: public, or under the ``staged``
    prefix (TXN / REST)."""
    return os.path.join(tpath, "meta", f"{staged}v{version}.json")


def staged_version(fname: str, staged: str) -> int | None:
    """N when ``fname`` is the staged name ``{staged}v{N}.json``."""
    prefix = f"{staged}v"
    if fname.startswith(prefix) and fname.endswith(".json"):
        try:
            return int(fname[len(prefix):-len(".json")])
        except ValueError:
            return None
    return None


def _version_file(tpath: str) -> str:
    return os.path.join(tpath, "meta", "VERSION")


def read_version(tpath: str) -> int:
    """The table's current snapshot pointer; -1 before its first commit."""
    vf = _version_file(tpath)
    if not os.path.exists(vf):
        return -1
    with open(vf) as f:
        return int(f.read().strip())


def flip_pointer(tpath: str, version: int) -> None:
    """Point the table at snapshot ``version``. Callers hold the commit
    section and have checked the pointer they replace."""
    atomic_write(_version_file(tpath), str(version))


def publish_pointer(
    tpath: str, expected: int, target: int, staged: str | None = None
) -> None:
    """Compare-and-swap the table's pointer ``expected`` → ``target``
    under the commit section. With ``staged`` (a staged-name prefix), a
    target not yet public is first linked from its staged name into its
    public place — the moment the snapshot becomes readable, so a publish
    that never gets here leaves no phantom snapshot — and the staged name
    is removed once the pointer names it. A failed flip removes that
    public link again and leaves the staged name to the caller, whose
    failure handling reads it as "never applied". An already-public
    target is a pure pointer move.

    Raises CommitConflictError on a stale ``expected`` (nothing touched)
    and ValueError when the target is neither public nor staged."""
    name = os.path.basename(tpath.rstrip(os.sep))
    with commit_section(warehouse_of(tpath)):
        current = read_version(tpath)
        if current != expected:
            raise CommitConflictError(
                f"concurrent commit advanced {name} to v{current} "
                f"(this commit was based on v{expected})"
            )
        public = snapshot_path(tpath, target)
        src = None
        if staged is not None and not os.path.exists(public):
            src = snapshot_path(tpath, target, staged)
            try:
                os.link(src, public)
            except FileNotFoundError:
                raise ValueError(
                    f"v{target} is neither a published snapshot of {name} "
                    "nor staged for publication"
                ) from None
        try:
            flip_pointer(tpath, target)
        except OSError:
            if src is not None:  # unpublish: the staged name stays the caller's
                os.remove(public)
            raise
        if src is not None:
            os.remove(src)


def publish_txn(
    warehouse: str, entries: list[tuple[str, int, int, list[int]]]
) -> None:
    """Publish a multi-table transaction atomically under ONE commit
    section. ``entries``: (table path, expected pointer, target version,
    every version the transaction staged under ``txn-v{N}.json`` for the
    table — intermediate ones too).

    1. verify every pointer still holds its expected value;
    2. hard-link every staged name into its public ``v{N}.json`` place
       (exclusive: a racing writer that claimed the id wins);
    3. write the ``_txn/txn-<id>.json`` intent — THE commit point;
    4. flip every pointer, drop the intent, drop the staged names.

    A failure before the intent removes only the links this call made
    (inode identity: never a racer's file) and raises; the staged names
    stay for the caller's abort. From the intent on the publish is
    durable and only rolls forward: a failed flip is retried by the
    roll-forward sweep at once, and whatever is left the intent lets the
    next ``recover`` finish. Nothing after the intent raises OSError."""
    with commit_section(warehouse):
        for tpath, expected, _, _ in entries:
            current = read_version(tpath)
            if current != expected:
                raise CommitConflictError(
                    f"concurrent commit advanced {os.path.basename(tpath)} "
                    f"to v{current} during the transaction"
                )
        linked: list[tuple[str, str]] = []  # (staged, public) this call made
        try:
            for tpath, _, _, versions in entries:
                name = os.path.basename(tpath)
                for v in versions:
                    staged = snapshot_path(tpath, v, TXN)
                    public = snapshot_path(tpath, v)
                    try:
                        os.link(staged, public)
                    except FileExistsError:
                        raise CommitConflictError(
                            f"concurrent writer claimed snapshot v{v} of "
                            f"{name} during the transaction"
                        ) from None
                    except FileNotFoundError:
                        raise CommitConflictError(
                            f"transaction expired: staged snapshot "
                            f"{TXN}v{v}.json of {name} was swept "
                            "(remove_orphan_files ran past its older_than "
                            "horizon while this transaction was still open)"
                        ) from None
                    linked.append((staged, public))
            intent_dir = os.path.join(warehouse, "_txn")
            os.makedirs(intent_dir, exist_ok=True)
            intent = os.path.join(intent_dir, f"txn-{uuid.uuid4().hex}.json")
            atomic_write(
                intent,
                json.dumps({
                    "entries": [
                        {"path": tpath, "version": target}
                        for tpath, _, target, _ in entries
                    ]
                }),
            )
        except Exception:
            for staged, public in linked:
                try:
                    if os.path.samefile(staged, public):
                        os.remove(public)
                except FileNotFoundError:
                    pass
            raise
        try:
            for tpath, _, target, _ in entries:
                flip_pointer(tpath, target)
            os.remove(intent)
        except OSError:
            try:
                _roll_forward(warehouse)
            except OSError:
                pass  # the intent stays; the next recover() finishes
        for staged, _ in linked:
            try:
                os.remove(staged)
            except OSError:
                pass  # reader-invisible debris; remove_orphan_files sweeps it


def _roll_forward(warehouse: str) -> None:
    """Finish every intent in ``_txn/``: flip each entry's pointer unless
    it already reached (or passed) the entry's version, then drop the
    intent. The caller holds the commit section."""
    intent_dir = os.path.join(warehouse, "_txn")
    for fn in sorted(os.listdir(intent_dir)):
        if not fn.endswith(".json"):
            continue  # a failed intent write's temp file, never an intent
        p = os.path.join(intent_dir, fn)
        try:
            with open(p) as f:
                intent = json.load(f)
        except (OSError, ValueError):
            continue
        for e in intent.get("entries", []):
            if not os.path.exists(snapshot_path(e["path"], e["version"])):
                continue
            if read_version(e["path"]) < e["version"]:
                flip_pointer(e["path"], e["version"])
        os.remove(p)


def recover(warehouse: str) -> None:
    """Roll FORWARD every multi-table publish that stopped after its
    intent (crash, failed flip), under the commit section — a concurrent
    commit can never be regressed by a stale re-read."""
    intent_dir = os.path.join(warehouse, "_txn")
    if not os.path.isdir(intent_dir) or not os.listdir(intent_dir):
        return
    with commit_section(warehouse):
        _roll_forward(warehouse)
