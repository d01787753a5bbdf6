"""Snapshot-log Parquet table format (Iceberg-equivalent contract).

Layout per table, under a catalog warehouse directory::

    {warehouse}/{table}/
        meta/table.json              # schema DDL, primary key, bucket count, props
        meta/v{N}.json               # snapshot N: operation, file list, counters
        meta/VERSION                 # current snapshot pointer (atomic os.replace)
        meta/refs.json               # named refs: tags and branch heads
        data/s{N}/{W}/...parquet     # files added by snapshot N (immutable);
                                     # {W}: one directory (a uuid) per write
        deletes/s{N}/{W}/...parquet  # position / equality delete files of snapshot N
        hot/batch={B}/...parquet     # staged stream batches not yet tiered

The snapshot record and its per-file rules — manifest entries, row and
delete accounting, the path conventions above, file skipping — live in
lake/manifest.py.

Semantics mirrored from the reference:

- **Log table** (no PK): append-only; each commit adds files
  (fluss_order, README.md:141-149).
- **PK table**: MERGE upsert keyed by the primary key — later writes win
  (``PRIMARY KEY ... NOT ENFORCED``, README.md:160,168,199). Implemented
  as *bucketed copy-on-write*: rows are hash-bucketed by PK
  (``pmod(hash(pk), n_buckets)``); a merge rewrites only the buckets that
  contain updated keys and carries the untouched buckets' files forward
  into the new snapshot. At 100 TB this bounds a merge's I/O to
  (table_size / n_buckets) × touched_buckets instead of a full rewrite,
  and reads stay file-pruned per bucket.
- **NOT NULL enforcement = DROP** (sql-client.sql:50): rows with NULLs in
  declared not-null columns are silently dropped at the sink.
- **Snapshot metadata** (``t$snapshots``, README.md:274-275): the
  ``snapshots()`` DataFrame; **time travel** via ``read(version=N)``.
- **Hot∪cold union read** (README.md:296-316): ``write_hot_batch`` stages
  stream micro-batches; ``tier()`` drains staged batches ≤ a new watermark
  into the lake atomically with the snapshot commit; ``union_read()``
  returns lake ∪ still-hot batches. The watermark lives *inside* the
  snapshot json, so the dedup boundary is exactly-once: a batch is visible
  either via the lake (batch ≤ watermark) or via hot (batch > watermark),
  never both (SURVEY §4 "hardest correctness spot").

Commit protocol: data files are written first, then the snapshot json,
then the VERSION pointer flips via ``os.replace`` (atomic on POSIX) under
the warehouse's commit section — the role a real deployment gives the
Iceberg REST catalog's CAS (docker-compose.yml:126-137). The on-disk
protocol itself (names, section, pointer, multi-table intents, recovery)
lives in lake/commit.py, shared with the REST catalog facade.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Arrow-path local frames for metadata tables (guide §6): the classic
# list path pickles rows into a 32-partition Python RDD — every read of
# $snapshots/$files/$history then pays Python workers for metadata
from fluss_iceberg_spark.operators.util import (
    arrow_local_df,
    conf_bytes,
    materialized,
    right_size,
    session_conf,
)
from pyspark.sql import types as T

from fluss_iceberg_spark.lake import commit, manifest
from fluss_iceberg_spark.lake.commit import CommitConflictError
from fluss_iceberg_spark.lake.manifest import Snapshot


class CommitStateUnknownError(RuntimeError):
    """A routed commit whose outcome the client could NOT resolve — the
    Iceberg ``CommitStateUnknownException`` role: the staged snapshot
    was already consumed, but neither the pointer nor a published
    snapshot confirms the commit. The caller must NOT blindly retry
    (a retry could double-apply the write); it must inspect the table
    or re-derive the write idempotently."""


# ---------- hidden partitioning (the Iceberg partition-spec role) ----------
#
# A partition spec is a list of {"name", "col", "transform"} entries stored
# in table.json. Transforms are Iceberg's time transforms plus identity:
# identity | years | months | days | hours. Like Iceberg (and unlike Hive),
# partitioning is HIDDEN: the source column stays in the data files — the
# derived value only names the directory and is recorded per-file in the
# manifest, so queries filter on the source column and pruning happens
# from metadata without the user ever referencing a partition column.

_PARTITION_SPEC_RE = re.compile(
    r"^(?:(year|years|month|months|day|days|hour|hours)\s*\(\s*`?(\w+)`?\s*\)|`?(\w+)`?)$",
    re.I,
)

_TRANSFORM_CANON = {
    "year": "years", "years": "years",
    "month": "months", "months": "months",
    "day": "days", "days": "days",
    "hour": "hours", "hours": "hours",
}


def parse_partition_spec(specs: list[str], schema: T.StructType) -> list[dict]:
    """``["days(ts)", "region"]`` → canonical spec entries. Partition
    names follow Iceberg's convention (``ts_day``, ``region``)."""
    out = []
    for s in specs:
        m = _PARTITION_SPEC_RE.match(s.strip())
        if not m:
            raise ValueError(f"bad partition spec {s!r}")
        if m.group(3):
            col, transform = m.group(3), "identity"
            pname = col
        else:
            transform = _TRANSFORM_CANON[m.group(1).lower()]
            col = m.group(2)
            pname = f"{col}_{transform[:-1]}"  # ts_day, ts_month, ...
        if col not in schema.fieldNames():
            raise ValueError(f"partition spec {s!r}: unknown column {col!r}")
        if transform != "identity" and not isinstance(
            schema[col].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            raise ValueError(
                f"partition spec {s!r}: {transform}() needs a timestamp/date "
                f"column, got {schema[col].dataType.simpleString()}"
            )
        out.append({"name": pname, "col": col, "transform": transform})
    return out


def _partition_expr(p: dict) -> F.Column:
    """The derived directory-value column for one spec entry. All
    transforms are monotonic in the source column, which is what makes
    range predicates prunable at transform granularity."""
    c = F.col(p["col"])
    t = p["transform"]
    if t == "identity":
        return c
    if t == "years":
        return F.year(c)
    if t == "months":
        return F.date_format(c, "yyyy-MM")
    if t == "days":
        return F.to_date(c).cast("string")
    return F.date_format(c, "yyyy-MM-dd-HH")  # hours


def _where_filter(where: list[tuple]) -> F.Column:
    """The Spark filter for a scan predicate — always applied to the
    scanned rows, so results are independent of how well pruning did."""
    cond = None
    for col, op, lit in where:
        c = F.col(col)
        if op == "in":
            e = c.isin(list(lit))
        else:
            e = {
                "=": c == F.lit(lit),
                "<": c < F.lit(lit),
                "<=": c <= F.lit(lit),
                ">": c > F.lit(lit),
                ">=": c >= F.lit(lit),
            }[op]
        cond = e if cond is None else cond & e
    return cond


def _shown_parent(s: Snapshot, retained: set[int]) -> int | None:
    """The parent a metadata table shows for snapshot ``s``: its recorded
    lineage (branch commits don't chain from id-1); legacy snapshots fall
    back to the id-adjacency heuristic. Expired parents display as None,
    matching Iceberg's $snapshots."""
    if s.parent_id is not None:
        return s.parent_id if s.parent_id in retained else None
    return (
        s.snapshot_id - 1
        if s.snapshot_id > 0 and s.snapshot_id - 1 in retained
        else None
    )


def _layout_columns(
    name: str, schema: T.StructType, properties: dict
) -> dict[str, list[str]]:
    """The columns each write-layout property of table ``name`` names —
    ``write.sort-order`` (range clustering, any number of columns)
    and ``write.zorder-by`` (Morton clustering over exactly two) —
    checked against the schema. CREATE (``LakeCatalog.create_table``),
    the writer, ALTER (``set_properties``) and RENAME/DROP COLUMN
    (``_guard_column_references``) all read them here, so a bad spec
    fails at CREATE or ALTER, not at the next write.
    ``write.clustered-by``, once the one-column form of the sort
    order, is refused with a pointer to it."""
    if "write.clustered-by" in properties:
        raise ValueError(
            f"{name}: write.clustered-by is not supported; set "
            "write.sort-order to the same column (a transform such as "
            "day(ts) is ts)"
        )
    out = {}
    for prop in ("write.sort-order", "write.zorder-by"):
        spec = properties.get(prop)
        if spec is None:
            continue
        cols = [c.strip().strip("`") for c in spec.split(",") if c.strip()]
        if prop == "write.zorder-by" and (
            len(cols) != 2 or cols[0] == cols[1]
        ):
            raise ValueError(
                f"{name}: write.zorder-by must name exactly two "
                f"columns ('colA,colB'), got {spec!r}"
            )
        unknown = [c for c in cols if c not in schema.fieldNames()]
        if unknown:
            raise ValueError(
                f"{name}: {prop} columns {unknown} not in schema"
            )
        if cols:
            out[prop] = cols
    if len(out) > 1:
        raise ValueError(
            f"{name}: write.sort-order and write.zorder-by are exclusive"
        )
    return out


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta", "table.json")) as f:
            meta = json.load(f)
        self.name: str = meta["name"]
        self.schema: T.StructType = T.StructType.fromJson(meta["schema"])
        self.primary_key: list[str] = meta.get("primary_key") or []
        self.n_buckets: int = meta.get("n_buckets", 16)
        self.not_null: list[str] = meta.get("not_null") or []
        self.partition_spec: list[dict] = meta.get("partition_spec") or []
        self.properties: dict = meta.get("properties") or {}
        self.constraints: dict[str, str] = meta.get("constraints") or {}
        # Stable field ids (the Iceberg schema-evolution backbone): names
        # are labels over permanent ids, so RENAME is metadata-only and
        # old files resolve by the names they were written under.
        # Lazily initialized for legacy tables; persisted on first change.
        self.field_ids: dict[str, int] = meta.get("field_ids") or {
            f: i for i, f in enumerate(self.schema.fieldNames())
        }
        self.name_log: dict[str, list[str]] = meta.get("name_log") or {
            str(i): [f] for f, i in self.field_ids.items()
        }
        self.retired_names: list[str] = meta.get("retired_names") or []
        self.next_field_id: int = meta.get(
            "next_field_id", max(self.field_ids.values(), default=-1) + 1
        )
        # when set (on_branch), snapshot()/commits target this branch ref
        self.write_branch: str | None = None
        # when set (CatalogTransaction.table), commits stage instead of
        # publishing — the transaction flips all VERSION pointers at once
        self._txn: "CatalogTransaction | None" = None

    # ---------- snapshot log ----------

    def _meta(self, *parts: str) -> str:
        return os.path.join(self.path, "meta", *parts)

    def current_version(self) -> int:
        return commit.read_version(self.path)

    def _head(self) -> int:
        """The snapshot id the table's active ref points at: the branch
        head inside ``on_branch``, else main's VERSION pointer."""
        if self.write_branch:
            return self._refs()["branches"].get(self.write_branch, -1)
        if self._txn is not None:
            staged = self._txn.staged_version(self)
            if staged is not None:
                return staged  # read-your-own-writes inside the txn
        return self.current_version()

    def _next_version(self) -> int:
        """Next snapshot id: ids are unique across ALL refs (branch
        commits interleave with main's), so the next id clears every
        existing snapshot file, not just the active ref's head — plus
        this transaction's own staged (not yet visible) snapshots, plus
        any rest-v{N}.json a crashed facade-routed commit left behind
        (invisible to readers but holding its exclusive-create name; a
        successor must skip past it like any other orphan debris)."""
        staged = self._txn.staged_all(self) if self._txn is not None else ()
        rest_staged = -1
        meta_dir = self._meta()
        if os.path.isdir(meta_dir):
            for f in os.listdir(meta_dir):
                v = commit.staged_version(f, commit.REST)
                if v is not None:
                    rest_staged = max(rest_staged, v)
        return max(self.current_version(),
                   max(self.snapshot_versions(), default=-1),
                   max(staged, default=-1), rest_staged) + 1

    def snapshot(self, version: int | str | None = None) -> Snapshot | None:
        v = self._head() if version is None else version
        if isinstance(v, str):
            v = self.resolve_ref(v)
        if v < 0:
            return None
        # read-your-own-writes inside a transaction: this session's
        # staged (unpublished) snapshots live under txn-v{N}.json. The
        # staged name must resolve FIRST — a concurrent non-txn writer
        # can independently claim the same PUBLIC version number
        # (staged ids are invisible to its _next_version), and the txn
        # must keep reading its own stage, not the foreign snapshot
        # (the publish-time exclusive link arbitrates the collision).
        if self._txn is not None and v in self._txn.staged_all(self):
            with open(commit.snapshot_path(self.path, v, commit.TXN)) as f:
                return Snapshot.from_json(f.read())
        try:
            with open(commit.snapshot_path(self.path, v)) as f:
                return Snapshot.from_json(f.read())
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {v} does not exist (expired or never committed); "
                f"retained: {self.snapshot_versions()}"
            ) from None

    def snapshot_versions(self) -> list[int]:
        """Versions whose snapshot metadata still exists (expiry leaves
        holes below the newest retained version)."""
        out = []
        meta_dir = self._meta()
        if os.path.isdir(meta_dir):
            for f in os.listdir(meta_dir):
                if f.startswith("v") and f.endswith(".json"):
                    out.append(int(f[1:-5]))
        return sorted(out)

    # ---------- named refs (Iceberg tag role) ----------

    def _refs(self) -> dict:
        p = self._meta("refs.json")
        if not os.path.exists(p):
            return {"tags": {}, "branches": {}}
        with open(p) as f:
            d = json.load(f)
        return {
            "tags": {k: int(v) for k, v in d.get("tags", {}).items()},
            "branches": {k: int(v) for k, v in d.get("branches", {}).items()},
        }

    def _write_refs(self, refs: dict) -> None:
        commit.atomic_write(self._meta("refs.json"), json.dumps(refs))

    def tags(self) -> dict[str, int]:
        """Named immutable snapshot refs (the Iceberg tag role). Stored
        in meta/refs.json; tagged snapshots are exempt from expiry."""
        return self._refs()["tags"]

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Tag a snapshot version (default: current). Tags are immutable:
        re-tagging an existing name raises; drop_tag first."""
        v = self.current_version() if version is None else version
        if self.snapshot(v) is None:
            raise ValueError(f"{self.name}: cannot tag nonexistent snapshot v{v}")
        refs = self._refs()
        if name in refs["tags"]:
            raise ValueError(
                f"{self.name}: tag {name!r} already exists (at v{refs['tags'][name]})"
            )
        if name in refs["branches"]:
            raise ValueError(f"{self.name}: {name!r} is already a branch")
        refs["tags"][name] = v
        self._write_refs(refs)
        return v

    def drop_tag(self, name: str) -> None:
        refs = self._refs()
        refs["tags"].pop(name, None)
        self._write_refs(refs)

    def resolve_ref(self, ref: str) -> int:
        """Resolve a named ref: tags first, then branch heads."""
        refs = self._refs()
        if ref in refs["tags"]:
            return refs["tags"][ref]
        if ref in refs["branches"]:
            return refs["branches"][ref]
        raise ValueError(
            f"{self.name}: unknown ref {ref!r}; tags: {sorted(refs['tags'])}, "
            f"branches: {sorted(refs['branches'])}"
        )

    # ---------- branch refs (Iceberg branch / WAP role) ----------

    def branches(self) -> dict[str, int]:
        """Named MUTABLE snapshot refs (the Iceberg branch role): each
        maps to its head snapshot id; branch commits advance the ref,
        not the table's main VERSION pointer."""
        return self._refs()["branches"]

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Branch from a snapshot (default: current main head). The
        write-audit-publish pattern (Iceberg's spark.wap.branch):
        ``on_branch(name)`` writes land on the branch, readers of main
        see nothing until ``fast_forward(name)`` publishes it."""
        refs = self._refs()
        if name in refs["branches"]:
            raise ValueError(f"{self.name}: branch {name!r} already exists")
        if name in refs["tags"]:
            raise ValueError(f"{self.name}: {name!r} is already a tag")
        v = self.current_version() if version is None else version
        if v >= 0 and self.snapshot(v) is None:
            raise ValueError(f"{self.name}: cannot branch from nonexistent v{v}")
        refs["branches"][name] = v
        self._write_refs(refs)
        return v

    def drop_branch(self, name: str) -> None:
        refs = self._refs()
        refs["branches"].pop(name, None)
        self._write_refs(refs)

    @contextmanager
    def on_branch(self, name: str):
        """Scope reads AND writes to a branch: ``snapshot()`` resolves
        the branch head, so read()/append()/merge() inside the block see
        and advance the branch while main stays untouched."""
        if name not in self._refs()["branches"]:
            raise ValueError(f"{self.name}: unknown branch {name!r}")
        prev = self.write_branch
        self.write_branch = name
        try:
            yield self
        finally:
            self.write_branch = prev

    def fast_forward(self, branch: str) -> int:
        """Publish a branch: flip main's VERSION pointer to the branch
        head (the WAP 'publish' step). Fast-forward only — main's current
        head must be an ANCESTOR of the branch head. Comparing ids alone
        is not enough: ids are global across refs, so a branch commit can
        outnumber a main commit it never saw, and an id-only publish
        would silently discard those main rows (Iceberg's fast_forward
        makes the same ancestry check)."""
        heads = self._refs()["branches"]
        if branch not in heads:
            raise ValueError(f"{self.name}: unknown branch {branch!r}")
        head = heads[branch]

        def _descends_from(cur: int) -> bool:
            v = head
            while True:
                if v == cur:
                    return True
                if v < 0:
                    return False  # reached the empty-table root
                try:
                    s = self.snapshot(v)
                except ValueError:
                    return False  # chain expired mid-walk: unverifiable
                if s.parent_id is None:
                    # pre-lineage snapshot mid-walk: descent is
                    # UNVERIFIABLE — id ordering is not ancestry (ids
                    # are global across refs, a diverged branch can
                    # outnumber main commits it never saw), so refuse
                    # rather than risk silently discarding main rows
                    return False
                v = s.parent_id

        # walk the (possibly long) ancestry chain OUTSIDE the commit
        # lock — the lock serializes tiny pointer flips, not O(history)
        # metadata walks. Re-verify under the lock only if main moved
        # between the walk and the flip (rare; the re-walk is then the
        # price of the race, not of every publish).
        cur0 = self.current_version()
        if head == cur0:
            return head
        verified = _descends_from(cur0)
        with commit.commit_section(commit.warehouse_of(self.path)):
            cur = self.current_version()
            if head == cur:
                return head
            if cur != cur0:
                verified = _descends_from(cur)
            if not verified:
                raise ValueError(
                    f"{self.name}: branch {branch!r} head v{head} does not "
                    f"descend from main v{cur} — main advanced since the "
                    "branch point (or the chain predates lineage "
                    "tracking); not a fast-forward (re-branch and replay)"
                )
            commit.flip_pointer(self.path, head)
        return head

    def version_as_of_timestamp(self, ts_ms: int) -> int:
        """Resolve ``TIMESTAMP AS OF`` to a snapshot version: the newest
        retained snapshot committed at or before ``ts_ms`` (Iceberg's
        snapshot-log resolution; every snapshot carries committed_at_ms)."""
        cands = [
            v
            for v in self.snapshot_versions()
            if self.snapshot(v).committed_at_ms <= ts_ms
        ]
        if not cands:
            raise ValueError(
                f"{self.name}: no snapshot committed at or before "
                f"timestamp {ts_ms} ms (earliest retained: "
                f"{self.snapshot_versions()[:1]})"
            )
        return max(cands)

    # operations that move existing rows into a new file list without
    # adding any: their new files record no added rows
    _NO_ADDED_ROWS = ("compact", "rollback")

    def _commit(
        self,
        operation: str,
        parent: Snapshot | None,
        files: list[str],
        hot_watermark: int | None = None,
        summary: dict | None = None,
        delete_files: list | None = None,
        delete_meta: dict | None = None,
    ) -> Snapshot:
        """Commit ``files`` as the next snapshot on top of ``parent`` — the
        snapshot the caller computed the file list from (None: the empty
        table). It publishes only while the active ref still points at
        ``parent``, else raises CommitConflictError: a change computed
        from snapshot N never lands on a concurrent N+1 and undoes it.

        Row counts come from the manifest: ``total_rows`` is the footer
        rows of ``files`` less the tombstones still active against them,
        ``added_rows`` the footer rows of the files ``parent`` lacks
        (none for ``_NO_ADDED_ROWS``). ``delete_files=None`` inherits the
        parent's delete files that still apply to ``files``."""
        if self._txn is not None and self.write_branch:
            raise ValueError(
                "transactions do not combine with branch writes "
                "(on_branch inside a CatalogTransaction)"
            )
        base = parent.snapshot_id if parent is not None else -1
        head = self._head()
        if head != base:
            raise CommitConflictError(
                f"concurrent commit advanced {self.name} to v{head} "
                f"(this commit was based on v{base})"
            )
        version = self._next_version()
        # unchanged files carry their manifest entry forward; only files
        # new to this snapshot get one built (O(#added files))
        prev_meta = parent.file_meta if parent else {}
        file_meta = {}
        for f in files:
            m = prev_meta.get(f)
            file_meta[f] = m if m is not None else manifest.file_entry(
                self.path, f, self.properties, bool(self.partition_spec)
            )
        if delete_files is None:
            inherited = parent.active_deletes(files) if parent else []
            delete_files = [d for d, _ in inherited]
            delete_meta = dict(inherited)
        prev_files = set(parent.files) if parent else set()
        snap = Snapshot(
            snapshot_id=version,
            committed_at_ms=int(time.time() * 1000),
            operation=operation,
            files=files,
            total_rows=0,
            added_rows=0,
            schema_json=self.schema.jsonValue(),
            field_ids=dict(self.field_ids),
            hot_watermark=(
                hot_watermark
                if hot_watermark is not None
                else (parent.hot_watermark if parent else -1)
            ),
            summary=summary or {},
            file_meta=file_meta,
            delete_files=delete_files,
            delete_meta=delete_meta or {},
            parent_id=base,
        )
        snap.total_rows = (
            sum(file_meta[f]["rows"] for f in files) - snap.active_delete_count()
        )
        if operation not in self._NO_ADDED_ROWS:
            snap.added_rows = sum(
                file_meta[f]["rows"] for f in files if f not in prev_files
            )
        # physical CAS: exclusive-create the snapshot file BEFORE flipping
        # the VERSION pointer — a racing same-version writer raises
        # CommitConflictError here and the table stays consistent at base.
        # Transactional commits stage under a DISTINCT name
        # (txn-v{N}.json): snapshot_versions()/snapshots()/time travel
        # list only v*.json, so uncommitted transaction work is invisible
        # to every other reader (not just pointer-following ones) — the
        # staged file is linked into place at publish time.
        # facade-routed commits stage under rest-v{N}.json — like txn
        # staging, a name NO reader lists — and the catalog service
        # links it into its public v{N}.json place inside the commit
        # section. A transport failure can then never leave a phantom
        # readable snapshot, and the client's cleanup of the staged
        # NAME is always safe (the public hard link, if the commit did
        # land, is unaffected).
        rest_endpoint = None
        if self._txn is None and not self.write_branch:
            rest_endpoint = commit.catalog_key(
                commit.warehouse_of(self.path), "rest-catalog"
            )
        snap_path = commit.snapshot_path(
            self.path,
            version,
            commit.TXN if self._txn is not None
            else commit.REST if rest_endpoint
            else "",
        )
        commit.exclusive_write(snap_path, snap.to_json())
        if self._txn is not None:
            # transactional stage: the staged file exists (exclusive-
            # create above arbitrates same-version transactions) but
            # nothing is published until the transaction links every
            # staged snapshot into place and flips every pointer under
            # the commit lock. A concurrent non-txn commit is detected
            # here the same way as below (and again at publish).
            cur = self.current_version()
            if cur != self._txn.base_version(self, cur):
                os.remove(snap_path)
                raise CommitConflictError(
                    f"concurrent commit advanced {self.name} to v{cur} "
                    f"during the transaction"
                )
            self._txn.stage(self, cur, version)
            return snap
        # A warehouse that opted into a REST catalog facade
        # (_catalog.json "rest-catalog") POSTs the pointer CAS to the
        # catalog SERVICE — the real deployment topology, where writers
        # never touch the pointer themselves (multi-table txn publishes
        # route through the facade's /v1/transactions/commit; branch
        # commits and WAP fast_forward keep their direct lock-held
        # writes; the facade takes the same section, so all entry points
        # serialize against each other).
        if rest_endpoint:
            self._cas_via_rest(rest_endpoint, base, version)
            return snap
        # ref CAS: snapshot ids skip past orphan files (crash debris must
        # not wedge the table), so same-base racers may pick DIFFERENT
        # ids — exclusive-create alone does not serialize them. The ref
        # is re-checked and moved UNDER the catalog commit section:
        # exactly one same-base writer wins (the Iceberg catalog
        # compare-and-swap). The ref move is the commit point: a loser,
        # or a failure up to it, removes the unpublished snapshot, so
        # time travel never finds it either.
        try:
            if self.write_branch:
                self._publish_branch_head(base, version)
            else:
                commit.publish_pointer(self.path, base, version)
        except (CommitConflictError, OSError):
            os.remove(snap_path)
            raise
        return snap

    def _publish_branch_head(self, expected: int, version: int) -> None:
        """Move the write branch's head ``expected`` → ``version`` in
        refs.json under the commit section (WAP: main stays put)."""
        with commit.commit_section(commit.warehouse_of(self.path)):
            refs = self._refs()
            head = refs["branches"].get(self.write_branch, -1)
            if head != expected:
                raise CommitConflictError(
                    f"concurrent commit advanced branch {self.write_branch!r} "
                    f"of {self.name} to v{head} (this commit was based on "
                    f"v{expected})"
                )
            refs["branches"][self.write_branch] = version
            self._write_refs(refs)

    def _cas_via_rest(self, endpoint: str, base: int, version: int) -> None:
        """Publish the staged rest-v{version}.json by asking the catalog
        facade to link it into its public place and compare-and-swap the
        pointer (lake/rest_catalog.py). 409 = lost the race: same error
        as the direct path.

        Failure handling is DETERMINATE on this stand-in, not merely
        conservative: the staged NAME is removed under the local commit
        lock (the same section the facade applies inside, same
        filesystem), so any not-yet-applied request finds its staged
        file gone at link time and aborts, while an already-applied one
        left a public hard link the removal cannot touch — after the
        locked remove, WHO removed the staged name discriminates the
        outcome even when a concurrent commit has already advanced the
        pointer past ``version``: we removed it ⇒ the CAS never
        applied; already gone + public v{version}.json present ⇒ it
        applied and only the response was lost. A REMOTE catalog (no
        shared lock) cannot close this window; the one residual local
        case (staged gone, no public snapshot — external interference)
        surfaces CommitStateUnknownError, Iceberg's
        CommitStateUnknownException semantics."""
        import http.client

        from fluss_iceberg_spark.lake import rest_catalog

        staged = commit.snapshot_path(self.path, version, commit.REST)

        def _cleanup_staged() -> bool:
            """Remove the staged name; True if WE removed it, False if it
            was already gone (= the facade consumed it via the link)."""
            try:
                os.remove(staged)
                return True
            except FileNotFoundError:
                return False

        err: Exception | None = None
        status, body = 0, {}
        try:
            status, body = rest_catalog.cas_commit(
                endpoint, self.name, expected=base, target=version
            )
        except (OSError, http.client.HTTPException, ValueError) as e:
            err = e
        if status == 200:
            _cleanup_staged()  # normally already consumed by the link
            return
        if status == 409:
            _cleanup_staged()  # definitive: the CAS never linked it
            raise CommitConflictError(
                f"catalog rejected commit of {self.name} v{version}: "
                f"{body.get('error')}"
            )
        # transport error, garbled response, or an intermediary status
        # (502/504) — the origin MAY have applied the CAS. Resolve under
        # the shared section (see docstring): remove the staged name
        # (poisons any not-yet-applied request), then read the pointer.
        # The pointer alone is NOT the discriminator: a commit that DID
        # apply can be followed by a concurrent v{version+1} commit
        # before this lock is acquired, so "pointer != version" must not
        # be reported as determinate failure. The staged name is the
        # discriminator — the facade consumes it (link + remove) at the
        # exact moment it publishes, so: staged still present ⇒ the CAS
        # never linked it (determinate failure, and removing it poisons
        # any still-in-flight request); staged gone AND the public
        # snapshot exists ⇒ the commit landed, only the response was
        # lost.
        with commit.commit_section(commit.warehouse_of(self.path)):
            we_removed_staged = _cleanup_staged()
            if self.current_version() == version:
                return  # applied; only the response was lost
            if not we_removed_staged and os.path.exists(
                commit.snapshot_path(self.path, version)
            ):
                return  # applied, then a later commit advanced the pointer
        if not we_removed_staged:
            # staged name gone but no public snapshot: an outcome this
            # client cannot resolve (e.g. external cleanup raced us) —
            # surface Iceberg's CommitStateUnknown semantics, NOT a
            # determinate failure that would invite a double-applying
            # retry.
            raise CommitStateUnknownError(
                f"REST catalog at {endpoint}: commit of {self.name} "
                f"v{version} is in an unknown state ({err or f'HTTP {status}: {body}'}; "
                "staged snapshot already consumed but neither the pointer "
                "nor a published snapshot confirms it)"
            ) from err
        raise RuntimeError(
            f"REST catalog at {endpoint} failed committing {self.name} "
            f"v{version} ({err or f'HTTP {status}: {body}'}; resolved "
            "under the commit section: pointer unchanged, staged "
            "snapshot removed)"
        ) from err

    # ---------- writes ----------

    def _enforce_not_null(self, df: DataFrame) -> DataFrame:
        """S16: sink not-null enforcer = DROP (sql-client.sql:50)."""
        cols = [c for c in self.not_null if c in df.columns]
        return df.na.drop(subset=cols) if cols else df

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Project to the table schema, materializing computed columns a
        write doesn't supply — e.g. a ``PROCTIME()`` column (README.md:148)
        declared via DDL is stamped with the write's processing time."""
        for f in self.schema.fieldNames():
            if f not in df.columns:
                expr = self.properties.get(f"engine.computed.{f}")
                if expr and expr.upper() == "PROCTIME()":
                    df = df.withColumn(f, F.current_timestamp())
                elif expr:
                    df = df.withColumn(f, F.expr(expr))
        # CHECK constraints (the Delta-constraints role; Iceberg has an
        # open spec discussion): enforced INLINE in the write projection
        # — a violating row raises during the write job itself, so there
        # is no extra validation pass over the batch and no partial
        # commit (the snapshot only lands after the write succeeds).
        # SQL CHECK semantics: NULL evaluations pass (coalesce TRUE).
        first = self.schema.fieldNames()[0] if self.schema.fields else None
        guard = None
        for cexpr in self.constraints.values():
            ok = F.coalesce(F.expr(cexpr), F.lit(True))
            guard = ok if guard is None else (guard & ok)
        if guard is not None and first is not None:
            msgs = "; ".join(
                f"{n}: CHECK ({e})" for n, e in self.constraints.items()
            )
            df = df.withColumn(
                first,
                F.when(guard, F.col(first)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"[{self.name}] CHECK constraint violated ({msgs})"
                        )
                    ).cast(df.schema[first].dataType if first in df.columns
                           else self.schema[first].dataType)
                ),
            )
        # cast to the declared column types (Iceberg-style write coercion):
        # SQL arithmetic widens decimals (15,2)+(15,2) → (16,2), and a file
        # written at the widened type is unreadable under the table schema.
        # Only columns whose type differs are cast, and a frame already in
        # the table's shape comes back as is: every column expression is
        # a few JVM round trips on the driver
        have = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in self.schema.fields]
        if have == want:
            return df
        typed = dict(have)
        return df.select(
            *[
                F.col(n) if typed.get(n) == t else F.col(n).cast(t).alias(n)
                for n, t in want
            ]
        )

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*[F.col(k) for k in self.primary_key]), F.lit(self.n_buckets))

    # Catalyst tree patterns that mark a delta lineage as expensive to
    # re-execute AND re-plan: multi-join changelog diffs, aggregations,
    # and Python kernels — PYTHON_UDF covers scalar pandas/Python UDF
    # expressions as well as the function of MapInPandas,
    # FlatMapGroupsInPandas and MapInArrow nodes
    _HEAVY_PATTERNS = (
        "JOIN", "AGGREGATE", "WINDOW", "GENERATE", "UNION", "SORT", "LIMIT",
        "PYTHON_UDF",
    )

    def _heavy_lineage(self, df: DataFrame) -> bool:
        """Structural check of the ANALYZED plan: does any node or
        expression in it carry one of ``_HEAVY_PATTERNS``? Catalyst keeps
        each tree's pattern bits as the union over its nodes, its
        children and its expressions, so each pattern is one JVM call,
        with no plan-string parsing."""
        tp = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        analyzed = df._jdf.queryExecution().analyzed()
        return any(
            analyzed.containsPattern(getattr(tp, p)()) for p in self._HEAVY_PATTERNS
        )

    @contextmanager
    def _materialize_delta(
        self, df: DataFrame, observation: Observation | None = None
    ):
        """Delta-frame policy for multi-action consumers (merge/delete),
        entered as a ``with`` block around them: the frame feeds 2-3
        separate Spark actions (stats/guard collect, then the write).

        - HEAVY lineage (``_heavy_lineage``: joins/aggregates/Python UDFs
          and kernels — IVM refreshes, CDC mirror diffs): eager
          ``localCheckpoint`` — the lineage executes exactly ONCE and is
          truncated, so every downstream action analyzes a leaf scan
          instead of re-running Catalyst over the changelog tree per
          action (measured: 42-56% of merge-family wall was BETWEEN
          jobs, i.e. per-action planning; guide §5 "localCheckpoint is
          a cheaper way to cut lineage"). The checkpoint is released
          when the block exits. With an
          ``observation``, that same job also records the delta's
          touched buckets and row count (``_observed`` reads them), so
          a merge needs no separate stats query.
        - TRIVIAL lineage (scan/local frame + row-level ops only): no
          materialization, and ``df`` itself is yielded with the
          observation unattached. Re-executing a delta-sized scan per
          action is cheaper than building and re-reading 32 cached
          partitions (an unconditional persist regressed exactly these
          consumers — lake_scd2_dimension, stream_txn_two_sinks — in the
          interleaved A/B of OPTIMIZATION_r13.md).

        Yields the frame the consumers read."""
        try:
            heavy = self._heavy_lineage(df)
        except Py4JError:
            heavy = True  # unknown plan shape: materializing is the safe default
        if not heavy:
            yield df
            return
        if observation is not None:
            df = df.observe(
                observation,
                F.collect_set(self._bucket_col()).alias("buckets"),
                F.count(F.lit(1)).alias("rows"),
            )
        with materialized(df, checkpoint=True) as cp:
            yield cp

    @staticmethod
    def _observed(observation: Observation | None) -> dict | None:
        """The metrics ``_materialize_delta`` asked ``observation`` for,
        or None when there is none or it was never attached (trivial
        lineage). The query listener fills an observation a few ms after
        its job ends, so this waits on it, boundedly: ``getRowOrEmpty``
        waits up to 100 ms per call. That method is internal to Spark,
        so a Py4JError (or no metrics within ~5 s) also reads None and
        the caller falls back to querying the delta."""
        if observation is None or observation._jo is None:
            return None
        try:
            for _ in range(50):
                if observation._jo.getRowOrEmpty().isDefined():
                    return observation.get
        except Py4JError:
            pass
        return None

    def _writer(self, df: DataFrame):
        """DataFrameWriter honoring the table's
        ``write.parquet.compression-codec`` property (the Iceberg write
        property; zstd/snappy/gzip/lz4/uncompressed). Codec choice is a
        per-table storage contract: zstd for cold archival slices, snappy
        (Spark default) for hot scan-heavy tables."""
        w = df.write
        codec = self.properties.get("write.parquet.compression-codec")
        return w.option("compression", codec) if codec else w

    @staticmethod
    def _write_dir(kind: str, snapshot_id: int) -> str:
        """Table-relative directory of one write of ``kind`` files
        (``data``/``deletes``) for snapshot ``snapshot_id``:
        ``{kind}/s{N}/<uuid>``. ``N`` is the write sequence (see
        manifest._file_seq); the uuid keeps two writers that picked the
        same ``N`` apart, since each write overwrites its own directory."""
        return f"{kind}/s{snapshot_id}/{uuid.uuid4().hex}"

    def _write_files(
        self,
        df: DataFrame,
        snapshot_id: int,
        n_files: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> list[str]:
        """The one data-file writer: write ``df`` as parquet under
        ``_write_dir("data", snapshot_id)`` in the table's layout and
        return the table-relative paths. Every write — append, overwrite,
        merge, row-level rewrite, tier, compaction — goes through here,
        so a table has one layout, as an Iceberg table has one write
        order that writes and ``rewrite_data_files`` both follow.

        - PK table: one directory per PK-hash bucket (``__bucket=b``), so
          merges prune untouched buckets. Hash-partitioning on the bucket
          puts each bucket in one task, hence one file; with no partition
          count AQE sizes the write by its bytes.
        - Partition spec (hidden partitioning): the derived value names
          the directory, the source column stays in the file (Iceberg
          §4). One shuffle on the partition tuple, so a write emits one
          file per partition instead of #tasks × #partitions fragments,
          rows ordered within by the layout order.
        - Otherwise: range-partitioned and sorted on the layout order, so
          files get near-disjoint [min, max] ranges from the first write
          and manifest skipping works without a compaction pass. The
          partition count is ``n_files`` (compaction), else
          ``write.cluster-partitions``, else 16 for a z-order and AQE's
          byte sizing for a sort order. With no order, a compaction
          coalesces to ``n_files`` files.

        The layout order is the compaction's explicit ``sort_by`` /
        ``zorder_by``, else the table's ``write.zorder-by`` (the Morton
        key of operators/zorder.py, which prunes on every listed column)
        or ``write.sort-order``."""
        layout = _layout_columns(self.name, self.schema, self.properties)
        parts: list[str] = []
        if self.primary_key:
            parts = ["__bucket"]
            df = df.withColumn("__bucket", self._bucket_col()).repartition("__bucket")
        else:
            if not (sort_by or zorder_by):
                sort_by = layout.get("write.sort-order")
                zorder_by = layout.get("write.zorder-by")
            order = [F.col(c) for c in sort_by or []]
            if zorder_by:
                from fluss_iceberg_spark.operators.zorder import zorder_key

                df = df.withColumn("__z", zorder_key(df, zorder_by))
                order = [F.col("__z")]
            if self.partition_spec:
                parts = [f"__p_{p['name']}" for p in self.partition_spec]
                df = df.select(
                    "*",
                    *[
                        _partition_expr(p).alias(n)
                        for p, n in zip(self.partition_spec, parts)
                    ],
                ).repartition(*parts)
                if order:
                    df = df.sortWithinPartitions(*parts, *order)
            elif order:
                n = n_files or self.properties.get(
                    "write.cluster-partitions", 16 if zorder_by else None
                )
                df = (
                    df.repartitionByRange(int(n), *order)
                    if n
                    else df.repartitionByRange(*order)
                ).sortWithinPartitions(*order)
            elif n_files:
                df = df.coalesce(n_files)
            if zorder_by:
                df = df.drop("__z")
        rel = self._write_dir("data", snapshot_id)
        # Spark's default parquet timestamp encoding, legacy INT96, has no
        # footer min/max statistics, so timestamp predicates would skip no
        # file. Data files are INT64 micros (what Iceberg mandates); the
        # writer ignores a per-write option, so the session conf is the
        # lever, scoped to this write.
        micros = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        with session_conf(self.spark, micros):
            self._writer(df).partitionBy(*parts).mode("overwrite").parquet(
                os.path.join(self.path, rel)
            )
        return manifest.written_files(self.path, rel)

    def append(self, df: DataFrame) -> Snapshot:
        """Log-table append (S14 batch form). New snapshot = parent files +
        newly written files; existing data is never rewritten. The files
        follow the table's layout (``_write_files``): under
        ``write.sort-order`` each covers a tight, non-overlapping value
        range, so manifest min/max skipping (``read(where=)``) prunes to
        O(matching slice) on time-series tables at 100 TB;
        ``write.zorder-by`` ("colA,colB") is the two-dimensional form, so
        range predicates on EITHER column prune files (Iceberg's
        ``rewrite_data_files(sort_order => 'zorder(a, b)')``)."""
        return self._append(df, self.snapshot)

    def _append(
        self,
        df: DataFrame,
        parent_of: Callable[[], Snapshot | None],
        operation: str = "append",
        hot_watermark: int | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """``append``, committed on top of ``parent_of()`` read after the
        write (``tier`` passes the snapshot it drained from). The
        ``operation``, ``hot_watermark`` and ``summary`` go to ``_commit``:
        what a caller records lands in the same atomic snapshot write as
        the files (``tier`` advances the watermark this way)."""
        if self.primary_key:
            raise ValueError(f"{self.name}: PK table requires merge(), not append()")
        df = self._enforce_not_null(self._prepare(df))
        version = self._next_version()
        files = self._write_files(df, version)
        parent = parent_of()
        return self._commit(
            operation, parent, (parent.files if parent else []) + files,
            hot_watermark, summary,
        )

    def _check_rewrite_allowed(self, op: str) -> None:
        """Log-table rewrites (compact/overwrite) re-emit existing rows to
        any active ``stream_appends()`` file stream (the stream tails
        ``data/*``). A table declared 'streaming.append-only' refuses them
        so the stream's exactly-once contract can't be silently broken."""
        if (
            not self.primary_key
            and self.properties.get("streaming.append-only") == "true"
        ):
            raise ValueError(
                f"{self.name}: {op}() is disabled on a 'streaming.append-only' "
                "table — rewritten files would be re-emitted by active "
                "stream_appends() readers"
            )

    def overwrite(self, df: DataFrame) -> Snapshot:
        self._check_rewrite_allowed("overwrite")
        df = self._enforce_not_null(self._prepare(df))
        version = self._next_version()
        files = self._write_files(df, version)
        return self._commit("overwrite", self.snapshot(), files)

    def merge(
        self,
        updates: DataFrame,
        deletes: DataFrame | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """PK-upsert (MERGE): last write per key wins (ST4, README.md:247-250).

        Bucketed copy-on-write: only buckets containing updated keys are
        rewritten (anti-join old ∪ new within the bucket); files of
        untouched buckets carry forward into the new snapshot unchanged.
        Each rewritten bucket gets one new file; the write's partition
        count follows its bytes (AQE coalescing), not the bucket count.

        The touched buckets come from the job that materializes a heavy
        delta (``_materialize_delta``'s observation), which also counts
        its rows: when that key set fits
        ``spark.sql.autoBroadcastJoinThreshold``, the anti-join
        broadcasts it. A trivial delta, and a merge with ``deletes``,
        query the touched buckets with one job of their own.

        ``deletes`` (optional): a frame of primary-key values whose rows
        are dropped in the SAME commit — the WHEN MATCHED THEN DELETE arm
        of SQL MERGE, and the scale path for key-targeted deletion (the
        touched-bucket rewrite is bounded by the delete key set, never
        the table).

        ``summary`` (optional): entries the commit adds to its snapshot
        summary, in the same atomic write as the merge (Iceberg's snapshot
        properties) — the streaming pipeline's idempotence batch id.
        """
        return self._merge(updates, deletes, self.snapshot, summary=summary)

    def _merge(
        self,
        updates: DataFrame,
        deletes: DataFrame | None,
        parent_of: Callable[[], Snapshot | None],
        operation: str = "merge",
        hot_watermark: int | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """``merge``, committed on top of ``parent_of()`` (``tier`` passes
        the snapshot it drained from); ``operation``, ``hot_watermark`` and
        ``summary`` go to the commit as in ``_append``."""
        if not self.primary_key:
            raise ValueError(f"{self.name}: merge() requires a primary key")
        updates = self._enforce_not_null(self._prepare(updates))
        # collapse intra-batch duplicates: last occurrence per key wins is
        # undefined without order, so use an arbitrary-but-deterministic
        # max-by over all columns via row_number on a monotonic id
        #
        # merge() consumes the collapsed batch through SEPARATE actions
        # (the touched-bucket query, or with deletes the conflict guard;
        # then the bucket write) — _materialize_delta decides per lineage
        # whether to checkpoint it once or recompute it per action, and a
        # checkpoint of the updates observes their buckets, which saves
        # the query (see its doc)
        observation = Observation() if deletes is None else None
        held_deletes = (
            nullcontext()
            if deletes is None
            else self._materialize_delta(
                deletes.select(*self.primary_key).dropDuplicates()
            )
        )
        with self._materialize_delta(
            updates.dropDuplicates(self.primary_key), observation
        ) as updates, held_deletes as deletes:
            seen = self._observed(observation)
            return self._merge_inner(
                updates, deletes, parent_of, seen,
                operation, hot_watermark, summary,
            )

    def _merge_inner(
        self,
        updates: DataFrame,
        deletes: DataFrame | None,
        parent_of: Callable[[], Snapshot | None],
        seen: dict | None,
        operation: str,
        hot_watermark: int | None,
        summary: dict | None,
    ) -> Snapshot:
        """The merge of key-distinct ``updates``/``deletes``. ``seen``:
        the updates' observed ``buckets`` and ``rows``, if any."""
        parent = parent_of()
        version = self._next_version()
        touch_keys = updates.select(*self.primary_key)
        if deletes is not None:
            touch_keys = touch_keys.unionByName(deletes)
        if deletes is not None:
            # ONE stats job answers both driver questions (guide §2
            # "remove actions outright"): the touched-bucket set AND the
            # ambiguity guard (a key in both updates and deletes is
            # ambiguous — Iceberg MERGE likewise rejects multi-action
            # matches). Both sides are already key-distinct, so a key
            # seen from both sources groups to min=0/max=1.
            tagged = (
                updates.select(*self.primary_key)
                .withColumn("__src", F.lit(0))
                .unionByName(deletes.withColumn("__src", F.lit(1)))
            )
            stat = (
                tagged.groupBy(*self.primary_key)
                .agg(
                    F.min("__src").alias("__mn"),
                    F.max("__src").alias("__mx"),
                )
                .withColumn("__bucket", self._bucket_col())
                .agg(
                    F.collect_set("__bucket").alias("bks"),
                    F.max((F.col("__mn") == 0) & (F.col("__mx") == 1)).alias(
                        "amb"
                    ),
                )
                .collect()[0]
            )
            if stat["amb"]:
                raise ValueError(
                    f"{self.name}: merge() key appears in both updates and deletes"
                )
            touched = list(stat["bks"] or [])
        elif seen is not None:
            touched = list(seen["buckets"])
        else:
            upd = touch_keys.withColumn("__bucket", self._bucket_col())
            touched = [
                r["__bucket"] for r in upd.select("__bucket").distinct().collect()
            ]

        # split parent files into touched vs untouched buckets
        touched_set = set(touched)
        bucket_of = manifest._bucket_of_path
        parent_files = parent.files if parent else []
        keep_files = [f for f in parent_files if bucket_of(f) not in touched_set]
        old_touched = [f for f in parent_files if bucket_of(f) in touched_set]
        if old_touched:
            old_df = self._read_live(
                old_touched, self.schema, self.field_ids, parent
            )
            # null-safe key equality: NULL is a legal PK value (the
            # reference's NULL nation group, FIXTURES.md invariant 3).
            # Anti-join against updated AND deleted keys — deleted keys
            # simply have no replacement row in new_state.
            upd_keys = touch_keys.select(
                *[F.col(k).alias(f"__u_{k}") for k in self.primary_key]
            )
            # a checkpointed delta carries no size estimate, so Spark would
            # plan a sort-merge join and AQE would shuffle both sides before
            # switching to a broadcast: the observed row count decides it
            if seen is not None and self._fits_broadcast(seen["rows"], upd_keys):
                upd_keys = F.broadcast(upd_keys)
            cond = None
            for k in self.primary_key:
                c = old_df[k].eqNullSafe(upd_keys[f"__u_{k}"])
                cond = c if cond is None else (cond & c)
            survivors = old_df.join(upd_keys, on=cond, how="left_anti")
            new_state = survivors.unionByName(updates)
        else:
            new_state = updates
        files = sorted(keep_files + self._write_files(new_state, version))
        return self._commit(
            operation, parent, files, hot_watermark,
            {"touched_buckets": touched, **(summary or {})},
        )

    def _fits_broadcast(self, rows: int, keys: DataFrame) -> bool:
        """Whether ``rows`` rows of ``keys`` fit the session's
        ``spark.sql.autoBroadcastJoinThreshold`` (-1: never), at Spark's
        default size of a row of that schema."""
        threshold = conf_bytes(
            self.spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
        )
        return rows * keys._jdf.schema().defaultSize() <= threshold

    def delete(self, where: list[tuple]) -> Snapshot:
        """Row-level DELETE (the Iceberg copy-on-write v2 role): remove
        rows matching the conjunctive predicate ``[(col, op, lit), ...]``.

        Manifest-stats-bounded rewrite: files whose min/max bounds PROVE
        no row matches carry forward into the new snapshot untouched;
        only intersecting files are read back, anti-filtered, and
        rewritten. On a date-clustered 100 TB table a retention delete
        rewrites one time slice, not the table. SQL NULL semantics: rows
        where the predicate is NULL survive (DELETE removes only TRUE).

        ``write.delete.mode=merge-on-read`` (table property, the Iceberg
        v2 write-mode property): instead of rewriting intersecting files,
        write a position-delete file — O(deleted rows) write cost
        regardless of how wide the touched files are. Readers anti-join
        the (broadcast) tombstones; ``compact()`` materializes them."""
        if self.properties.get("write.delete.mode") == "merge-on-read":
            return self._mor_delete(where)
        return self._row_level_rewrite("delete", where, set_exprs=None)

    def delete_by_key(self, keys: DataFrame) -> Snapshot:
        """Key-targeted DELETE on a PK table via an EQUALITY-DELETE file
        (the Iceberg v2 equality-delete role — what a streaming CDC
        writer emits for retractions): the commit writes only the key
        set, never reading or rewriting data files beyond one bounded
        count of the touched buckets. A row is hidden when its file's
        write sequence predates the delete's sequence and its key
        matches; a later re-insert of the key (newer file) survives.
        The NEXT merge() touching a bucket materializes its tombstones
        (the bucket rewrite reads live rows), after which the entry is
        inert there — exactly Iceberg's sequence-number semantics.

        Scale shape: write cost O(|keys|); read cost one broadcast
        anti-join; the exact hide-count scan is bounded to the touched
        buckets (needed so COUNT(*) stays metadata-exact afterwards)."""
        if not self.primary_key:
            raise ValueError(
                f"{self.name}: delete_by_key() requires a primary key; "
                "log tables use delete(where=)"
            )
        snap = self.snapshot()
        # the key set feeds THREE actions (bucket routing collect, the
        # delete-file write, the hide-count semi-join) — same
        # multi-action reuse as merge(); _materialize_delta picks
        # checkpoint vs recompute per lineage (see its doc)
        with self._materialize_delta(
            keys.select(*self.primary_key).dropDuplicates()
        ) as keys:
            return self._delete_by_key_inner(keys, snap)

    def _delete_by_key_inner(self, keys: DataFrame, snap) -> Snapshot:
        if snap is None or not snap.files:
            return self._commit(
                "delete", snap, [], summary={"mode": "equality", "hidden_rows": 0}
            )
        version = self._next_version()
        # bucket routing: only buckets holding a delete key can hide rows
        keyed = keys.withColumn("__bucket", self._bucket_col())
        buckets = {
            r["__bucket"] for r in keyed.select("__bucket").distinct().collect()
        }
        touched = [f for f in snap.files if manifest._bucket_of_path(f) in buckets]
        new_del = self._write_delete_file(keys, version)
        # exact per-bucket hide counts: semi-join LIVE rows of touched
        # buckets against the keys (bounded by the key set's buckets)
        if touched:
            live = self._read_live(
                touched, self.schema, self.field_ids, snap
            )
            kk = keys.select(
                *[F.col(k).alias(f"__dk_{k}") for k in self.primary_key]
            )
            cond = None
            for k in self.primary_key:
                c = live[k].eqNullSafe(F.col(f"__dk_{k}"))
                cond = c if cond is None else cond & c
            hit = live.join(F.broadcast(kk), on=cond, how="left_semi")
            per_bucket = {
                str(r["__bucket"]): r["n"]
                for r in hit.withColumn("__bucket", self._bucket_col())
                .groupBy("__bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        else:
            per_bucket = {}
        n_hidden = sum(per_bucket.values())
        delete_files = list(snap.delete_files) + new_del
        delete_meta = {
            **snap.delete_meta,
            **{
                d: {
                    "kind": "equality",
                    "seq": version,
                    "rows": n_hidden,
                    "hides": per_bucket,
                    "key": list(self.primary_key),
                }
                for d in new_del
            },
        }
        return self._commit(
            "delete",
            snap,
            list(snap.files),
            summary={
                "mode": "equality",
                "hidden_rows": n_hidden,
                "buckets_touched": sorted(int(b) for b in per_bucket),
            },
            delete_files=delete_files,
            delete_meta=delete_meta,
        )

    def _mor_delete(self, where: list[tuple]) -> Snapshot:
        """Merge-on-read DELETE: commit a position-delete file, never
        touching data files. The scan is stats-bounded like the CoW path
        (only files whose bounds intersect the predicate are read), and
        only LIVE rows are tombstoned (prior deletes applied first), so
        repeated overlapping deletes never double-count."""
        if not where:
            raise ValueError(f"{self.name}: delete() requires a predicate")
        snap = self.snapshot()
        if snap is None or not snap.files:
            return self._commit("delete", snap, [], summary={"files_rewritten": 0})
        touched = self.plan_scan(where, snapshot=snap)
        if not touched:
            return self._commit(
                "delete", snap, list(snap.files),
                summary={"mode": "merge-on-read", "deleted_positions": 0},
            )
        matched = F.coalesce(_where_filter(where), F.lit(False))
        pos_df = (
            self._tagged_live_rows(touched, snap, self.schema, self.field_ids)
            .filter(matched)
            .select("__file", "__pos")
        )
        version = self._next_version()
        # a delete file is O(matched rows) of (path, long) — single file
        new_del, per_file = self._write_position_deletes(pos_df, version)
        n_del = sum(per_file.values())
        delete_files = list(snap.delete_files) + new_del
        delete_meta = {
            **snap.delete_meta,
            **{
                d: {"rows": n_del, "files": per_file} for d in new_del
            },
        }
        return self._commit(
            "delete",
            snap,
            list(snap.files),
            summary={
                "mode": "merge-on-read",
                "deleted_positions": n_del,
                "delete_files_added": len(new_del),
                "files_touched": len(touched),
            },
            delete_files=delete_files,
            delete_meta=delete_meta,
        )

    def update(self, set_exprs: dict[str, str], where: list[tuple]) -> Snapshot:
        """Row-level UPDATE ... SET (copy-on-write): apply the SET
        expressions (Spark SQL strings, e.g. ``{"price": "price * 2"}``)
        to rows matching the predicate; same stats-bounded rewrite as
        ``delete``. PK columns cannot be updated (bucket layout is keyed
        on them — Iceberg likewise forbids identity-partition mutation)."""
        bad = [c for c in set_exprs if c in self.primary_key]
        if bad:
            raise ValueError(f"{self.name}: cannot UPDATE primary-key columns {bad}")
        unknown = [c for c in set_exprs if c not in self.schema.fieldNames()]
        if unknown:
            raise ValueError(f"{self.name}: UPDATE of unknown columns {unknown}")
        if self.properties.get("write.update.mode") == "merge-on-read":
            return self._mor_update(set_exprs, where)
        return self._row_level_rewrite("update", where, set_exprs=set_exprs)

    def _tagged_live_rows(
        self,
        files: list[str],
        snap: Snapshot | None,
        sch: T.StructType,
        fids: dict[str, int],
        active: list[tuple[str, dict]] | None = None,
    ):
        """Live rows of ``files`` under the target schema with (__file,
        __pos) provenance columns — the one merge-on-read scan, under
        ``_read_live`` (which states the delete semantics) and both
        merge-on-read write paths. ``active``: the delete files ``snap``
        still applies to ``files``, when the caller has them."""
        if active is None:
            active = snap.active_deletes(files) if snap is not None else []
        ext, cols = self._alias_projection(sch, fids)
        raw = self.spark.read.schema(ext).parquet(
            *[os.path.join(self.path, f) for f in files]
        )
        # table-relative path from the scan's file metadata: manifests
        # record paths as data/s{N}/..., so extract that suffix
        rel = F.regexp_extract(
            F.col("_metadata.file_path"), manifest.DATA_RELPATH_PATTERN, 1
        )
        tagged = raw.select(
            *cols,
            rel.alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        pos = [d for d, meta in active if meta.get("kind") != "equality"]
        if pos:
            prior = (
                self.spark.read.schema("__file string, __pos long")
                .parquet(*[os.path.join(self.path, d) for d in pos])
                .filter(F.col("__file").isin(list(set(files))))
            )
            tagged = tagged.join(
                F.broadcast(prior), on=["__file", "__pos"], how="left_anti"
            )
        eqs = [(d, meta) for d, meta in active if meta.get("kind") == "equality"]
        if eqs:
            tagged = self._apply_eq_deletes(tagged, eqs)
        return tagged

    def _write_delete_file(self, df: DataFrame, version: int) -> list[str]:
        """The one delete-file writer: ``df`` — (__file, __pos) position
        tombstones or a PK key set — as a single file under
        ``_write_dir("deletes", version)`` (a delete file is O(deleted
        rows)); returns its table-relative paths."""
        rel_dir = self._write_dir("deletes", version)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(self.path, rel_dir))
        return manifest.written_files(self.path, rel_dir)

    def _write_position_deletes(self, pos_df: DataFrame, version: int) -> tuple:
        """Write (__file, __pos) tombstones; returns (relpaths,
        per_file_counts)."""
        new_del = self._write_delete_file(pos_df, version)
        per_file = {
            r["__file"]: r["n"]
            for r in self.spark.read.parquet(
                *[os.path.join(self.path, d) for d in new_del]
            )
            .groupBy("__file").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return new_del, per_file

    def _mor_update(
        self, set_exprs: dict[str, str], where: list[tuple]
    ) -> Snapshot:
        """Merge-on-read UPDATE (``write.update.mode=merge-on-read``):
        one commit carrying a position-delete file tombstoning the
        matched rows PLUS a new data file with their updated images —
        write cost O(matched rows), untouched files never rewritten
        (the Iceberg v2 update write-mode). Readers see exactly one
        version of each row: the tombstone hides the old image, the
        appended file supplies the new one."""
        if not where:
            raise ValueError(f"{self.name}: update() requires a predicate")
        snap = self.snapshot()
        if snap is None or not snap.files:
            return self._commit("update", snap, [], summary={"files_rewritten": 0})
        touched = self.plan_scan(where, snapshot=snap)
        if not touched:
            return self._commit(
                "update", snap, list(snap.files),
                summary={"mode": "merge-on-read", "updated_rows": 0},
            )
        matched = F.coalesce(_where_filter(where), F.lit(False))
        rows = self._tagged_live_rows(
            touched, snap, self.schema, self.field_ids
        ).filter(matched)
        # one pass: held cached so the tombstone write and the data write
        # don't re-scan (model-sized: only matched rows)
        with materialized(rows) as rows:
            version = self._next_version()
            new_del, per_file = self._write_position_deletes(
                rows.select("__file", "__pos"), version
            )
            n_upd = sum(per_file.values())
            updated = rows.select(
                *[
                    F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                    for f in self.schema.fields
                ]
            )
            new_files = self._write_files(updated, version)
        files = sorted(list(snap.files) + new_files)
        delete_files = list(snap.delete_files) + new_del
        delete_meta = {
            **snap.delete_meta,
            **{d: {"rows": n_upd, "files": per_file} for d in new_del},
        }
        return self._commit(
            "update",
            snap,
            files,
            summary={
                "mode": "merge-on-read",
                "updated_rows": n_upd,
                "files_touched": len(touched),
            },
            delete_files=delete_files,
            delete_meta=delete_meta,
        )

    def _row_level_rewrite(
        self, op: str, where: list[tuple], set_exprs: dict[str, str] | None
    ) -> Snapshot:
        self._check_rewrite_allowed(op)
        if not where:
            raise ValueError(f"{self.name}: {op}() requires a predicate")
        snap = self.snapshot()
        if snap is None or not snap.files:
            return self._commit(op, snap, [], summary={"files_rewritten": 0})
        touched = self.plan_scan(where, snapshot=snap)
        touched_set = set(touched)
        keep = [f for f in snap.files if f not in touched_set]
        if not touched:
            return self._commit(
                op,
                snap,
                list(snap.files),
                summary={"files_rewritten": 0, "files_skipped": len(keep)},
            )
        old = self._read_live(
            touched, self.schema, self.field_ids, snap
        ).select(*self.schema.fieldNames())
        matched = F.coalesce(_where_filter(where), F.lit(False))
        if op == "delete":
            new_df = old.filter(~matched)
        else:
            # SET results cast back to the declared column type so the
            # physical schema never drifts (e.g. decimal widening in *2)
            new_df = old.select(
                *[
                    F.when(matched, F.expr(set_exprs[f.name]))
                    .otherwise(F.col(f.name))
                    .cast(f.dataType)
                    .alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                    for f in self.schema.fields
                ]
            )
        version = self._next_version()
        new_files = self._write_files(new_df, version)
        return self._commit(
            op,
            snap,
            sorted(keep + new_files),
            summary={"files_rewritten": len(touched), "files_skipped": len(keep)},
        )

    # ---------- reads ----------

    def read(
        self,
        version: int | str | None = None,
        where: list[tuple] | None = None,
        prune_only: bool = False,
    ) -> DataFrame:
        """Snapshot read (cold-only — the reference's Trino view,
        README.md:257-292). ``version`` = time travel (M1-adjacent); a
        string resolves as a named tag (Iceberg ref).

        ``where`` = optional conjunctive scan predicate
        ``[(col, op, literal), ...]`` with op in ``= < <= > >=``. Files
        whose manifest min/max range provably excludes the predicate are
        skipped before Spark ever sees them (the Iceberg manifest-pruning
        role): planning cost O(#files) of in-memory metadata, zero footer
        or data I/O for skipped files. The same predicate is then applied
        to the scanned rows, so the result is exact regardless of how
        coarse the surviving files' ranges are — unless ``prune_only``:
        then the predicate only PRUNES and surviving files return whole
        (for callers whose next operation is already exact, e.g. a join
        on the probed key — a large IN-list as a row filter would cost
        more than it removes)."""
        snap = self.snapshot(version)
        # time travel reads under the schema THAT snapshot recorded
        # (RENAME/DROP evolution); current reads use the current schema
        if version is not None and snap is not None and snap.schema_json:
            sch = T.StructType.fromJson(snap.schema_json)
            fids = snap.field_ids or self.field_ids
        else:
            sch, fids = self.schema, self.field_ids
        files = self.plan_scan(where, snapshot=snap) if snap is not None else []
        row_filter = where if (where and not prune_only) else None
        if not files:
            df = self.spark.createDataFrame([], sch)
            return df.filter(_where_filter(row_filter)) if row_filter else df
        df = self._read_live(files, sch, fids, snap)
        return df.filter(_where_filter(row_filter)) if row_filter else df

    def read_bucket(self, bucket: int, version: int | str | None = None) -> DataFrame:
        """Snapshot read of ONE PK-hash bucket's rows (MoR deletes
        applied, same semantics as ``read`` restricted to the bucket's
        files). The physical handle a storage-partitioned join needs:
        rows of bucket b can only ever match bucket b of a co-bucketed
        table, so per-bucket reads join with no repartitioning of
        either side (plans/spj.py). O(#files) metadata to slice; no
        data I/O beyond the bucket's own files."""
        if not self.primary_key:
            raise ValueError(
                f"{self.name}: read_bucket applies to PK tables "
                "(log tables are not bucket-clustered)"
            )
        snap = self.snapshot(version)
        if snap is None:
            return self.spark.createDataFrame([], self.schema)
        files = [f for f in snap.files if manifest._bucket_of_path(f) == bucket]
        if not files:
            return self.spark.createDataFrame([], self.schema)
        return self._read_live(files, self.schema, self.field_ids, snap)

    def _project_files(
        self, paths: list[str], sch: T.StructType, fids: dict[str, int]
    ) -> DataFrame:
        """Read parquet files under a target schema, resolving each field
        across its whole NAME HISTORY (RENAME COLUMN evolution): the read
        schema is extended with the field's former names and the
        projection coalesces new-name → old-names, so files written
        before a rename resolve without any rewrite. Files lacking every
        name project NULL (ADD COLUMN); extra columns in old files are
        never decoded (DROP COLUMN, parquet column pruning)."""
        ext, cols = self._alias_projection(sch, fids)
        return self.spark.read.schema(ext).parquet(*paths).select(*cols)

    def _apply_eq_deletes(
        self, tagged: DataFrame, eqs: list[tuple[str, dict]]
    ) -> DataFrame:
        """Anti-join broadcast equality-delete keys against rows from
        files OLDER than each delete's sequence (rows re-inserted later
        survive — the Iceberg sequence-number scoping)."""
        key_frames = []
        for d, meta in eqs:
            kdf = self.spark.read.parquet(os.path.join(self.path, d)).select(
                *[F.col(k).alias(f"__ek_{k}") for k in self.primary_key],
                F.lit(int(meta.get("seq", -1))).alias("__dseq"),
            )
            key_frames.append(kdf)
        keys = key_frames[0]
        for kf in key_frames[1:]:
            keys = keys.unionByName(kf)
        tagged = tagged.withColumn(
            "__fseq",
            F.regexp_extract(
                F.col("__file"), manifest.DATA_SEQ_PATTERN, 1
            ).cast("long"),
        )
        cond = F.col("__fseq") < F.col("__dseq")
        for k in self.primary_key:
            cond = cond & tagged[k].eqNullSafe(F.col(f"__ek_{k}"))
        return tagged.join(F.broadcast(keys), on=cond, how="left_anti").drop(
            "__fseq"
        )

    def _read_live(
        self,
        files: list[str],
        sch: T.StructType,
        fids: dict[str, int],
        snap: Snapshot | None,
    ) -> DataFrame:
        """Read data files under the target schema with merge-on-read
        deletes applied (the Iceberg v2 read path). Position tombstones
        are file-scoped (__file, __pos) pairs anti-joined on the exact
        position; equality tombstones are PK keys anti-joined against
        rows from files older than the delete's sequence. Both delete
        sides are O(deleted rows) and BROADCAST, so at 100 TB the
        anti-join side stays model-sized while data files are never
        rewritten. Scans of snapshots without deletes skip the joins
        entirely."""
        active = snap.active_deletes(files) if snap is not None else []
        if not active:
            return self._project_files(
                [os.path.join(self.path, f) for f in files], sch, fids
            )
        return self._tagged_live_rows(files, snap, sch, fids, active).drop(
            "__file", "__pos"
        )

    def _alias_projection(
        self, sch: T.StructType, fids: dict[str, int]
    ) -> tuple[T.StructType, list[F.Column]]:
        """(extended read schema, projection columns) for name-history
        resolution — shared by batch and streaming file reads."""
        ext_fields = list(sch.fields)
        alias_map: dict[str, list[str]] = {}
        for f in sch.fields:
            fid = fids.get(f.name)
            names = self.name_log.get(str(fid), []) if fid is not None else []
            aliases = [n for n in names if n != f.name]
            if aliases:
                alias_map[f.name] = aliases
                ext_fields += [T.StructField(a, f.dataType, True) for a in aliases]
        cols = [
            F.coalesce(F.col(f.name), *[F.col(a) for a in alias_map[f.name]])
            .alias(f.name)
            if f.name in alias_map
            else F.col(f.name)
            for f in sch.fields
        ]
        return T.StructType(ext_fields), cols

    def plan_scan(
        self,
        where: list[tuple] | None = None,
        snapshot: Snapshot | None = None,
    ) -> list[str]:
        """The file list a ``read(where=...)`` would scan, after manifest
        min/max pruning — exposed for observability and tests."""
        snap = snapshot if snapshot is not None else self.snapshot()
        if snap is None:
            return []
        if not where:
            return list(snap.files)
        return [
            f
            for f in snap.files
            if all(
                manifest._partition_may_match(
                    (snap.file_meta.get(f) or {}).get("partition"),
                    self.partition_spec, col, op, lit,
                )
                and manifest._file_may_match(snap.file_meta.get(f), col, op, lit)
                for col, op, lit in where
            )
        ]

    def snapshots(self) -> DataFrame:
        """The ``t$snapshots`` metadata table (M1, README.md:274-275).

        Columns mirror Iceberg's ``$snapshots`` shape (the reference's
        observability query, README.md:275): parent lineage, operation,
        a manifest-list stand-in (the snapshot json path), and a summary
        map (added/total counts + operation-specific keys), plus the
        engine's tiering watermark."""
        rows = []
        versions = self.snapshot_versions()
        retained = set(versions)
        for v in versions:
            s = self.snapshot(v)
            # summary serialized as a JSON string: nested map/array cells
            # crash the driver's pandas canonicalizer (CORRECTNESS_r01)
            summary = json.dumps(
                {
                    "added-records": str(s.added_rows),
                    "total-records": str(s.total_rows),
                    "total-data-files": str(len(s.files)),
                    **{k: json.dumps(v2) for k, v2 in s.summary.items()},
                },
                sort_keys=True,
            )
            rows.append(
                (
                    s.snapshot_id,
                    _shown_parent(s, retained),
                    s.committed_at_ms,
                    s.operation,
                    commit.snapshot_path(self.path, s.snapshot_id),
                    summary,
                    len(s.files),
                    s.total_rows,
                    s.added_rows,
                    s.hot_watermark,
                )
            )
        return arrow_local_df(
            self.spark,
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long, "
            "operation string, manifest_list string, summary string, "
            "n_files int, total_rows long, added_rows long, hot_watermark long",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """The ``t$files`` metadata table (Iceberg's per-data-file view):
        one row per data file in the snapshot with its manifest-recorded
        row count, byte size, and column bounds. ``column_stats`` is the
        {col: [min, max]} map serialized as a JSON string (nested cells
        crash the driver's canonicalizer — CORRECTNESS_r01)."""
        snap = self.snapshot(version)
        rows = []
        for f in snap.files if snap else []:
            m = snap.file_meta.get(f) or {}
            rows.append(
                (
                    f,
                    "data",
                    int(m.get("bytes", -1)),
                    int(m.get("rows", -1)),
                    json.dumps(m.get("stats", {}), sort_keys=True),
                )
            )
        for d in snap.delete_files if snap else []:
            m = snap.delete_meta.get(d) or {}
            rows.append(
                (
                    d,
                    f"{m.get('kind', 'position')}-deletes",
                    -1,
                    int(m.get("rows", -1)),
                    json.dumps({}, sort_keys=True),
                )
            )
        return arrow_local_df(
            self.spark,
            rows,
            "file_path string, content string, file_size_bytes long, "
            "record_count long, column_stats string",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """The ``t$partitions`` metadata table (Iceberg's per-partition
        rollup): one row per live partition with its record/file/byte
        counts — answered entirely from manifest metadata, zero data I/O
        (at 100 TB, the partition census is a catalog question, not a
        scan). Matches Iceberg's contract: ``record_count`` is the
        DATA-FILE record count (footer basis); merge-on-read tombstones
        are surfaced separately as ``position_delete_record_count`` so
        the two never silently disagree with ``read().count()``.
        ``partition`` is the {name: value} dict serialized as a JSON
        string (nested cells crash the driver's canonicalizer)."""
        if not self.partition_spec:
            raise ValueError(f"{self.name}: table is not partitioned")
        snap = self.snapshot(version)
        # exact per-file position-tombstone counts (equality deletes are
        # PK-bucket-scoped, and PK tables don't take a partition spec)
        pos_by_file = snap.position_tombstones() if snap else {}
        agg: dict[str, dict] = {}
        for f in snap.files if snap else []:
            m = snap.file_meta.get(f) or {}
            key = json.dumps(m.get("partition", {}), sort_keys=True)
            a = agg.setdefault(
                key, {"rows": 0, "files": 0, "bytes": 0, "dels": 0}
            )
            a["rows"] += int(m.get("rows", 0))
            a["files"] += 1
            a["bytes"] += int(m.get("bytes", 0))
            a["dels"] += pos_by_file.get(f, 0)
        rows = [
            (k, v["rows"], v["files"], v["bytes"], v["dels"])
            for k, v in sorted(agg.items())
        ]
        return arrow_local_df(
            self.spark,
            rows,
            "partition string, record_count long, file_count int, "
            "size_bytes long, position_delete_record_count long",
        )

    def delete_files(self, version: int | None = None) -> DataFrame:
        """The ``t$delete_files`` metadata table (Iceberg v2): one row
        per ACTIVE delete file in the snapshot — kind (position /
        equality), tombstone record count, and the data files it still
        references — answered from manifest metadata, zero data I/O."""
        snap = self.snapshot(version)
        rows = []
        for d in (snap.delete_files if snap else []):
            meta = (snap.delete_meta or {}).get(d) or {}
            refs = sorted((meta.get("files") or {}).keys())
            rows.append(
                (
                    d,
                    meta.get("kind", "position"),
                    int(meta.get("rows", 0)),
                    len(refs),
                    json.dumps(refs),
                )
            )
        return arrow_local_df(
            self.spark,
            rows,
            "path string, kind string, record_count long, "
            "referenced_data_files int, references string",
        )

    def refs(self) -> DataFrame:
        """The ``t$refs`` metadata table (Iceberg's named-ref view): one
        row per tag/branch plus the implicit ``main`` head — answered
        from meta/refs.json, zero data I/O."""
        refs = self._refs()
        rows = [("main", "BRANCH", self.current_version())]
        rows += [(n, "TAG", v) for n, v in sorted(refs["tags"].items())]
        rows += [(n, "BRANCH", v) for n, v in sorted(refs["branches"].items())]
        return arrow_local_df(
            self.spark,
            rows, "name string, type string, snapshot_id long"
        )

    def history(self) -> DataFrame:
        """The ``t$history`` metadata table: the commit log as Iceberg
        reports it — each retained snapshot's commit time, the parent it
        chained from (the same lineage ``$snapshots`` shows, so a branch
        commit's id is never mistaken for main's parent), and whether it
        is main's current snapshot."""
        cur = self.current_version()
        versions = self.snapshot_versions()
        retained = set(versions)
        rows = []
        for v in versions:
            s = self.snapshot(v)
            rows.append((s.committed_at_ms, v, _shown_parent(s, retained), v == cur))
        return arrow_local_df(
            self.spark,
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current boolean",
        )

    # ---------- maintenance ----------

    def compact(
        self,
        target_file_rows: int = 1_000_000,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        where: list[tuple] | None = None,
        only_smaller_than_bytes: int | None = None,
    ) -> Snapshot | None:
        """Small-file compaction (the Iceberg rewrite_data_files role):
        rewrite the current snapshot's files into ~target_file_rows-sized
        files. Data is unchanged — only the file layout; time travel to
        pre-compaction snapshots still sees the old files (file GC is a
        separate, explicitly-invoked step on a real deployment).

        Streaming lakehouses accrete small files from frequent commits
        (30 s freshness → 2,880 commits/day); periodic compaction is what
        keeps scan planning and open-file overhead bounded at scale.

        The rewrite follows the table's layout (``_write_files``): a
        plain compaction of a ``write.sort-order`` or ``write.zorder-by``
        table keeps that clustering, and ``sort_by``/``zorder_by``
        override it for this rewrite.

        ``sort_by`` (log tables): range-partition + sort the rewrite on
        the given columns (Iceberg's sort-order rewrite strategy). Files
        then hold disjoint key ranges, so the manifest min/max bounds
        turn ``read(where=...)`` file skipping from best-effort into
        near-exact — the clustering that makes a 100 TB time-range scan
        touch only its slice. A single compaction shuffle buys every
        subsequent scan's pruning.

        ``zorder_by`` (log tables, numeric columns): cluster by the
        interleaved-bit Morton code of equi-depth buckets instead
        (operators/zorder.py; the Delta/Iceberg OPTIMIZE ZORDER role) —
        every listed column's min/max bounds tighten
        per-file, so predicates on ANY of them prune, where a plain sort
        only serves its leading column.

        ``where`` (log tables): scope the rewrite to the files the
        conjunctive predicate ``[(col, op, lit), ...]`` can touch
        (Iceberg's ``rewrite_data_files(where => ...)``): matched files
        are rewritten IN FULL (they are dropped from the snapshot, so
        every row they hold must move), all other files carry forward
        untouched. At 100 TB compaction runs partition-by-partition on
        the freshly-written slice — rewriting the whole table per
        maintenance tick is not a plan.

        ``only_smaller_than_bytes`` (log tables): bin-pack SELECTION
        (Iceberg's binpack strategy with its size threshold): only files
        below the byte threshold rewrite; already-right-sized files
        carry forward untouched — the steady-state maintenance shape
        where each tick folds the small-file tail, never the table."""
        self._check_rewrite_allowed("compact")
        if sort_by and zorder_by:
            raise ValueError(f"{self.name}: sort_by and zorder_by are exclusive")
        if self.primary_key and (sort_by or zorder_by):
            raise ValueError(
                f"{self.name}: sort_by/zorder_by compaction applies to log "
                "tables; PK tables are clustered by bucket"
            )
        if where is not None and only_smaller_than_bytes is not None:
            raise ValueError(
                f"{self.name}: where and only_smaller_than_bytes are exclusive"
            )
        return self._compact_impl(
            target_file_rows, sort_by, zorder_by, where, only_smaller_than_bytes
        )

    def maybe_auto_compact(self) -> "Snapshot | None":
        """Commit-cadence small-file control (the Paimon/Delta
        auto-compaction role): when the table property
        ``write.auto-compact.file-threshold`` is set and the CURRENT
        snapshot references at least that many data files, rewrite them
        toward ``write.auto-compact.target-rows`` rows per file (default
        sizes files so the count lands near HALF the threshold —
        hysteresis, so the trigger doesn't re-fire on every subsequent
        commit). A streaming lakehouse at 30 s
        freshness commits 2,880 times/day (README.md:189-190); without a
        file-count trigger the scan-planning and open-file cost grows
        linearly with uptime. Call sites: the tiering pipeline and MV
        refresh invoke this after their commits — the check is
        metadata-only (one file-count read), so it is free when the
        threshold isn't crossed."""
        thr = self.properties.get("write.auto-compact.file-threshold")
        if not thr:
            return None
        self._check_rewrite_allowed("auto-compact")
        snap = self.snapshot()
        if snap is None or len(snap.files) < int(thr):
            return None
        target = self.properties.get("write.auto-compact.target-rows")
        rows = (
            int(target)
            if target
            else max(1, snap.total_rows * 2 // max(1, int(thr)))
        )
        return self._compact_impl(rows, None, None)

    def maybe_auto_expire(self) -> dict | None:
        """Retention-policy expiry on commit cadence (the
        ``history.expire.*`` Iceberg table-property role): when
        ``history.expire.max-snapshots`` is set and more snapshots are
        retained, expire down to that count. The check is one metadata
        listing — free when under the cap; tags, branch heads, and the
        current snapshot are always exempt (``expire_snapshots``'s
        contract). A 30 s-freshness pipeline commits 2,880×/day — without
        a policy the metadata directory grows without bound."""
        cap = self.properties.get("history.expire.max-snapshots")
        if not cap:
            return None
        if len(self.snapshot_versions()) <= int(cap):
            return None
        return self.expire_snapshots(keep_last=int(cap))

    def _compact_impl(
        self,
        target_file_rows: int,
        sort_by: list[str] | None,
        zorder_by: list[str] | None,
        where: list[tuple] | None = None,
        only_smaller_than_bytes: int | None = None,
    ) -> "Snapshot | None":
        cluster = sort_by or zorder_by
        snap = self.snapshot()
        if snap is None:
            return None
        if where is not None or only_smaller_than_bytes is not None:
            if self.primary_key:
                raise ValueError(
                    f"{self.name}: scoped compaction applies to log "
                    "tables; PK tables compact whole (bucket layout)"
                )
            if where is not None:
                touched = self.plan_scan(where, snapshot=snap)
            else:
                touched = [
                    f
                    for f in snap.files
                    if int((snap.file_meta.get(f) or {}).get("bytes", 0))
                    < only_smaller_than_bytes
                ]
            keep = [f for f in snap.files if f not in set(touched)]
            if not touched or (len(touched) <= 1 and not cluster):
                return None
            df = self._read_live(touched, self.schema, self.field_ids, snap)
            # live rows of the rewritten slice: footer rows minus the
            # tombstones active against exactly these files (log tables
            # carry position deletes only, which count per file)
            n = sum(
                int((snap.file_meta.get(f) or {}).get("rows", 0))
                for f in touched
            ) - snap.active_delete_count(touched)
        else:
            if len(snap.files) <= 1 and not cluster:
                return None
            touched, keep = snap.files, []
            df = self.read()
            n = snap.total_rows
        n_files = max(1, -(-n // target_file_rows))
        version = self._next_version()
        files = self._write_files(df, version, n_files, sort_by, zorder_by)
        summary = {"files_before": len(snap.files)}
        if sort_by:
            summary["sort_by"] = sort_by
        if zorder_by:
            summary["zorder_by"] = zorder_by
        if where is not None:
            summary["files_rewritten"] = len(touched)
            summary["where"] = [[c, o, str(v)] for c, o, v in where]
        elif only_smaller_than_bytes is not None:
            summary["files_rewritten"] = len(touched)
            summary["small_file_threshold_bytes"] = only_smaller_than_bytes
        return self._commit("compact", snap, keep + files, summary=summary)

    def analyze(self, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE (the Iceberg puffin/table-stats role): one scan
        computing per-column approx NDV (HLL++) and null counts, stored
        beside the current snapshot (``meta/stats_v{N}.json``) for a
        cost-based planner to pick join orders / broadcast sides. Row
        count comes from manifest metadata, not the scan."""
        snap = self.snapshot()
        cols = columns or self.schema.fieldNames()
        stats: dict = {"snapshot_id": snap.snapshot_id if snap else -1,
                       "row_count": self.count_rows(), "columns": {}}
        if snap and snap.files:
            df = self.read()
            aggs = []
            for c in cols:
                aggs.append(F.approx_count_distinct(c).alias(f"ndv_{c}"))
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
                )
            row = df.agg(*aggs).first()
            for c in cols:
                stats["columns"][c] = {
                    "ndv": int(row[f"ndv_{c}"]),
                    "null_count": int(row[f"nulls_{c}"]),
                }
        commit.atomic_write(
            self._meta(f"stats_v{stats['snapshot_id']}.json"), json.dumps(stats)
        )
        return stats

    def table_stats(self) -> dict | None:
        """Most recent ANALYZE result at or before the current snapshot."""
        versions = [
            int(f[len("stats_v"):-len(".json")])
            for f in os.listdir(self._meta())
            if f.startswith("stats_v") and f.endswith(".json")
        ]
        usable = [v for v in versions if v <= self.current_version()]
        if not usable:
            return None
        with open(self._meta(f"stats_v{max(usable)}.json")) as f:
            return json.load(f)

    def rollback(self, version: int) -> Snapshot:
        """Roll the table back to an earlier snapshot (the Iceberg
        ``rollback_to_snapshot`` role): commits a NEW snapshot that
        points at the old snapshot's file list, so history is preserved
        and the rollback itself is time-travelable/auditable. The tiering
        watermark keeps its CURRENT value — hot batches already tiered
        stay deduplicated in union reads regardless of lake rollback."""
        target = self.snapshot(version)
        if target is None:
            raise ValueError(f"{self.name}: no snapshot v{version} to roll back to")
        return self._commit(
            "rollback",
            self.snapshot(),
            list(target.files),
            summary={"rollback_to": version},
            delete_files=list(target.delete_files),
            delete_meta=dict(target.delete_meta),
        )

    def count_rows(self) -> int:
        """``SELECT COUNT(*)`` answered from manifest metadata alone
        (the Iceberg aggregate-pushdown role): O(1) driver-side, zero
        data I/O — at 100 TB the difference between a catalog lookup
        and a full scan."""
        snap = self.snapshot()
        return snap.total_rows if snap else 0

    def min_max(self, col: str) -> tuple | None:
        """``SELECT MIN(col), MAX(col)`` answered from manifest min/max
        bounds alone (the other half of Iceberg's aggregate pushdown):
        O(#files) driver-side metadata, zero data I/O. Returns None when
        any file lacks bounds for the column (all-null file, pre-stats
        snapshot, unsupported type) — the exact answer then needs a scan,
        and a wrong fast answer is worse than a slow right one. NULL
        semantics match SQL MIN/MAX (ignores nulls; parquet stats do
        too)."""
        if col not in self.schema.fieldNames():
            raise KeyError(f"{self.name}: no such column {col!r}")
        # Parquet writers TRUNCATE long string/binary footer stats: the
        # truncated bound is still valid for pruning but need not be a
        # value present in the table, so returning it as an EXACT MIN/MAX
        # would be wrong (and pyarrow 16 exposes no is_*_value_exact flag
        # to tell). Fall back to a scan for those types; pruning
        # (_file_may_match) keeps using the bounds, which stays sound.
        if isinstance(self.schema[col].dataType, (T.StringType, T.BinaryType)):
            return None
        snap = self.snapshot()
        if snap is None or not snap.files:
            return None
        if snap.active_delete_count():
            # a merge-on-read tombstone may cover the extreme row; footer
            # bounds still include it, so the fast answer could be wrong
            return None
        lo = hi = None
        for f in snap.files:
            meta = snap.file_meta.get(f) or {}
            if meta.get("rows") == 0:
                continue  # an empty file cannot hold the extreme
            stats = meta.get("stats", {}).get(col)
            if not stats:
                return None  # a file without bounds could hold the extreme
            flo, fhi = manifest._stat_decode(stats[0]), manifest._stat_decode(stats[1])
            lo = flo if lo is None else min(lo, flo)
            hi = fhi if hi is None else max(hi, fhi)
        return (lo, hi)

    def changelog(
        self, from_version: int, to_version: int | None = None,
        mode: str = "compact",
    ) -> DataFrame:
        """CDC diff scan for PK tables (the Fluss/Paimon changelog-read
        role; log tables use ``incremental_read``): one row per key whose
        state changed between the two snapshots, with
        ``op ∈ {insert, update, delete}`` and the key's NEW values
        (OLD values for deletes).

        ``mode="full"`` emits the Flink retraction-stream form instead:
        an update becomes TWO rows — ``update_before`` carrying the old
        values and ``update_after`` the new — so downstream consumers
        can maintain signed-delta state (the retractable-matview path);
        inserts/deletes are unchanged. Same scan, no extra I/O: the
        full-outer diff join already holds both images.

        Scale shape: buckets whose file sets are identical between the
        snapshots cannot contain changes and are pruned from the scan
        entirely (file-list set compare, zero I/O); only changed buckets
        are read and full-outer-joined on the key — and both sides are
        bucketed on that key, so at scale the join co-locates instead of
        shuffling the table."""
        if not self.primary_key:
            raise ValueError(
                f"{self.name}: changelog() requires a PK table; "
                "log tables stream deltas via incremental_read()"
            )
        to_v = self.current_version() if to_version is None else to_version
        old_snap, new_snap = self.snapshot(from_version), self.snapshot(to_v)
        if new_snap is None:
            raise ValueError(f"{self.name}: no snapshot v{to_v}")
        old_files = set(old_snap.files) if old_snap else set()
        new_files = set(new_snap.files)

        def by_bucket(files: set[str]) -> dict:
            d: dict = {}
            for f in files:
                d.setdefault(manifest._bucket_of_path(f), set()).add(f)
            return d

        def eq_state(snap: Snapshot | None) -> dict:
            """bucket → frozenset of (delete_file, seq) equality deletes
            active there — an equality delete changes a bucket without
            touching its file set, so pruning compares this too."""
            out: dict = {}
            if snap is None:
                return out
            for d in snap.delete_files:
                meta = snap.delete_meta.get(d) or {}
                if meta.get("kind") != "equality":
                    continue
                for b in manifest._eq_delete_buckets(meta, snap.files):
                    out.setdefault(b, set()).add((d, meta.get("seq", -1)))
            return out

        # a bucket whose file set is unchanged can still differ via a
        # merge-on-read delete file, so pruning compares per-file
        # tombstone counts too (metadata-only)
        ob, nb = by_bucket(old_files), by_bucket(new_files)
        ot = old_snap.position_tombstones() if old_snap else {}
        nt = new_snap.position_tombstones()
        oe, ne = eq_state(old_snap), eq_state(new_snap)
        changed = {
            b
            for b in set(ob) | set(nb)
            if ob.get(b) != nb.get(b)
            or oe.get(b) != ne.get(b)
            or any(
                ot.get(f, 0) != nt.get(f, 0)
                for f in (ob.get(b, set()) | nb.get(b, set()))
            )
        }
        o_scan = sorted(f for b in changed for f in ob.get(b, ()))
        n_scan = sorted(f for b in changed for f in nb.get(b, ()))

        fields = self.schema.fieldNames()
        val_cols = [c for c in fields if c not in self.primary_key]

        def load(files: list[str], snap: Snapshot | None) -> DataFrame:
            if not files:
                return self.spark.createDataFrame([], self.schema)
            return self._read_live(
                files, self.schema, self.field_ids, snap
            ).select(*fields)

        # presence markers added BEFORE the join: a join miss leaves the
        # whole side NULL including the marker (PK columns themselves are
        # NULL-able here, so they can't serve as presence flags)
        o = load(o_scan, old_snap).withColumn("__present", F.lit(1)).alias("o")
        n = load(n_scan, new_snap).withColumn("__present", F.lit(1)).alias("n")
        cond = None
        for k in self.primary_key:
            c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = c if cond is None else cond & c
        j = o.join(n, on=cond, how="full_outer")
        o_present = F.col("o.__present").isNotNull()
        n_present = F.col("n.__present").isNotNull()
        same_vals = None
        for c in val_cols:
            e = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
            same_vals = e if same_vals is None else same_vals & e
        op = (
            F.when(~o_present, F.lit("insert"))
            .when(~n_present, F.lit("delete"))
            .when(same_vals if same_vals is not None else F.lit(True), F.lit(None))
            .otherwise(F.lit("update"))
        )
        out_cols = [
            F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c)
            if c in self.primary_key
            else F.when(op == "delete", F.col(f"o.{c}"))
            .otherwise(F.col(f"n.{c}"))
            .alias(c)
            for c in fields
        ]
        compact = j.select(op.alias("op"), *out_cols).filter(
            F.col("op").isNotNull()
        )
        if mode == "compact":
            return compact
        if mode != "full":
            raise ValueError(f"changelog mode {mode!r}: compact|full")
        # retraction form: update → (update_before: old values,
        # update_after: new values); insert/delete pass through
        before_cols = [
            F.coalesce(F.col(f"o.{c}"), F.col(f"n.{c}")).alias(c)
            if c in self.primary_key
            else F.col(f"o.{c}").alias(c)
            for c in fields
        ]
        upd = j.filter(op == "update")
        return (
            compact.filter(F.col("op") != "update")
            .unionByName(
                upd.select(F.lit("update_before").alias("op"), *before_cols)
            )
            .unionByName(
                upd.select(F.lit("update_after").alias("op"), *out_cols)
            )
        )

    def incremental_read(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental append scan (the Iceberg ``incremental read``
        role): rows ADDED strictly after ``from_version`` up to and
        including ``to_version``. Implemented as the file-set difference
        of the two snapshots — planning cost is O(#files) metadata only,
        and the scan reads exactly the delta files, never the table.
        Raises if the range crosses a commit that rewrote or deleted
        data (overwrite / merge / compact / MoR delete — "added rows" is
        not defined by file difference there) — Iceberg's incremental
        scan refuses replace/overwrite snapshots the same way. Judged by
        what each commit DID to the file set, not its operation name, so
        metadata-only commits (ALTER TABLE schema-change, constraint,
        partition-spec evolution) pass through: their file diff is
        exactly the appended files. Walks main's parent chain, so branch
        snapshots whose ids interleave with the range are ignored."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        chain: list[Snapshot] = []
        v = to_v
        legacy = False
        while v > from_version and v >= 0:
            try:
                s = self.snapshot(v)
            except ValueError:
                # mid-chain snapshot expired: lineage unverifiable, fall
                # back to the retained-range operation check (the old
                # behavior, which serves append-only ranges correctly —
                # appended files stay referenced by retained snapshots)
                legacy = True
                break
            chain.append(s)
            if s.parent_id is None:
                legacy = True  # pre-lineage snapshot: can't walk further
                break
            v = s.parent_id
        if legacy:
            # conservative fallback over the id range (old behavior plus
            # metadata-only ops, which never move files)
            for sv in self.snapshot_versions():
                if (
                    from_version < sv <= to_v
                    and self.snapshot(sv).operation
                    not in ("append", "schema-change")
                ):
                    raise ValueError(
                        f"incremental read range crosses non-append snapshot "
                        f"{sv} ({self.snapshot(sv).operation})"
                    )
        else:
            if v != from_version and not (v < 0 and from_version < 0):
                raise ValueError(
                    f"{self.name}: v{from_version} is not an ancestor of "
                    f"v{to_v} — incremental read needs a lineage range"
                )
            for i, s in enumerate(chain):
                if i + 1 < len(chain):
                    par = chain[i + 1]
                elif s.parent_id is not None and s.parent_id >= 0:
                    par = self.snapshot(s.parent_id)
                else:
                    par = None
                removed = (set(par.files) if par else set()) - set(s.files)
                new_dels = set(s.delete_files) - set(par.delete_files if par else [])
                if removed or new_dels:
                    raise ValueError(
                        f"incremental read range crosses non-append rewrite "
                        f"snapshot {s.snapshot_id} ({s.operation}: "
                        f"{len(removed)} file(s) removed, "
                        f"{len(new_dels)} delete file(s) added)"
                    )
        base = set(self.snapshot(from_version).files) if from_version >= 0 else set()
        delta = [f for f in self.snapshot(to_v).files if f not in base]
        if not delta:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(T.StructType(self.schema.fields))
            .parquet(*[os.path.join(self.path, f) for f in delta])
            .select(*self.schema.fieldNames())
        )

    def changelog_stream(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame:
        """Subscribable per-commit changelog for PK tables — the piece the
        reference's union-read contract covers for datalake PK tables
        continuously (README.md:296-316) and ``stream_appends()`` refuses:
        one ``changelog(v, v')`` diff per consecutive retained snapshot
        pair, tagged ``change_version`` (the commit that produced the
        change), in deterministic micro-batch-replay form like the rest of
        the streaming surface.

        Scale shape: each step diff scans only that commit's changed
        buckets (changelog()'s file-set pruning), so the whole stream
        reads O(total changed data), never O(#commits × table)."""
        if not self.primary_key:
            raise ValueError(f"{self.name}: changelog_stream() requires a PK table")
        to_v = self.current_version() if to_version is None else to_version
        versions = [v for v in self.snapshot_versions() if from_version <= v <= to_v]
        out: DataFrame | None = None
        for a, b in zip(versions, versions[1:]):
            step = self.changelog(a, b).withColumn("change_version", F.lit(b))
            out = step if out is None else out.unionByName(step)
        if out is None:
            empty = T.StructType(
                [T.StructField("op", T.StringType())]
                + list(self.schema.fields)
                + [T.StructField("change_version", T.LongType())]
            )
            return self.spark.createDataFrame([], empty)
        return out

    def compose_changelog(self, log: DataFrame) -> DataFrame:
        """Compact a multi-commit changelog stream to net per-key changes
        (Kafka-compaction / Debezium-squash semantics): insert→…→delete
        cancels, insert→update stays insert, update→delete is delete,
        otherwise update carrying the LAST change's values. One shuffle on
        the primary key (min_by/max_by hash aggregation) — no window sort.

        Caveat (documented, inherent to op-only composition): an
        update chain that exactly reverts to the starting values still
        emits an update, where a base-state diff would emit nothing."""
        pk = self.primary_key
        val_cols = [c for c in self.schema.fieldNames() if c not in pk]
        agg = log.groupBy(*pk).agg(
            F.expr("min_by(op, change_version)").alias("__first_op"),
            F.expr("max_by(op, change_version)").alias("__last_op"),
            *[
                F.expr(f"max_by(`{c}`, change_version)").alias(c)
                for c in val_cols
            ],
        )
        first_op, last_op = F.col("__first_op"), F.col("__last_op")
        op = (
            F.when((last_op == "delete") & (first_op == "insert"), F.lit(None))
            .when(last_op == "delete", F.lit("delete"))
            .when(first_op == "insert", F.lit("insert"))
            .otherwise(F.lit("update"))
        )
        return (
            agg.select(op.alias("op"), *self.schema.fieldNames())
            .filter(F.col("op").isNotNull())
        )

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """The Iceberg ``expire_snapshots`` role: drop all but the newest
        ``keep_last`` snapshots' metadata, then delete data files no
        retained snapshot references. Time travel to an expired version
        raises; the current snapshot (and everything it references) is
        never touched. Metadata and file deletion are driver-side O(#files)
        operations on this table's directory — no data is read.

        Expiry order is crash-safe: a metadata json is removed before its
        newly-unreferenced files, so a crash mid-expiry can leave garbage
        files (cleaned by ``remove_orphan_files``) but never a retained
        snapshot with missing files."""
        versions = self.snapshot_versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        refs = self._refs()  # tags, branch heads, and main's current
        # snapshot never expire (branch commits can outnumber main's, so
        # "newest keep_last" alone could otherwise drop main's head)
        tagged = (
            set(refs["tags"].values())
            | set(refs["branches"].values())
            | {self.current_version()}
        )
        # a branch's whole ANCESTRY down to main's current head is also
        # protected: fast_forward verifies descent by walking parent ids,
        # and an expired mid-chain snapshot would make a legitimate
        # publish unverifiable (wedging the WAP pipeline). O(branch
        # length) metadata reads, no data I/O.
        cur = self.current_version()
        retained_set = set(versions)
        for head in refs["branches"].values():
            v = head
            while v >= 0 and v != cur and v in retained_set:
                tagged.add(v)
                s = self.snapshot(v)
                if s.parent_id is None:
                    break
                v = s.parent_id
        expired = [v for v in versions[:-keep_last] if v not in tagged]
        retained = [v for v in versions if v not in expired]
        keep_files = set()
        for v in retained:
            s = self.snapshot(v)
            keep_files.update(s.files)
            keep_files.update(s.delete_files)
        removed_files = []
        for v in expired:
            snap = self.snapshot(v)
            os.remove(commit.snapshot_path(self.path, v))
            for f in list(snap.files) + list(snap.delete_files):
                if f not in keep_files:
                    p = os.path.join(self.path, f)
                    if os.path.exists(p):
                        os.remove(p)
                    removed_files.append(f)
        return {
            "expired_snapshots": expired,
            "retained_snapshots": retained,
            "removed_files": sorted(set(removed_files)),
        }

    def remove_orphan_files(self, older_than_hours: float | None = None) -> list[str]:
        """The Iceberg ``remove_orphan_files`` role: delete parquet files
        under ``data/`` that no existing snapshot references — debris
        from writes whose commit never landed (the commit protocol writes
        files first, metadata last) or from a crash mid-expiry. Hot
        staging batches live under ``hot/`` and are never candidates.

        ``older_than_hours`` bounds the sweep of STAGED transaction
        metadata (``txn-v{N}.json``): staged snapshots younger than the
        horizon are presumed to belong to a live transaction and are
        kept (the Iceberg ``older_than`` discipline — mirrors the
        ``gc.orphan.older-than-hours`` table property, which is the
        default when the argument is omitted; falls back to 24h). A
        transaction whose staged snapshot IS swept (it outlived the
        horizon) fails at publish with a descriptive
        ``CommitConflictError`` rather than a raw OSError."""
        if older_than_hours is None:
            older_than_hours = float(
                self.properties.get("gc.orphan.older-than-hours", 24)
            )
        referenced = set()
        for v in self.snapshot_versions():
            s = self.snapshot(v)
            referenced.update(s.files)
            referenced.update(s.delete_files)
        # LIVE staged snapshots — a transaction's txn-v{N}.json or a
        # facade-routed commit's rest-v{N}.json — are not listed by
        # snapshot_versions() but their data files are not orphans:
        # protect them, and only sweep staged metadata old enough that
        # no commit can still be in flight (the Iceberg
        # remove_orphan_files `older_than` discipline)
        stale_staged = []
        now_ms = int(time.time() * 1000)
        for fname in os.listdir(self._meta()):
            if any(
                commit.staged_version(fname, kind) is not None
                for kind in (commit.TXN, commit.REST)
            ):
                try:
                    with open(self._meta(fname)) as f:
                        staged = Snapshot.from_json(f.read())
                except (OSError, ValueError, KeyError):
                    continue  # unreadable staged debris: keep data-safe
                referenced.update(staged.files)
                referenced.update(staged.delete_files)
                if now_ms - staged.committed_at_ms > older_than_hours * 3600 * 1000:
                    stale_staged.append(fname)
        removed = []
        for sub in ("data", "deletes"):
            for dirpath, _dirs, files in os.walk(os.path.join(self.path, sub)):
                for fname in files:
                    full = os.path.join(dirpath, fname)
                    rel = os.path.relpath(full, self.path)
                    if fname.endswith(".parquet") and rel not in referenced:
                        os.remove(full)
                        removed.append(rel)
        for fname in stale_staged:
            os.remove(self._meta(fname))
            removed.append(os.path.join("meta", fname))
        return sorted(removed)

    def export_iceberg_metadata(self) -> str:
        """Export the CURRENT snapshot in the Iceberg v2 on-disk format
        under ``{path}/metadata/`` (table-metadata JSON + Avro manifest
        list/manifests + version-hint) so engine-free Iceberg readers
        can resolve it — the interchange contract the reference's
        cross-engine topology demands (trino/iceberg.properties:2-6,
        README.md:129-133). Returns the metadata-location; the REST
        facade surfaces it on table GETs. See lake/iceberg_meta.py."""
        from fluss_iceberg_spark.lake import iceberg_meta

        return iceberg_meta.export_iceberg_metadata(self)

    # the table.json fields a schema change (``_commit_schema_change``)
    # writes; properties and the partition spec are written on their own
    _SCHEMA_META = (
        "schema", "not_null", "field_ids", "name_log", "retired_names",
        "next_field_id", "constraints",
    )

    def _persist_meta(self, *keys: str) -> None:
        """Write this handle's ``keys`` fields into meta/table.json and
        leave every other field as stored, so a schema change never
        overwrites properties another handle set (and vice versa)."""
        meta_path = os.path.join(self.path, "meta", "table.json")
        with open(meta_path) as f:
            meta = json.load(f)
        for k in keys:
            v = getattr(self, k)
            meta[k] = v.jsonValue() if k == "schema" else v
        commit.atomic_write(meta_path, json.dumps(meta))

    def set_properties(self, props: dict) -> None:
        """``ALTER TABLE t SET TBLPROPERTIES (...)``: persisted to table
        metadata and landed as a metadata-only snapshot, so write-path
        properties (write.sort-order, bloom/value-set columns,
        auto-compact thresholds, retention, delete/update modes) take
        effect for every subsequent write from any session. Write-path
        column specs are validated eagerly — a typo fails at ALTER, not
        at the next append."""
        after = {**self.properties, **{str(k): str(v) for k, v in props.items()}}
        _layout_columns(self.name, self.schema, after)
        self.properties = after
        self._commit_schema_change(
            "set-properties " + ",".join(sorted(map(str, props))), "properties"
        )

    def unset_properties(self, keys: list) -> None:
        """``ALTER TABLE t UNSET TBLPROPERTIES (...)`` — removing an
        absent key is a no-op, matching Spark/Iceberg."""
        for k in keys:
            self.properties.pop(str(k), None)
        self._commit_schema_change(
            "unset-properties " + ",".join(sorted(map(str, keys))), "properties"
        )

    def add_partition_field(self, spec: str) -> None:
        """Partition-spec evolution, add (Iceberg ``ALTER TABLE ... ADD
        PARTITION FIELD``): future writes lay out under the extended
        spec; EXISTING files keep their write-time layout and their
        manifest partition record. Pruning stays sound without any
        rewrite because ``_partition_may_match`` evaluates each file
        against the partition values THAT FILE recorded — spec entries a
        file predates are simply non-pruning for it (conservative), and
        footer min/max still applies. This is exactly Iceberg's
        spec-evolution contract: no data migration, old partitions keep
        the old scheme."""
        if self.primary_key:
            raise ValueError(
                f"{self.name}: partition spec applies to log tables "
                "(PK tables are bucket-partitioned by key hash)"
            )
        entry = parse_partition_spec([spec], self.schema)[0]
        if any(p["name"] == entry["name"] for p in self.partition_spec):
            raise ValueError(
                f"{self.name}: partition field {entry['name']!r} already exists"
            )
        self.partition_spec = self.partition_spec + [entry]
        self._commit_schema_change(
            f"add-partition-field {entry['name']}", "partition_spec"
        )

    def drop_partition_field(self, name_or_spec: str) -> None:
        """Partition-spec evolution, drop: future writes stop deriving
        the field; existing files keep and keep pruning by their recorded
        values (their manifest record is self-describing)."""
        target = name_or_spec.strip()
        try:
            target = parse_partition_spec([target], self.schema)[0]["name"]
        except ValueError:
            pass  # already a partition-field name, not a spec expression
        keep = [p for p in self.partition_spec if p["name"] != target]
        if len(keep) == len(self.partition_spec):
            raise ValueError(
                f"{self.name}: no partition field {target!r} "
                f"(have {[p['name'] for p in self.partition_spec]})"
            )
        self.partition_spec = keep
        self._commit_schema_change(f"drop-partition-field {target}", "partition_spec")

    def _commit_schema_change(self, what: str, *keys: str) -> None:
        """Persist the table.json fields ``keys`` changed (default: the
        schema's, ``_SCHEMA_META``) and land the change as a snapshot
        (same files, zero data I/O), so time travel to any earlier
        snapshot reads under the schema THAT snapshot recorded —
        Iceberg's metadata-version semantics. No snapshot before the
        first data commit."""
        self._persist_meta(*(keys or self._SCHEMA_META))
        snap = self.snapshot()
        if snap is not None:
            self._commit(
                "schema-change", snap, list(snap.files), summary={"change": what}
            )

    def add_constraint(self, name: str, expr: str) -> None:
        """CHECK constraint (Delta-constraints role; SQL ``ALTER TABLE t
        ADD CONSTRAINT name CHECK (expr)``). Existing rows are validated
        first — one predicate-pushed scan counting violations (FALSE
        evaluations; NULLs pass, per SQL CHECK) — then the constraint
        lands as a metadata-only snapshot and every subsequent write
        enforces it inline in the write projection (``_prepare``): a
        violating batch fails before any file is committed."""
        if name in self.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        try:
            F.expr(expr)
        except Exception as ex:
            raise ValueError(f"cannot parse CHECK expression {expr!r}: {ex}")
        n_bad = (
            self.read()
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"CHECK ({expr})"
            )
        self.constraints[name] = expr
        self._commit_schema_change(f"add-constraint {name}")

    def drop_constraint(self, name: str) -> None:
        if name not in self.constraints:
            raise ValueError(f"no such constraint {name!r}")
        del self.constraints[name]
        self._commit_schema_change(f"drop-constraint {name}")

    def add_column(self, name: str, dtype: T.DataType) -> None:
        """Schema evolution: append a nullable column. Existing parquet
        files simply lack the column — snapshot reads project it as NULL
        (read-schema projection), exactly Iceberg's add-column semantics.
        No data rewrite. A name that ever belonged to a dropped/renamed
        column is refused: old files still carry data under it, and this
        engine resolves columns by name (Iceberg's field ids allow reuse;
        the tombstone guard buys the same safety)."""
        if name in self.schema.fieldNames():
            raise ValueError(f"column {name} already exists")
        if name in self.retired_names:
            raise ValueError(
                f"column name {name!r} was previously dropped/renamed; old "
                "data files still carry it — pick a fresh name"
            )
        self.schema = T.StructType(
            self.schema.fields + [T.StructField(name, dtype, True)]
        )
        fid = self.next_field_id
        self.next_field_id += 1
        self.field_ids[name] = fid
        self.name_log[str(fid)] = [name]
        self._commit_schema_change(f"add_column {name}")

    # legal type promotions (the Iceberg schema-evolution matrix §4.1:
    # a promotion must be exact — every old value representable in the
    # new type — so reads of un-rewritten files just upcast)
    _WIDEN_OK = (
        (T.IntegerType, T.LongType),
        (T.ShortType, T.IntegerType),
        (T.ShortType, T.LongType),
        (T.FloatType, T.DoubleType),
    )

    def widen_column(self, name: str, new_type: T.DataType) -> None:
        """Schema evolution: TYPE WIDENING, metadata-only (Iceberg's
        type-promotion rules): int→bigint, float→double, and
        decimal(P,S)→decimal(P',S) with P'>=P. Old parquet files keep
        their narrow physical type; reads resolve them under the widened
        read schema (parquet upcast — exact by construction, so no
        rewrite and no value change). Narrowing and scale changes are
        refused: they can lose values, which Iceberg likewise forbids."""
        if name not in self.schema.fieldNames():
            raise KeyError(f"{self.name}: no such column {name!r}")
        old_t = self.schema[name].dataType
        ok = any(
            isinstance(old_t, a) and isinstance(new_type, b)
            for a, b in self._WIDEN_OK
        )
        if (
            isinstance(old_t, T.DecimalType)
            and isinstance(new_type, T.DecimalType)
            and new_type.scale == old_t.scale
            and new_type.precision >= old_t.precision
        ):
            ok = True
        if old_t == new_type:
            return  # idempotent no-op
        if not ok:
            raise ValueError(
                f"{self.name}: cannot widen {name} from "
                f"{old_t.simpleString()} to {new_type.simpleString()} — "
                "only int→bigint, float→double, and same-scale decimal "
                "precision growth are exact promotions"
            )
        self.schema = T.StructType(
            [
                T.StructField(name, new_type, f.nullable, f.metadata)
                if f.name == name
                else f
                for f in self.schema.fields
            ]
        )
        self._commit_schema_change(
            f"widen_column {name} {old_t.simpleString()}->{new_type.simpleString()}"
        )

    def _guard_column_references(self, col: str, action: str) -> None:
        """Refuse a metadata-only column change that would brick later
        writes: CHECK constraints, write.sort-order and write.zorder-by
        all store column references by NAME and are evaluated in the
        write path (_prepare / _write_files), so a
        rename/drop of a referenced column would make every subsequent
        append/merge raise. Word-boundary text match on constraint
        expressions — conservative (a name inside a string literal also
        refuses), which errs on the safe side."""
        pat = re.compile(rf"\b{re.escape(col)}\b")
        for cname, expr in self.constraints.items():
            if pat.search(expr):
                raise ValueError(
                    f"{self.name}: cannot {action} column {col!r} — CHECK "
                    f"constraint {cname!r} references it ({expr}); DROP "
                    "CONSTRAINT first"
                )
        for prop, cols in _layout_columns(
            self.name, self.schema, self.properties
        ).items():
            if col in cols:
                raise ValueError(
                    f"{self.name}: cannot {action} column {col!r} — it is in "
                    f"{prop}; unset the property first"
                )

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: RENAME COLUMN, metadata-only (Iceberg §2.7).
        The field keeps its id; old data files keep their data under the
        old name and reads coalesce across the field's name history, so
        no rewrite happens and un-evolved files stay readable."""
        if old not in self.schema.fieldNames():
            raise KeyError(f"{self.name}: no such column {old!r}")
        if new in self.schema.fieldNames():
            raise ValueError(f"{self.name}: column {new!r} already exists")
        if new in self.retired_names or any(
            new in names for names in self.name_log.values()
        ):
            raise ValueError(
                f"{self.name}: name {new!r} appears in column history; old "
                "files may carry it — pick a fresh name"
            )
        if old in self.primary_key:
            raise ValueError(f"{self.name}: cannot rename PK column {old!r}")
        if any(p["col"] == old for p in self.partition_spec):
            raise ValueError(
                f"{self.name}: cannot rename partition source column {old!r}"
            )
        self._guard_column_references(old, "rename")
        fid = self.field_ids.pop(old)
        self.field_ids[new] = fid
        self.name_log.setdefault(str(fid), [old])
        if new not in self.name_log[str(fid)]:
            self.name_log[str(fid)].append(new)
        if old not in self.retired_names:
            self.retired_names.append(old)
        self.schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in self.schema.fields
            ]
        )
        self.not_null = [new if c == old else c for c in self.not_null]
        self._commit_schema_change(f"rename_column {old}->{new}")

    def drop_column(self, name: str) -> None:
        """Schema evolution: DROP COLUMN, metadata-only (Iceberg §2.7).
        Old files keep the bytes; reads simply stop projecting the
        column (parquet column pruning — dropped data is never even
        decoded). The name and its history are tombstoned so a future
        add_column can't resurrect old values."""
        if name not in self.schema.fieldNames():
            raise KeyError(f"{self.name}: no such column {name!r}")
        if name in self.primary_key:
            raise ValueError(f"{self.name}: cannot drop PK column {name!r}")
        if any(p["col"] == name for p in self.partition_spec):
            raise ValueError(
                f"{self.name}: cannot drop partition source column {name!r}"
            )
        self._guard_column_references(name, "drop")
        if len(self.schema.fields) == 1:
            raise ValueError(f"{self.name}: cannot drop the only column")
        fid = self.field_ids.pop(name)
        for n in self.name_log.get(str(fid), [name]):
            if n not in self.retired_names:
                self.retired_names.append(n)
        self.schema = T.StructType(
            [f for f in self.schema.fields if f.name != name]
        )
        self.not_null = [c for c in self.not_null if c != name]
        self._commit_schema_change(f"drop_column {name}")

    # ---------- hot staging + tiering + union read ----------

    def _hot_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, "hot", f"batch={batch_id}")

    def _hot_watermark(self) -> int:
        """Highest hot batch id the current snapshot has tiered (-1: none)."""
        snap = self.snapshot()
        return snap.hot_watermark if snap else -1

    def hot_batches(self) -> list[int]:
        hot = os.path.join(self.path, "hot")
        if not os.path.isdir(hot):
            return []
        return sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(hot) if d.startswith("batch=")
        )

    def write_hot_batch(self, df: DataFrame, batch_id: int) -> None:
        """Stage a stream micro-batch in the hot store (the Fluss role).
        Idempotent per batch_id: a retried batch overwrites itself."""
        df = self._enforce_not_null(self._prepare(df))
        df.write.mode("overwrite").parquet(self._hot_dir(batch_id))

    def read_hot_batch(self, batch_id: int) -> DataFrame:
        """The rows ``write_hot_batch`` staged for ``batch_id``, as the
        sink kept them (after the write's projection and not-null drop)."""
        return self._read_hot_batches([batch_id], False)

    def _read_hot_batches(self, batches: list[int], with_batch_id: bool) -> DataFrame:
        """Read the given staged batches; optionally tag each row with its
        batch id (one read per batch dir — batch counts are small by
        construction, the tiering loop drains them every freshness tick)."""
        if not with_batch_id:
            return self._project_files(
                [self._hot_dir(b) for b in batches], self.schema, self.field_ids
            )
        parts = [
            self._project_files([self._hot_dir(b)], self.schema, self.field_ids)
            .withColumn("__batch_id", F.lit(b))
            for b in batches
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_hot(
        self, after_watermark: int | None = None, with_batch_id: bool = False
    ) -> DataFrame:
        wm = after_watermark if after_watermark is not None else self._hot_watermark()
        batches = [b for b in self.hot_batches() if b > wm]
        if not batches:
            df = self.spark.createDataFrame([], self.schema)
            return df.withColumn("__batch_id", F.lit(-1)) if with_batch_id else df
        return self._read_hot_batches(batches, with_batch_id)

    def tier(self, up_to_batch: int | None = None) -> Snapshot | None:
        """Lake tiering (S17/ST5): drain staged hot batches ≤ up_to_batch
        into the lake, advancing the watermark atomically with the commit.
        Append semantics for log tables, MERGE for PK tables — matching
        the reference tiering job (docker-compose.yml:95-111).

        The watermark advance rides the merge/append commit itself, so a
        crash can never leave a batch
        visible in both the lake and the hot store: either the snapshot
        (files + watermark) landed atomically, or neither did.

        Cross-batch ordering: for PK tables the reference's tiering is
        log-ordered — a key written in batch 5 and again in batch 7 must
        end at batch 7's value. Duplicate keys are resolved by descending
        batch id *before* the merge.

        File sizing: the drained batches are ``right_size``d by their
        on-disk bytes, so a log table's tier writes ceil(bytes /
        ``spark.sql.files.maxPartitionBytes``) files instead of one per
        scan split (the scan splits small inputs across every core).
        """
        # one parse: the batches to drain and the commit's parent come from
        # the same snapshot, so a tier that lands meanwhile is a conflict
        parent = self.snapshot()
        current_wm = parent.hot_watermark if parent else -1
        batches = [b for b in self.hot_batches() if b > current_wm]
        if up_to_batch is not None:
            batches = [b for b in batches if b <= up_to_batch]
        if not batches:
            return None
        new_wm = max(batches)
        df = right_size(
            self._read_hot_batches(batches, with_batch_id=bool(self.primary_key)),
            self._hot_batch_bytes(batches),
        )
        commit_as = {
            "operation": "tier",
            "hot_watermark": new_wm,
            "summary": {"tiered_batches": batches},
        }
        if self.primary_key:
            from pyspark.sql.window import Window

            w = Window.partitionBy(*self.primary_key).orderBy(
                F.col("__batch_id").desc()
            )
            resolved = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(*self.schema.fieldNames())
            )
            return self._merge(resolved, None, lambda: parent, **commit_as)
        return self._append(
            df.select(*self.schema.fieldNames()), lambda: parent, **commit_as
        )

    def stream_appends(self) -> DataFrame:
        """U2: subscribe to a log table as a stream — the reference's
        streaming read of a Fluss log table (README.md:296-302). A parquet
        file stream over the data directory picks up each append commit's
        files as they land; exactly-once via the file-source log +
        downstream checkpoints. Log tables only (PK tables rewrite bucket
        files on merge, which would re-emit rows).

        A file stream lists one directory level unless told to recurse,
        and data files sit at different depths (``data/s{N}/<write>/``,
        partition directories below that, legacy ``data/s{N}/``), so it
        looks up files recursively; partition values need no inference,
        since hidden partitioning keeps the source column in the file."""
        if self.primary_key:
            raise ValueError(
                f"{self.name}: changelog streaming of PK tables is not "
                "supported (copy-on-write rewrites would re-emit rows)"
            )
        return (
            self.spark.readStream.schema(T.StructType(self.schema.fields))
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(os.path.join(self.path, "data"))
        )

    # Hot bytes above which PK union_read falls back to the full-shuffle
    # window plan instead of broadcasting the hot key set. Hot data is
    # bounded by the tiering freshness budget, so in steady state it is
    # far below this; the guard only matters when tiering has stalled.
    _HOT_BROADCAST_MAX_BYTES = 256 * 1024 * 1024

    def _hot_bytes(self) -> int:
        """Driver-side size of un-tiered hot batches (os.stat only — no
        Spark job), used to pick the union_read plan."""
        wm = self._hot_watermark()
        return self._hot_batch_bytes([b for b in self.hot_batches() if b > wm])

    def _hot_batch_bytes(self, batches: list[int]) -> int:
        """On-disk parquet bytes of the given hot batches (os.stat only)."""
        total = 0
        for b in batches:
            with os.scandir(self._hot_dir(b)) as it:
                total += sum(
                    e.stat().st_size for e in it if e.name.endswith(".parquet")
                )
        return total

    def union_read(self) -> DataFrame:
        """Hot∪cold union read (U1, README.md:296-316): lake snapshot plus
        hot batches beyond the snapshot's watermark. The watermark makes
        the boundary exactly-once: no dup, no gap.

        Log tables: plain union. PK tables (the reference's
        datalake-enabled ``nation_revenue``, README.md:196-203, 296-316):
        last value per key — a key updated in a hot batch after tiering
        must surface once, at its hot value. Resolution order: higher hot
        batch id > lower > lake snapshot.

        Scale shape: the hot side is a few freshness-ticks of data, the
        cold side is the table — so the exchange must be bounded by HOT
        volume, never cold. The hot key set is broadcast; cold rows
        without a hot match (the overwhelming majority) pass through with
        NO shuffle (broadcast anti-join), and only hot ∪ contested-cold
        rows enter the last-writer window. Null-safe key equality (NULL
        is a legal PK value, FIXTURES invariant 3). If tiering has
        stalled and hot bytes exceed the broadcast guard, falls back to
        the one-full-shuffle window plan."""
        cold = self.read()
        if not self.primary_key:
            return cold.unionByName(self.read_hot())
        hot = self.read_hot(with_batch_id=True)
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.primary_key).orderBy(F.col("__batch_id").desc())
        if self._hot_bytes() > self._HOT_BROADCAST_MAX_BYTES:
            merged = cold.withColumn("__batch_id", F.lit(-1)).unionByName(hot)
            return (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(*self.schema.fieldNames())
            )
        hot_keys = F.broadcast(
            hot.select(
                *[F.col(k).alias(f"__hk_{k}") for k in self.primary_key]
            ).dropDuplicates()
        )

        def _cond(left: DataFrame):
            cond = None
            for k in self.primary_key:
                c = left[k].eqNullSafe(F.col(f"__hk_{k}"))
                cond = c if cond is None else cond & c
            return cond

        untouched = cold.join(hot_keys, on=_cond(cold), how="left_anti")
        contested = cold.join(hot_keys, on=_cond(cold), how="left_semi")
        resolved = (
            contested.withColumn("__batch_id", F.lit(-1))
            .unionByName(hot)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*self.schema.fieldNames())
        )
        return untouched.select(*self.schema.fieldNames()).unionByName(resolved)


class CatalogTransaction:
    """Multi-table ATOMIC transaction (the capability single-table
    Iceberg lacks and catalog-level systems — Nessie, a transactional
    REST catalog — add): writes against any number of this catalog's
    tables become visible together or not at all.

    Protocol (write-ahead intent + roll-forward, the standard 2-phase
    shape):

    1. STAGE — each table commit runs its normal machinery (conflict
       CAS, manifest stats, constraint enforcement) and exclusive-
       creates its snapshot json under the staged name
       ``txn-v{N}.json`` — a name no reader lists, so uncommitted work
       is invisible to EVERY other reader: pointer-following reads,
       ``$snapshots`` listings, and explicit ``read(version=N)`` time
       travel alike. The txn's own tables read their staged head
       (read-your-own-writes via the staged-name fallback).
    2. LINK + INTENT (``commit.publish_txn``, under the catalog
       commit section — the facade route runs the same call) — re-verify no
       pointer moved, hard-link every staged json into its public
       ``v{N}.json`` place (exclusive — a racing writer that claimed
       the same id loses here), then atomically write
       ``_txn/txn-<id>.json`` listing every (table, version). The
       intent file is the commit point.
    3. PUBLISH — flip each table's VERSION pointer, delete the intent
       file, drop the staged names.

    Crash before INTENT: staged/linked jsons are orphan debris the
    pointer CAS already skips past (cleaned by remove_orphan_files).
    Crash or failure after INTENT: ``commit.recover`` (run by
    ``LakeCatalog.__init__``) ROLLS FORWARD — it
    re-applies every pointer flip idempotently (skipping tables a later
    commit already advanced) and deletes the intent file. Readers
    therefore never observe a partially-published transaction across a
    process restart. Single-table commits flip their pointer under the
    same commit lock, so a concurrent commit can never be silently
    overwritten by the publish step. In a real deployment steps 2-3
    are one catalog CAS (the same stand-in boundary as S18's
    snapshot-log protocol). Known filesystem-stand-in leak at that
    boundary: between a table's ``v{N}.json`` link and the intent
    write there is a brief window where an explicit
    ``read(version=N)`` / ``snapshot_versions()`` can observe a
    snapshot that would be aborted if a LATER table's link or the
    re-verify fails — pointer-following reads are unaffected (the
    VERSION pointer only moves post-intent), and a real catalog CAS
    collapses the window to zero. Accepted as documented behavior of
    the stand-in.

    Not combinable with branch writes (``on_branch`` has its own
    publish path — WAP already gives staged isolation there).
    """

    def __init__(self, catalog: "LakeCatalog"):
        self.catalog = catalog
        self._tables: dict[str, LakeTable] = {}
        # path -> {"first_base": int, "latest": int, "all": [versions]}
        self._staged: dict[str, dict] = {}
        self._done = False
        # callers may stage DIFFERENT tables from concurrent threads
        # (the admission claim phase overlaps its three state writes);
        # the registry mutation itself must stay atomic
        import threading

        self._stage_lock = threading.Lock()

    def table(self, name: str) -> LakeTable:
        if name not in self._tables:
            t = self.catalog.load(name)
            if t.write_branch:
                raise ValueError("transactions do not combine with branches")
            t._txn = self
            self._tables[name] = t
        return self._tables[name]

    def staged_version(self, t: LakeTable) -> int | None:
        s = self._staged.get(t.path)
        return s["latest"] if s else None

    def staged_all(self, t: LakeTable) -> list[int]:
        """Every snapshot version this txn has staged for ``t`` (the
        set whose metadata lives under txn-v{N}.json until publish)."""
        s = self._staged.get(t.path)
        return list(s["all"]) if s else []

    def base_version(self, t: LakeTable, cur: int) -> int:
        """The pointer value this table must still hold for the txn's
        stage to be conflict-free: its value at first stage (or now)."""
        s = self._staged.get(t.path)
        return s["first_base"] if s else cur

    def stage(self, t: LakeTable, base: int, version: int) -> None:
        with self._stage_lock:
            s = self._staged.setdefault(
                t.path, {"first_base": base, "latest": version, "all": []}
            )
            s["latest"] = version
            s["all"].append(version)

    def commit(self) -> None:
        if self._done:
            raise ValueError("transaction already finished")
        self._done = True
        try:
            if not self._staged:
                return
            # A warehouse that opted into a REST catalog facade routes
            # the whole multi-table publish through the catalog SERVICE
            # (the Iceberg REST commitTransaction shape); either way the
            # publish is commit.publish_txn under the shared section.
            endpoint = commit.catalog_key(self.catalog.warehouse, "rest-catalog")
            if endpoint:
                self._commit_via_rest(endpoint)
                return
            try:
                commit.publish_txn(self.catalog.warehouse, self._entries())
            except (CommitConflictError, OSError):
                # raised only before the intent: nothing is published
                self._abort()
                raise
        finally:
            self._detach()

    def _entries(self) -> list[tuple[str, int, int, list[int]]]:
        """commit.publish_txn's (path, expected, target, staged) rows."""
        return [
            (path, s["first_base"], s["latest"], s["all"])
            for path, s in self._staged.items()
        ]

    def _commit_via_rest(self, endpoint: str) -> None:
        """Publish every staged table atomically through the catalog
        facade (rest_catalog._txn_commit → commit.publish_txn). Failure
        resolution mirrors LakeTable._cas_via_rest: on transport loss the
        roll-forward sweep first finishes any publish whose intent
        landed; then every pointer at/past its target ⇒ applied with the
        response lost, every staged ``txn-v{N}.json`` name still present
        ⇒ never applied (determinate failure), anything else surfaces as
        CommitStateUnknownError."""
        import http.client

        from fluss_iceberg_spark.lake import rest_catalog

        changes = [
            {
                "name": os.path.basename(path.rstrip(os.sep)),
                "expected": expected,
                "target": target,
                "staged_versions": versions,
            }
            for path, expected, target, versions in self._entries()
        ]
        err: Exception | None = None
        status, body = 0, {}
        try:
            status, body = rest_catalog.commit_transaction(endpoint, changes)
        except (OSError, http.client.HTTPException, ValueError) as e:
            err = e
        if status == 200:
            # the facade consumed every staged name and flipped every
            # pointer — nothing left for abort/cleanup to touch
            self._staged.clear()
            return
        if status in (400, 409):
            self._abort()
            raise CommitConflictError(
                f"catalog rejected transaction publish: {body.get('error')}"
            )
        # transport error / intermediary status — the facade MAY have
        # applied the transaction, or stopped after its intent. Finish
        # the latter first (an abort then would delete snapshots a
        # flipped pointer already names), then resolve under the shared
        # section (the facade holds it while processing, so post-lock
        # state is quiescent).
        commit.recover(self.catalog.warehouse)
        with commit.commit_section(self.catalog.warehouse):
            if all(
                commit.read_version(path) >= s["latest"]
                for path, s in self._staged.items()
            ):
                self._staged.clear()
                return  # committed; only the response was lost
            if all(
                os.path.exists(commit.snapshot_path(path, v, commit.TXN))
                for path, s in self._staged.items()
                for v in s["all"]
            ):
                # no intent, nothing consumed: determinate failure
                self._abort()
                raise RuntimeError(
                    f"REST catalog at {endpoint} failed the transaction "
                    f"publish ({err or f'HTTP {status}: {body}'}; resolved "
                    "under the commit section: no table advanced, staged "
                    "snapshots removed)"
                ) from err
        raise CommitStateUnknownError(
            f"REST catalog at {endpoint}: transaction publish is in an "
            f"unknown state ({err or f'HTTP {status}: {body}'}); staged "
            "snapshots partially consumed and no intent resolved it"
        ) from err

    def abort(self) -> None:
        if self._done:
            return
        self._done = True
        self._abort()
        self._detach()

    def _abort(self) -> None:
        for path, s in self._staged.items():
            for v in s["all"]:
                staged_p = commit.snapshot_path(path, v, commit.TXN)
                public_p = commit.snapshot_path(path, v)
                # a public link created by a publish attempt that
                # conflicted mid-linking is OURS only if it is the same
                # inode as the staged file — a racing non-txn writer's
                # own v{N}.json must never be deleted
                try:
                    if os.path.samefile(staged_p, public_p):
                        os.remove(public_p)
                except FileNotFoundError:
                    pass
                try:
                    os.remove(staged_p)
                except FileNotFoundError:
                    pass
        self._staged.clear()

    def _detach(self) -> None:
        for t in self._tables.values():
            t._txn = None

    def __enter__(self) -> "CatalogTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self.abort()
        else:
            self.commit()


class LakeCatalog:
    """Directory-per-table catalog (the Iceberg-REST-catalog role, S8/S18)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        commit.recover(warehouse)

    def transaction(self) -> CatalogTransaction:
        """Begin a multi-table atomic transaction (see
        CatalogTransaction). Use as a context manager."""
        return CatalogTransaction(self)

    def table_path(self, name: str) -> str:
        # the single choke point for create/load/exists/drop: the commit
        # section is derived from a table path's parent dir
        if not commit.is_valid_table_name(name):
            raise ValueError(
                f"invalid table name {name!r}: tables are direct children "
                "of the warehouse (no path separators, '.' or '..')"
            )
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.table_path(name), "meta", "table.json"))

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        primary_key: list[str] | None = None,
        not_null: list[str] | None = None,
        n_buckets: int = 16,
        properties: dict | None = None,
        replace: bool = False,
        partition_by: list[str] | None = None,
    ) -> LakeTable:
        """S9/S10/S11: CREATE TABLE (log / PK / datalake-enabled). Datalake
        properties (freshness etc., README.md:189-190) go into
        ``properties`` and drive the tiering scheduler.

        ``partition_by``: Iceberg-style hidden partition spec for log
        tables — ``["days(ts)", "region"]`` with transforms
        identity|years|months|days|hours (trino/iceberg.properties:6's
        cold-path role; README.md:187's ingest_ts is the natural key).
        PK tables are laid out by PK-hash bucket instead (the
        Fluss/Paimon model) — combining both would fragment every bucket
        across every partition, so it's rejected."""
        path = self.table_path(name)
        if self.exists(name) and not replace:
            raise ValueError(f"table {name} already exists")
        # every refusal comes before a replace removes the old table
        spec = parse_partition_spec(partition_by, schema) if partition_by else []
        if spec and primary_key:
            raise ValueError(
                f"table {name}: partition_by applies to log tables; "
                "PK tables are bucketed by key"
            )
        _layout_columns(name, schema, properties or {})
        if self.exists(name):
            shutil.rmtree(path)
        os.makedirs(os.path.join(path, "meta"), exist_ok=True)
        meta = {
            "name": name,
            "schema": schema.jsonValue(),
            "primary_key": primary_key or [],
            "not_null": not_null or [],
            "n_buckets": n_buckets,
            "partition_spec": spec,
            "properties": properties or {},
        }
        commit.atomic_write(os.path.join(path, "meta", "table.json"), json.dumps(meta))
        return LakeTable(self.spark, path)

    def load(self, name: str) -> LakeTable:
        if not self.exists(name):
            raise KeyError(f"no such table: {name}")
        return LakeTable(self.spark, self.table_path(name))

    def drop(self, name: str) -> None:
        if self.exists(name):
            shutil.rmtree(self.table_path(name))

    def tables(self) -> list[str]:
        """Names of all tables in this warehouse (SHOW TABLES role)."""
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if self.exists(d)
        )
