"""Engine facade: the user-facing surface of the lakehouse.

A user of the reference interacts through SQL sessions (Flink SQL client,
Trino CLI — README.md:107-109, 264) against catalogs of stream/lake
tables. This facade is the equivalent single entry point:

    eng = Engine(spark, warehouse="/data/warehouse")
    eng.attach_testdata("/root/testdata/sf0.1")       # parquet views
    eng.create_table("nation_revenue", schema, primary_key=["nation_name"])
    eng.sql("SELECT * FROM nation_revenue ORDER BY revenue DESC LIMIT 5")
    eng.show_create_table("nation_revenue")             # S13
    eng.sql("SELECT * FROM nation_revenue__snapshots")  # M1

Lake tables are registered as temp views on create/load (snapshot reads),
with a ``name__snapshots`` companion view for the metadata table — the
reference's ``name$snapshots`` (README.md:275) with '$' replaced, since
Spark temp view names reject it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog, LakeTable
# Arrow-path local frames (guide §6): SQL-facade metadata results are
# tiny literal frames; the classic list path parallelizes them into a
# 32-partition pickled Python RDD whose every action spawns Python
# workers (measured: a 1-row DDL frame cost a 32-task job)
from fluss_iceberg_spark.operators.util import arrow_local_df, conf_bytes
from fluss_iceberg_spark.sources.tpch import register_views

# Flink-DDL type names → Spark types (the reference's DDL vocabulary,
# README.md:141-203 + sql-client.sql:1-48)
_TYPE_MAP = {
    "BIGINT": T.LongType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "TINYINT": T.ByteType(),
    "STRING": T.StringType(),
    "VARCHAR": T.StringType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "BOOLEAN": T.BooleanType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "TIMESTAMP_LTZ": T.TimestampType(),
    "BINARY": T.BinaryType(),
    "BYTES": T.BinaryType(),
}


def _parse_type(s: str) -> T.DataType:
    s = s.strip()
    m = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s, re.I)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    base = re.match(r"([A-Za-z_]+)", s)
    if base and base.group(1).upper() in _TYPE_MAP:
        return _TYPE_MAP[base.group(1).upper()]
    raise ValueError(f"unsupported DDL type: {s!r}")


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0, OUTSIDE single-quoted string
    literals (column list / WITH list / CALL args: 'zorder:a,b' is one
    argument, not two). A doubled '' inside a literal is the SQL escape
    and stays inside."""
    parts, depth, cur, in_str = [], 0, [], False
    for ch in s:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == "," and depth == 0 and not in_str:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _parse_with_props(s: str | None) -> dict:
    if not s:
        return {}
    return dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", s))


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.catalog = LakeCatalog(spark, warehouse)
        # CREATE CATALOG name WITH (...) registers sibling warehouses
        # (the reference's fluss vs iceberg catalogs, README.md:129-135);
        # USE CATALOG switches self.catalog
        self._catalogs: dict[str, LakeCatalog] = {"default": self.catalog}
        self._view_managers: dict[str, object] = {}
        # temp-view name -> (table path, version, committed_at_ms) at
        # last registration; lets sql() skip re-planning tables that
        # haven't moved. The full triple guards every aliasing case: a
        # drop+recreate that reuses version numbers changes
        # committed_at_ms, and a USE CATALOG switch to a same-named
        # table changes the path.
        self._reg_state: dict[str, tuple] = {}
        # set while a BEGIN TRANSACTION block executes: write handlers
        # load their targets through the transaction so every commit
        # stages instead of publishing
        self._active_txn = None

    @property
    def views(self):
        """Per-warehouse view/matview registry (definitions persist in the
        warehouse, so they follow USE CATALOG switches like tables do)."""
        from fluss_iceberg_spark.plans.views import ViewManager

        wh = self.catalog.warehouse
        if wh not in self._view_managers:
            self._view_managers[wh] = ViewManager(self)
        return self._view_managers[wh]

    # ---- DDL (S8-S13) ----

    def create_table(self, name: str, schema: T.StructType, **kwargs) -> LakeTable:
        t = self.catalog.create_table(name, schema, **kwargs)
        self._register(t)
        return t

    def load_table(self, name: str) -> LakeTable:
        t = self.catalog.load(name)
        self._register(t)
        return t

    _META_SUFFIXES = (
        "snapshots", "files", "history", "partitions", "refs", "delete_files",
    )

    def _load_for_write(self, name: str) -> LakeTable:
        """DML target resolution: inside a BEGIN TRANSACTION block the
        table comes from the active CatalogTransaction (commits stage;
        read-your-own-writes within the block), else a plain load."""
        if self._active_txn is not None:
            return self._active_txn.table(name)
        return self.catalog.load(name)

    def _register(self, t: LakeTable) -> None:
        # mid-transaction, tables the block has TOUCHED don't re-register
        # from here: the block manages their temp views itself (staged
        # reads for read-your-own-writes), and a published-state register
        # would clobber that — while a register of published state would
        # leak nothing for untouched tables, which proceed normally.
        if (
            self._active_txn is not None
            and t.name in self._active_txn._tables
        ):
            return
        # the reference exposes metadata as `t$snapshots` (README.md:275);
        # Spark temp view names reject '$', so the companion view is
        # `t__snapshots`. Companion views are built LAZILY — eager
        # registration re-reads every retained v{N}.json driver-side on
        # every create/load/refresh, and refresh() runs after each SQL
        # DML; at streaming commit cadence (2,880 commits/day) that is
        # O(#snapshots) metadata I/O per write for views most statements
        # never touch. sql() materializes exactly the companions a
        # statement references, just in time.
        df = t.read()
        # CBO-lite at the SQL surface (plans/cbo.py — the Iceberg
        # puffin-stats / Trino CBO role): if ANALYZE stats estimate the
        # table under the session broadcast threshold, register the view
        # with a broadcast hint so every engine.sql() join over it plans
        # BroadcastHashJoin at PLAN time. This is exactly the case the
        # static path misses: a PK table's MOR read (union + window
        # dedup) gives Catalyst no usable sizeInBytes, so star-schema
        # SQL over an analyzed dimension would otherwise SortMergeJoin
        # until AQE rescues it mid-query. Spark drops the hint where
        # broadcasting is illegal (preserved side of an outer join), so
        # the hint can only improve plans, never break them. Unanalyzed
        # tables register unhinted — Catalyst's own choice stands. The
        # estimate rescales by the CURRENT manifest row count on every
        # registration, so a table that grows past the threshold loses
        # the hint at its next head movement.
        est = self._stats_estimate_bytes(t)
        thr = self._auto_broadcast_threshold()
        if est is not None and thr > 0 and est <= thr:
            df = F.broadcast(df)
        df.createOrReplaceTempView(t.name)
        self._reg_state[t.name] = self._table_state(t)

    def _stats_estimate_bytes(self, t: LakeTable) -> float | None:
        """Broadcast-hint size estimate: the CBO row-width model FLOORED
        at the snapshot's actual manifest bytes. The width model prices
        every string at 24 B, so a long-text table (documents-style,
        ~5 KB/row) would otherwise look orders of magnitude smaller than
        it is and be force-broadcast into an OOM; actual file bytes are
        recorded per file at commit time, and a table can never occupy
        less memory than its compressed on-disk form — so max(model,
        manifest) can underestimate only by the compression ratio, never
        by the width model's unbounded error."""
        from fluss_iceberg_spark.plans import cbo

        try:
            est = cbo.estimate_bytes(t)
            if est is None:
                return None
            snap = t.snapshot()
            manifest = 0.0
            if snap is not None:
                for f in snap.files:
                    b = (snap.file_meta.get(f) or {}).get("bytes")
                    if b is None:
                        return None  # pre-stats vintage: don't guess
                    manifest += float(b)
            return max(est, manifest)
        except (OSError, ValueError, KeyError):
            return None  # unreadable/garbled stats: plan without them

    def _auto_broadcast_threshold(self) -> int:
        """The session's autoBroadcastJoinThreshold in bytes (-1 = disabled)."""
        return conf_bytes(
            self.spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
        )

    @staticmethod
    def _table_state(t: LakeTable) -> tuple:
        cur = t.current_version()
        snap = t.snapshot() if cur >= 0 else None
        # table.json mtime catches definition changes version numbers
        # can't: a direct-API drop+recreate of an EMPTY table repeats
        # (path, -1, -1), and ALTERs rewrite the file
        try:
            meta_mtime = os.path.getmtime(
                os.path.join(t.path, "meta", "table.json")
            )
        except OSError:
            meta_mtime = -1.0
        # meta-DIRECTORY mtime: a fresh ANALYZE must re-register the view
        # (the broadcast hint is decided at registration) but moves no
        # snapshot pointer — it only adds stats_v{N}.json, which bumps
        # the directory mtime. One O(1) stat, not an O(#snapshots)
        # listdir per referenced table per statement (at streaming
        # cadence meta/ holds thousands of entries). Over-sensitivity is
        # harmless: any other meta change that bumps the dir also moved
        # the version/committed_at fields this tuple already carries.
        try:
            meta_dir_mtime = os.path.getmtime(os.path.join(t.path, "meta"))
        except OSError:
            meta_dir_mtime = -1.0
        return (
            t.path, cur, snap.committed_at_ms if snap else -1,
            meta_mtime, meta_dir_mtime,
        )

    # delete_files before files: the alternation is ordered, so
    # t__delete_files resolves as (t, delete_files), not (t__delete, files)
    _META_VIEW_RE = re.compile(
        r"\b(\w+)__(snapshots|delete_files|files|history|partitions|refs)\b"
    )

    def _materialize_metadata_views(self, q: str) -> None:
        """Build the metadata companion views a statement actually
        references (fresh at statement time — snapshot logs grow, so the
        view is rebuilt per reference; each build is one pass over the
        retained snapshot tail, only when asked for)."""
        for name, suffix in set(self._META_VIEW_RE.findall(q)):
            if not self.catalog.exists(name):
                continue
            t = self.catalog.load(name)
            df = getattr(t, suffix)()
            df.createOrReplaceTempView(f"{name}__{suffix}")

    def refresh(self, name: str) -> None:
        """Re-register views after a write (snapshot reads are immutable)."""
        self._register(self.catalog.load(name))

    def _refresh_referenced_tables(self, q: str) -> None:
        """Re-register the temp view of every lake table a statement
        references, so SQL always reads the CURRENT snapshot even when the
        table was last written through the direct API (append/merge),
        which bypasses the engine's registration hook. Metadata-only:
        one snapshot-pointer read per referenced table, no data I/O —
        and no re-plan at all for tables whose head hasn't moved since
        their last registration. The statement is tokenized once
        (string literals stripped so 'a_table_name' in a literal doesn't
        trigger a reload) and checked against the catalog by set lookup."""
        idents = set(
            re.findall(r"[A-Za-z_]\w*", re.sub(r"'[^']*'", " ", q))
        )
        for name in self.catalog.tables():
            if name not in idents:
                continue
            t = self.catalog.load(name)
            if self._reg_state.get(name) == self._table_state(
                t
            ) and self.spark.catalog.tableExists(name):
                continue  # head unchanged: existing temp view is current
            self._register(t)

    def attach_testdata(self, sf_dir: str) -> None:
        register_views(self.spark, sf_dir)

    def show_create_table(self, name: str) -> str:
        """S13 ``SHOW CREATE TABLE`` (README.md:116-122): reconstruct DDL
        from table metadata, reference-style WITH properties."""
        t = self.catalog.load(name)
        cols = []
        for f in t.schema.fields:
            nn = " NOT NULL" if f.name in t.not_null else ""
            cols.append(f"  `{f.name}` {f.dataType.simpleString().upper()}{nn}")
        if t.primary_key:
            cols.append(f"  PRIMARY KEY ({', '.join(t.primary_key)}) NOT ENFORCED")
        for cn, ce in sorted(t.constraints.items()):
            cols.append(f"  CONSTRAINT {cn} CHECK ({ce})")
        props = dict(t.properties)
        props["engine.n-buckets"] = str(t.n_buckets)
        with_clause = ",\n".join(f"  '{k}' = '{v}'" for k, v in sorted(props.items()))
        part_clause = ""
        if t.partition_spec:
            specs = [
                p["col"] if p["transform"] == "identity"
                else f"{p['transform']}({p['col']})"
                for p in t.partition_spec
            ]
            part_clause = f" PARTITIONED BY ({', '.join(specs)})"
        return (
            f"CREATE TABLE `{name}` (\n" + ",\n".join(cols) + "\n)"
            + part_clause
            + (f" WITH (\n{with_clause}\n)" if with_clause else "")
        )

    # ---- SQL surface (queries via Catalyst, DDL/DML via the lake layer) ----

    def sql(self, query: str) -> DataFrame:
        """The engine's full SQL entry point, mirroring the reference's SQL
        sessions (README.md:107-316): lake DDL (`CREATE TABLE ... PRIMARY
        KEY ... WITH (...)`, `SHOW CREATE TABLE`, `DROP TABLE`, `CREATE/USE
        CATALOG`), lake DML (`INSERT INTO t SELECT ...`, `EXECUTE STATEMENT
        SET`), and plain queries (delegated to Catalyst over attached views
        + registered lake tables)."""
        q = query.strip().rstrip(";").strip()
        u = q.upper()
        self._materialize_metadata_views(q)
        self._refresh_referenced_tables(q)
        if re.match(r"CREATE\s+MATERIALIZED\s+VIEW\b", u):
            m = re.match(
                r"CREATE\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?\s+AS\s+(.*)$",
                q, re.I | re.S,
            )
            if not m:
                raise ValueError(f"cannot parse CREATE MATERIALIZED VIEW: {q!r}")
            self.views.create_matview(m.group(1), m.group(2))
            return self._ok("created materialized view", m.group(1))
        if re.match(r"REFRESH\s+MATERIALIZED\s+VIEW\b", u):
            name = q.split()[-1].strip("`")
            res = self.views.refresh_matview(name)
            # string-typed versions: join matviews track (a, b) pairs
            return arrow_local_df(self.spark, 
                [(name, bool(res["refreshed"]), str(res["from"]), str(res["to"]))],
                "name string, refreshed boolean, from_version string, "
                "to_version string",
            )
        if re.match(r"DROP\s+MATERIALIZED\s+VIEW\b", u):
            name = q.split()[-1].strip("`")
            self.views.drop_matview(name)
            return self._ok("dropped materialized view", name)
        if re.match(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", u):
            m = re.match(
                r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+`?(\w+)`?\s+AS\s+(.*)$",
                q, re.I | re.S,
            )
            if not m:
                raise ValueError(f"cannot parse CREATE VIEW: {q!r}")
            self.views.create_view(
                m.group(2), m.group(3), replace=bool(m.group(1))
            )
            return self._ok("created view", m.group(2))
        if u.startswith("DROP VIEW"):
            name = q.split()[-1].strip("`")
            self.views.drop_view(name)
            return self._ok("dropped view", name)
        if u.startswith("SHOW VIEWS"):
            vm = self.views
            rows = [(n, "logical") for n in vm.views] + [
                (n, "materialized") for n in vm.matviews
            ]
            return arrow_local_df(self.spark, rows or [], "name string, kind string")
        self.views.materialize_referenced(q)
        if u.startswith("CREATE CATALOG"):
            return self._sql_create_catalog(q)
        if u.startswith("USE CATALOG"):
            return self._sql_use_catalog(q)
        if u.startswith("CREATE TABLE") or u.startswith("CREATE TEMPORARY TABLE"):
            return self._sql_create_table(q)
        if u.startswith("SHOW CREATE TABLE"):
            name = q.split()[-1].strip("`")
            return arrow_local_df(self.spark, 
                [(self.show_create_table(name),)], "ddl string"
            )
        if u.startswith("DROP TABLE"):
            name = q.split()[-1].strip("`")
            self.catalog.drop(name)
            self.spark.catalog.dropTempView(name)
            self._reg_state.pop(name, None)
            for suffix in self._META_SUFFIXES:
                self.spark.catalog.dropTempView(f"{name}__{suffix}")
            return self._ok("dropped", name)
        if re.match(r"BEGIN\s+TRANSACTION\b", u):
            return self._sql_transaction(q)
        if u.startswith("INSERT INTO"):
            return self._sql_insert(q)
        if u.startswith("INSERT OVERWRITE"):
            m = re.match(
                r"INSERT\s+OVERWRITE\s+(?:TABLE\s+)?`?([\w.]+)`?\s+(SELECT\b.*|VALUES\b.*)$",
                q, re.I | re.S,
            )
            if not m:
                raise ValueError(f"cannot parse INSERT OVERWRITE: {q!r}")
            name = m.group(1).split(".")[-1]
            src = (
                self.spark.sql(self._rewrite_time_travel(m.group(2)))
                if m.group(2).upper().startswith("SELECT")
                else self.spark.sql(f"SELECT * FROM {m.group(2)}")
            )
            t = self.catalog.load(name)
            src = src.toDF(*t.schema.fieldNames()[: len(src.columns)])
            t.overwrite(src)
            self._register(t)
            return self._ok("insert overwrite", name)
        if re.match(r"SHOW\s+PARTITIONS\b", u):
            name = q.split()[-1].strip("`")
            return self.catalog.load(name).partitions()
        if u.startswith("TRUNCATE TABLE"):
            name = q.split()[-1].strip("`")
            t = self.catalog.load(name)
            t.overwrite(arrow_local_df(self.spark, [], t.schema))
            self._register(t)
            return self._ok("truncated", name)
        if u.startswith("ANALYZE TABLE"):
            name = q.split()[-1].strip("`")
            stats = self.catalog.load(name).analyze()
            rows = [
                (name, c, s["ndv"], s["null_count"], stats["row_count"])
                for c, s in sorted(stats["columns"].items())
            ]
            return arrow_local_df(self.spark, 
                rows,
                "table string, column string, ndv long, null_count long, "
                "row_count long",
            )
        if u.startswith("DELETE FROM"):
            return self._sql_delete(q)
        if u.startswith("UPDATE "):
            return self._sql_update(q)
        if u.startswith("MERGE INTO"):
            return self._sql_merge(q)
        if u.startswith("CALL "):
            return self._sql_call(q)
        if u.startswith("ALTER TABLE"):
            return self._sql_alter(q)
        if u.startswith("SHOW TABLES"):
            return arrow_local_df(self.spark, 
                [(n,) for n in self.catalog.tables()] or [], "name string"
            )
        if u.startswith("DESCRIBE "):
            name = q.split()[-1].strip("`")
            t = self.catalog.load(name)
            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    f.name not in t.not_null,
                    "PK" if f.name in t.primary_key else "",
                )
                for f in t.schema.fields
            ]
            return arrow_local_df(self.spark, 
                rows, "col_name string, data_type string, nullable boolean, key string"
            )
        if u.startswith("EXECUTE STATEMENT SET"):
            return self._sql_statement_set(q)
        if u.startswith("EXPLAIN"):
            m = re.match(r"EXPLAIN\s+(FORMATTED\s+)?(.*)$", q, re.I | re.S)
            if not re.match(r"\s*(SELECT|WITH)\b", m.group(2), re.I):
                raise ValueError("EXPLAIN supports SELECT/WITH queries only")
            inner = self.sql(m.group(2))
            mode = "formatted" if m.group(1) else "simple"
            plan = inner._sc._jvm.PythonSQLUtils.explainString(
                inner._jdf.queryExecution(), mode
            )
            return arrow_local_df(self.spark, [(plan,)], "plan string")
        q = self._rewrite_time_travel(q)
        return self.spark.sql(q)

    _TIME_TRAVEL_RE = re.compile(
        r"\b(FROM|JOIN)\s+`?(\w+)`?\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([\w.-]+)')",
        re.IGNORECASE,
    )
    # TIMESTAMP AS OF (Spark/Iceberg) and FOR SYSTEM_TIME AS OF
    # (SQL:2011 / Flink temporal syntax) are the same read
    _TIME_TRAVEL_TS_RE = re.compile(
        r"\b(FROM|JOIN)\s+`?(\w+)`?\s+(?:FOR\s+SYSTEM_TIME\s+AS\s+OF"
        r"|TIMESTAMP\s+AS\s+OF)\s+(?:'([^']+)'|(\d+))",
        re.IGNORECASE,
    )

    _TABLE_CHANGES_RE = re.compile(
        r"\b(FROM|JOIN)\s+TABLE_CHANGES\s*\(\s*'?`?(\w+)'?`?\s*,\s*(-?\d+)"
        r"\s*(?:,\s*(-?\d+)\s*)?\)",
        re.IGNORECASE,
    )

    def _rewrite_table_changes(self, q: str) -> str:
        """Delta-style CDC reads in SQL: ``SELECT ... FROM
        TABLE_CHANGES(t, from_v[, to_v])``. PK tables resolve to the
        per-commit changelog (op, columns, change_version); log tables
        to the incremental append scan tagged op='insert' — one SQL
        surface over both CDC shapes."""

        def sub(m: re.Match) -> str:
            kw, name, from_v, to_v = m.groups()
            if not self.catalog.exists(name):
                return m.group(0)
            t = self.catalog.load(name)
            a, b = int(from_v), int(to_v) if to_v is not None else None
            if t.primary_key:
                df = t.changelog_stream(a, b)
            else:
                df = t.incremental_read(a, b).withColumn(
                    "op", F.lit("insert")
                )
            # 'm' for minus: a negative from_version ("from the
            # beginning") must not put a hyphen into the view identifier
            view = "{}__changes_{}_{}".format(
                name,
                str(a).replace("-", "m"),
                "head" if b is None else str(b).replace("-", "m"),
            )
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        return self._TABLE_CHANGES_RE.sub(sub, q)

    def _rewrite_time_travel(self, q: str) -> str:
        """Spark/Iceberg ``SELECT ... FROM t VERSION AS OF n`` and
        ``TIMESTAMP AS OF '<ts>'`` over lake tables: each versioned
        reference is materialized as a snapshot temp view (snapshot reads
        are immutable, so the view is stable) and the query text is
        rewritten to it before Catalyst sees it. Timestamps resolve via
        the snapshot log's committed_at_ms (newest snapshot at-or-before);
        accepted forms: ISO 'YYYY-MM-DD[ HH:MM:SS[.ffffff]]' (treated as
        UTC, matching committed_at_ms) or a bare epoch-milliseconds
        integer."""

        def sub(m: re.Match) -> str:
            kw, name, num, tag = m.group(1), m.group(2), m.group(3), m.group(4)
            if not self.catalog.exists(name):
                return m.group(0)  # not a lake table — leave for Catalyst
            t = self.catalog.load(name)
            version = int(num) if num is not None else t.resolve_ref(tag)
            view = f"{name}__v{version}"
            t.read(version=version).createOrReplaceTempView(view)
            return f"{kw} {view}"

        def sub_ts(m: re.Match) -> str:
            kw, name, iso, epoch = m.group(1), m.group(2), m.group(3), m.group(4)
            if not self.catalog.exists(name):
                return m.group(0)
            if epoch is not None:
                ts_ms = int(epoch)
            else:
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(iso)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                ts_ms = int(dt.timestamp() * 1000)
            t = self.catalog.load(name)
            version = t.version_as_of_timestamp(ts_ms)
            view = f"{name}__v{version}"
            t.read(version=version).createOrReplaceTempView(view)
            return f"{kw} {view}"

        # approx-distinct runs last: it rewrites aggregate expressions,
        # never table references, so ordering vs the view rewrites is free
        return self._rewrite_approx_distinct(
            self._rewrite_table_changes(
                self._TIME_TRAVEL_TS_RE.sub(sub_ts, self._TIME_TRAVEL_RE.sub(sub, q))
            )
        )

    # expr = anything without a top-level comma, one nesting level allowed
    # (APPROX_COUNT_DISTINCT(UPPER(col)) parses; deeper nesting is not a
    # shape the facade's SQL surface emits)
    _APPROX_DISTINCT_RE = re.compile(
        r"\bAPPROX_(?:COUNT_)?DISTINCT\s*\(\s*"
        r"([^(),]*(?:\([^()]*\)[^(),]*)*?)\s*"
        r"(?:,\s*(\d+(?:\.\d+)?)\s*)?\)",
        re.IGNORECASE,
    )

    def _rewrite_approx_distinct(self, q: str) -> str:
        """SURVEY §2.4's approximate COUNT(DISTINCT) inside the SQL
        surface: ``APPROX_COUNT_DISTINCT(expr[, lgK])`` — and Trino's
        spelling ``APPROX_DISTINCT(expr)``, the form the reference exposes
        over the same Iceberg tables (README.md:287 COUNT family) — is
        rewritten to Spark's built-in Datasketches HLL aggregate pair
        ``hll_sketch_estimate(hll_sketch_agg(expr, lgK))``, so facade
        estimates are sketch-compatible with the matview COUNT(DISTINCT)
        state (plans/views.py) and mergeable across partitions/deltas.
        An integer second argument is lgK (Datasketches, default 12); a
        float second argument means relativeSD — that call is left
        untouched for Catalyst's native HLL++ aggregate."""

        def sub(m: re.Match) -> str:
            expr, arg = m.group(1), m.group(2)
            if not expr.strip():
                return m.group(0)
            if arg is not None and "." in arg:
                return m.group(0)  # relativeSD form: native Spark HLL++
            lgk = int(arg) if arg else 12
            return (
                f"CAST(hll_sketch_estimate("
                f"hll_sketch_agg({expr}, {lgk})) AS BIGINT)"
            )

        return self._APPROX_DISTINCT_RE.sub(sub, q)

    def _ok(self, op: str, name: str) -> DataFrame:
        return arrow_local_df(self.spark, [(op, name)], "op string, name string")

    def _sql_create_catalog(self, q: str) -> DataFrame:
        m = re.match(r"CREATE\s+CATALOG\s+`?(\w+)`?\s*(?:WITH\s*\((.*)\))?$",
                     q, re.I | re.S)
        if not m:
            raise ValueError(f"cannot parse CREATE CATALOG: {q!r}")
        name = m.group(1)
        props = _parse_with_props(m.group(2))
        wh = props.get("warehouse", os.path.join(self.warehouse, f"_catalog_{name}"))
        self._catalogs[name] = LakeCatalog(self.spark, wh)
        return self._ok("create_catalog", name)

    def _sql_use_catalog(self, q: str) -> DataFrame:
        name = q.split()[-1].strip("`")
        if name not in self._catalogs:
            raise KeyError(f"no such catalog: {name}")
        self.catalog = self._catalogs[name]
        return self._ok("use_catalog", name)

    def _sql_create_table(self, q: str) -> DataFrame:
        like = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s+"
            r"LIKE\s+`?([\w.]+)`?\s*$",
            q, re.I,
        )
        if like:
            # CREATE TABLE ... LIKE: clone the source's full definition
            # (schema, PK, not-null, buckets, partition spec, properties,
            # CHECK constraints) with no data — the standard shape for
            # staging tables that must accept the same writes
            name = like.group(2).split(".")[-1]
            src_name = like.group(3).split(".")[-1]
            if self.catalog.exists(name):
                if like.group(1):
                    self._register(self.catalog.load(name))
                    return self._ok("exists", name)
                raise ValueError(f"table {name} already exists")
            src = self.catalog.load(src_name)
            part = [
                p["col"] if p["transform"] == "identity"
                else f"{p['transform']}({p['col']})"
                for p in src.partition_spec
            ]
            t = self.catalog.create_table(
                name,
                src.schema,
                primary_key=list(src.primary_key) or None,
                not_null=list(src.not_null) or None,
                n_buckets=src.n_buckets,
                properties=dict(src.properties),
                partition_by=part or None,
            )
            for cname, cexpr in sorted(src.constraints.items()):
                t.add_constraint(cname, cexpr)
            self._register(t)
            return self._ok("create_table_like", f"{name}<-{src_name}")
        ctas = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*"
            r"(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT\b.*)$",
            q, re.I | re.S,
        )
        if ctas:
            # CTAS: schema inferred from the query, rows land as the first
            # commit (one statement — the Iceberg/Spark CTAS surface)
            name = ctas.group(2).split(".")[-1]
            if self.catalog.exists(name):
                if ctas.group(1):
                    self._register(self.catalog.load(name))
                    return self._ok("exists", name)
                raise ValueError(f"table {name} already exists")
            df = self.spark.sql(self._rewrite_time_travel(ctas.group(4)))
            t = self.catalog.create_table(
                name, df.schema, properties=_parse_with_props(ctas.group(3))
            )
            t.append(df)
            self._register(t)
            return self._ok("create_table_as", name)
        m = re.match(
            r"CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*\(",
            q, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {q!r}")
        if_not_exists = bool(m.group(2))
        name = m.group(3).split(".")[-1]
        # balanced-paren scan for the column block (a greedy regex would
        # swallow the WITH clause)
        start = m.end() - 1
        depth, end = 0, -1
        for i in range(start, len(q)):
            if q[i] == "(":
                depth += 1
            elif q[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end < 0:
            raise ValueError(f"unbalanced parens in CREATE TABLE: {q!r}")
        body = q[start + 1 : end]
        rest = q[end + 1 :].strip()
        # Iceberg-style hidden partitioning clause (log tables):
        # PARTITIONED BY (days(ts), region) — before the WITH clause
        partition_by = None
        pm = re.match(
            r"PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)\s*", rest, re.I
        )
        if pm:
            partition_by = [
                p.strip() for p in _split_top_level(pm.group(1)) if p.strip()
            ]
            rest = rest[pm.end():].strip()
        wm = re.match(r"WITH\s*\((.*)\)$", rest, re.I | re.S)
        props = _parse_with_props(wm.group(1) if wm else None)

        fields, not_null, primary_key, computed = [], [], [], {}
        for part in _split_top_level(body):
            pk = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)", part, re.I)
            if pk:
                primary_key = [c.strip().strip("`") for c in pk.group(1).split(",")]
                continue
            comp = re.match(r"`?(\w+)`?\s+AS\s+(.+)$", part, re.I)
            if comp and "(" in comp.group(2):
                # computed column (the reference's `ptime AS PROCTIME()`,
                # README.md:148): typed timestamp, stamped at write time
                computed[comp.group(1)] = comp.group(2).strip()
                fields.append(T.StructField(comp.group(1), T.TimestampType(), True))
                continue
            cm = re.match(r"`?(\w+)`?\s+(.+?)(\s+NOT\s+NULL)?$", part, re.I | re.S)
            if not cm:
                raise ValueError(f"cannot parse column def: {part!r}")
            cname, ctype, nn = cm.group(1), cm.group(2), cm.group(3)
            fields.append(T.StructField(cname, _parse_type(ctype), nn is None))
            if nn:
                not_null.append(cname)
        if primary_key:
            not_null = sorted(set(not_null) | set(primary_key))

        if self.catalog.exists(name) and if_not_exists:
            self._register(self.catalog.load(name))
            return self._ok("exists", name)
        table_props = {
            k: v
            for k, v in props.items()
            if k not in ("connector", "bucket.num", "engine.n-buckets")
        }
        for c, expr in computed.items():
            table_props[f"engine.computed.{c}"] = expr
        n_buckets = int(props.get("bucket.num", props.get("engine.n-buckets", 16)))
        t = self.catalog.create_table(
            name,
            T.StructType(fields),
            primary_key=primary_key or None,
            not_null=not_null or None,
            n_buckets=n_buckets,
            properties=table_props,
            partition_by=partition_by,
        )
        self._register(t)
        return self._ok("create_table", name)

    _PRED_RE = re.compile(
        r"^`?(\w+)`?\s*(<=|>=|=|<|>)\s*"
        r"(DATE\s*'[^']*'|TIMESTAMP\s*'[^']*'|'[^']*'|-?\d+(?:\.\d+)?)$",
        re.I,
    )

    def _parse_where(self, s: str) -> list[tuple]:
        """Conjunctive ``col op literal`` predicates (the file-skippable
        subset — the same shape ``LakeTable.read(where=...)`` prunes on).
        Literals: numbers, 'strings', DATE/TIMESTAMP 'iso'."""
        import datetime

        out = []
        for part in re.split(r"\s+AND\s+", s.strip(), flags=re.I):
            m = self._PRED_RE.match(part.strip())
            if not m:
                raise ValueError(f"cannot parse predicate: {part.strip()!r}")
            col, op, raw = m.group(1), m.group(2), m.group(3)
            ru = raw.upper()
            if ru.startswith("DATE"):
                lit = datetime.date.fromisoformat(raw.split("'")[1])
            elif ru.startswith("TIMESTAMP"):
                lit = datetime.datetime.fromisoformat(raw.split("'")[1])
            elif raw.startswith("'"):
                lit = raw[1:-1]
            else:
                lit = float(raw) if "." in raw else int(raw)
            out.append((col, op, lit))
        return out

    def _sql_delete(self, q: str) -> DataFrame:
        """Row-level ``DELETE FROM t WHERE ...`` → stats-bounded
        copy-on-write rewrite (LakeTable.delete)."""
        m = re.match(r"DELETE\s+FROM\s+`?(\w+)`?\s+WHERE\s+(.*)$", q, re.I | re.S)
        if not m:
            raise ValueError(f"cannot parse DELETE: {q!r}")
        name = m.group(1)
        snap = self._load_for_write(name).delete(self._parse_where(m.group(2)))
        self.refresh(name)
        return arrow_local_df(self.spark, 
            [(name, snap.summary.get("files_rewritten", 0))],
            "name string, files_rewritten int",
        )

    def _sql_update(self, q: str) -> DataFrame:
        """Row-level ``UPDATE t SET col = expr, ... WHERE ...`` →
        copy-on-write rewrite (LakeTable.update). SET expressions are
        arbitrary Spark SQL scalar expressions over the row's columns."""
        m = re.match(
            r"UPDATE\s+`?(\w+)`?\s+SET\s+(.*?)\s+WHERE\s+(.*)$", q, re.I | re.S
        )
        if not m:
            raise ValueError(f"cannot parse UPDATE: {q!r}")
        name = m.group(1)
        set_exprs = {}
        for part in _split_top_level(m.group(2)):
            col, _, expr = part.partition("=")
            if not expr:
                raise ValueError(f"cannot parse SET clause: {part.strip()!r}")
            set_exprs[col.strip().strip("`")] = expr.strip()
        snap = self._load_for_write(name).update(
            set_exprs, self._parse_where(m.group(3))
        )
        self.refresh(name)
        return arrow_local_df(self.spark, 
            [(name, snap.summary.get("files_rewritten", 0))],
            "name string, files_rewritten int",
        )

    def _sql_call(self, q: str) -> DataFrame:
        """Iceberg-style maintenance procedures (the `CALL system.<proc>`
        Spark surface): expire_snapshots, rewrite_data_files,
        remove_orphan_files, rollback_to_snapshot, create_tag, drop_tag,
        create_branch, fast_forward, drop_branch,
        export_iceberg_metadata. Args are positional literals; table
        name first."""
        m = re.match(r"CALL\s+(?:system\.)?(\w+)\s*\((.*)\)\s*$", q, re.I | re.S)
        if not m:
            raise ValueError(f"cannot parse CALL: {q!r}")
        proc = m.group(1).lower()

        def _unquote(a: str) -> str:
            # exactly ONE enclosing quote layer: a where-predicate arg
            # like 'cat = ''x''' must keep its inner literal quotes
            # (blanket .strip would eat them)
            if len(a) >= 2 and a[0] == a[-1] and a[0] in "'\"`":
                a = a[1:-1]
                if a and "'" in a:
                    a = a.replace("''", "'")  # SQL doubled-quote escape
                return a
            return a

        args = [
            _unquote(a.strip()) for a in _split_top_level(m.group(2)) if a.strip()
        ]
        if proc == "set_commit_coordinator":
            # catalog-level, not table-level: point every commit of THIS
            # warehouse at a coordinator service (lake/coordinator.py —
            # the REST-catalog CAS topology), or back to flock with ''
            from fluss_iceberg_spark.lake import coordinator

            endpoint = args[0] if args else ""
            cfg = os.path.join(self.catalog.warehouse, "_catalog.json")
            if endpoint:
                coordinator.enable(self.catalog.warehouse, endpoint)
            elif os.path.exists(cfg):
                os.remove(cfg)
            return arrow_local_df(self.spark, 
                [(self.catalog.warehouse, endpoint or "flock (local)")],
                "warehouse string, commit_coordinator string",
            )
        if not args:
            raise ValueError(f"CALL {proc}: table name argument required")
        t = self.catalog.load(args[0])
        if proc == "expire_snapshots":
            res = t.expire_snapshots(keep_last=int(args[1]) if len(args) > 1 else 1)
            out = [(args[0], "expire_snapshots",
                    f"expired={res['expired_snapshots']} removed_files={len(res['removed_files'])}")]
        elif proc == "rewrite_data_files":
            # optional 3rd arg: 'col1,col2' = sort-order rewrite;
            # 'zorder:col1,col2' = Z-order (multi-dim) clustering rewrite;
            # '' = plain bin-packing. Optional 4th arg: a conjunctive
            # predicate ('day = 3 AND ...') scoping the rewrite to the
            # matching files (Iceberg's rewrite_data_files where => ...)
            cluster = where_raw = None
            extras = args[2:]
            if len(extras) == 2:
                cluster, where_raw = extras
            elif len(extras) == 1:
                # a predicate always carries a comparison operator; a
                # sort/zorder column list never does
                if re.search(r"[=<>]", extras[0]):
                    where_raw = extras[0]
                else:
                    cluster = extras[0]
            sort_by = zorder_by = None
            if cluster:
                if cluster.lower().startswith("zorder:"):
                    zorder_by = [c.strip() for c in cluster[7:].split(",")]
                else:
                    sort_by = [c.strip() for c in cluster.split(",")]
            where = self._parse_where(where_raw) if where_raw else None
            snap = t.compact(
                target_file_rows=int(args[1]) if len(args) > 1 else 1_000_000,
                sort_by=sort_by,
                zorder_by=zorder_by,
                where=where,
            )
            res_txt = (
                f"snapshot={snap.snapshot_id}"
                f" rewritten={snap.summary.get('files_rewritten', 'all')}"
                if snap is not None
                else "noop"
            )
            out = [(args[0], "rewrite_data_files", res_txt)]
        elif proc == "remove_orphan_files":
            removed = t.remove_orphan_files()
            out = [(args[0], "remove_orphan_files", f"removed={len(removed)}")]
        elif proc == "rollback_to_snapshot":
            snap = t.rollback(int(args[1]))
            out = [(args[0], "rollback_to_snapshot", f"snapshot={snap.snapshot_id}")]
        elif proc == "create_tag":
            v = t.create_tag(args[1], int(args[2]) if len(args) > 2 else None)
            out = [(args[0], "create_tag", f"{args[1]}=v{v}")]
        elif proc == "drop_tag":
            t.drop_tag(args[1])
            out = [(args[0], "drop_tag", args[1])]
        elif proc == "create_branch":
            v = t.create_branch(args[1], int(args[2]) if len(args) > 2 else None)
            out = [(args[0], "create_branch", f"{args[1]}=v{v}")]
        elif proc == "fast_forward":
            v = t.fast_forward(args[1])
            out = [(args[0], "fast_forward", f"main=v{v}")]
        elif proc == "drop_branch":
            t.drop_branch(args[1])
            out = [(args[0], "drop_branch", args[1])]
        elif proc == "export_iceberg_metadata":
            mloc = t.export_iceberg_metadata()
            out = [(args[0], "export_iceberg_metadata", mloc)]
        else:
            raise ValueError(f"unknown procedure {proc!r}")
        self._register(t)
        return arrow_local_df(self.spark, out, "table string, procedure string, result string")

    def _sql_alter(self, q: str) -> DataFrame:
        """``ALTER TABLE t ADD COLUMN name TYPE | RENAME COLUMN a TO b |
        DROP COLUMN name`` — metadata-only schema evolution (Iceberg
        §2.7 surface; LakeTable.add_column/rename_column/drop_column)."""
        pf = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*$",
            q, re.I,
        )
        if pf:
            name, action, spec = pf.groups()
            t = self.catalog.load(name)
            if action.upper() == "ADD":
                t.add_partition_field(spec.strip())
            else:
                t.drop_partition_field(spec.strip())
            self._register(self.catalog.load(name))
            return self._ok(f"{action.lower()}_partition_field", f"{name}:{spec.strip()}")
        ac = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+CONSTRAINT\s+`?(\w+)`?\s+"
            r"CHECK\s*\((.+)\)\s*$",
            q, re.I | re.S,
        )
        if ac:
            name, cname, cexpr = ac.groups()
            t = self.catalog.load(name)
            t.add_constraint(cname, cexpr.strip())
            self._register(self.catalog.load(name))
            return self._ok("add_constraint", f"{name}:{cname}")
        dc = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+CONSTRAINT\s+`?(\w+)`?\s*$",
            q, re.I,
        )
        if dc:
            name, cname = dc.groups()
            t = self.catalog.load(name)
            t.drop_constraint(cname)
            self._register(self.catalog.load(name))
            return self._ok("drop_constraint", f"{name}:{cname}")
        rn = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$",
            q, re.I,
        )
        if rn:
            name, old, new = rn.groups()
            t = self.catalog.load(name)
            t.rename_column(old, new)
            self._register(self.catalog.load(name))
            return self._ok("rename_column", f"{name}.{old}->{new}")
        dr = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+COLUMNS?\s*\(?\s*`?(\w+)`?\s*\)?\s*$",
            q, re.I,
        )
        if dr:
            name, col = dr.groups()
            t = self.catalog.load(name)
            t.drop_column(col)
            self._register(self.catalog.load(name))
            return self._ok("drop_column", f"{name}.{col}")
        sp = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+SET\s+TBLPROPERTIES\s*\((.*)\)\s*$",
            q, re.I | re.S,
        )
        if sp:
            name, body = sp.groups()
            props = {}
            for item in _split_top_level(body):
                pm = re.match(r"'([^']+)'\s*=\s*'([^']*)'$", item.strip())
                if not pm:
                    raise ValueError(f"cannot parse TBLPROPERTIES item: {item!r}")
                props[pm.group(1)] = pm.group(2)
            t = self.catalog.load(name)
            t.set_properties(props)
            self._register(self.catalog.load(name))
            return self._ok("set_properties", f"{name}:{','.join(sorted(props))}")
        up = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+UNSET\s+TBLPROPERTIES\s*\((.*)\)\s*$",
            q, re.I | re.S,
        )
        if up:
            name, body = up.groups()
            keys = [i.strip().strip("'") for i in _split_top_level(body)]
            t = self.catalog.load(name)
            t.unset_properties(keys)
            self._register(self.catalog.load(name))
            return self._ok("unset_properties", f"{name}:{','.join(sorted(keys))}")
        wd = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+"
            r"(?:SET\s+DATA\s+)?TYPE\s+([\w(),\s]+?)\s*$",
            q, re.I,
        )
        if wd:
            name, col, ctype = wd.groups()
            t = self.catalog.load(name)
            t.widen_column(col, _parse_type(ctype))
            self._register(self.catalog.load(name))
            return self._ok("widen_column", f"{name}.{col}->{ctype.strip()}")
        m = re.match(
            r"ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+COLUMNS?\s*\(?\s*`?(\w+)`?\s+([\w(),\s]+?)\s*\)?\s*$",
            q, re.I,
        )
        if not m:
            raise ValueError(f"cannot parse ALTER TABLE: {q!r}")
        name, col, ctype = m.groups()
        t = self.catalog.load(name)
        t.add_column(col, _parse_type(ctype))
        self._register(self.catalog.load(name))
        return self._ok("add_column", f"{name}.{col}")

    _MERGE_RE = re.compile(
        r"MERGE\s+INTO\s+`?(\w+)`?(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
        r"\s+USING\s+(.*?)\s+ON\s+(.*?)\s+(WHEN\s+.*)$",
        re.I | re.S,
    )
    # The action lookahead anchors on "WHEN [NOT] MATCHED" (not a bare
    # "WHEN") so a CASE WHEN inside a SET/INSERT expression doesn't
    # truncate the arm; _parse_merge_whens additionally verifies the
    # matches consume the whole clause, so a typo'd arm raises instead
    # of silently dropping.
    _MERGE_WHEN_RE = re.compile(
        r"WHEN\s+(?:(NOT)\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?"
        r"(?:\s+AND\s+(.*?))?\s+THEN\s+"
        r"(UPDATE\s+SET\s+.*?|DELETE|INSERT\s+.*?)"
        r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED\b|\s*$)",
        re.I | re.S,
    )

    def _parse_merge_whens(self, whens: str) -> list[tuple[str, str, str, str]]:
        """Tokenize the WHEN clause into (not_kw, by_kw, and_cond, action)
        arms, raising on any text the arm grammar does not consume."""
        arms, pos = [], 0
        for m in self._MERGE_WHEN_RE.finditer(whens):
            if whens[pos:m.start()].strip():
                raise ValueError(
                    f"cannot parse MERGE WHEN clause near: {whens[pos:m.start()][:80]!r}"
                )
            arms.append(m.groups())
            pos = m.end()
        if whens[pos:].strip():
            raise ValueError(
                f"cannot parse MERGE WHEN clause near: {whens[pos:][:80]!r}"
            )
        if not arms:
            raise ValueError(f"MERGE has no WHEN arms: {whens[:80]!r}")
        return arms

    def _sql_merge(self, q: str) -> DataFrame:
        """``MERGE INTO t [alias] USING (<subquery>|view) [alias] ON cond
        WHEN MATCHED [AND c] THEN UPDATE SET x = expr, ... | DELETE
        WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT * | (cols) VALUES (..)
        WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE``
        — the reference pipeline's lake-native upsert form (A1/ST4,
        README.md:247-250; Iceberg's Spark MERGE surface, incl. the Spark
        3.4+ BY SOURCE arms over target rows no source row matches).
        All arms land in ONE snapshot commit: updated + inserted rows and
        deleted keys go through ``LakeTable.merge(updates, deletes=...)``'s
        touched-bucket copy-on-write, so the rewrite is bounded by the
        source batch (plus, with BY SOURCE arms, the unmatched target
        rows they select), not the table. Multiple arms of the same
        family resolve in statement order (first matching arm wins),
        mirroring ANSI MERGE; same-action arms accumulate via union."""
        m = self._MERGE_RE.match(q)
        if not m:
            raise ValueError(f"cannot parse MERGE INTO: {q!r}")
        name, t_alias, using, on, whens = m.groups()
        t_alias = t_alias or name
        t = self._load_for_write(name)
        if not t.primary_key:
            raise ValueError(f"MERGE target must be a PK table: {name}")
        fields = t.schema.fieldNames()

        using = using.strip()
        if using.startswith("("):
            depth, end = 0, -1
            for i, ch in enumerate(using):
                depth += ch == "("
                depth -= ch == ")"
                if depth == 0:
                    end = i
                    break
            src = self.spark.sql(self._rewrite_time_travel(using[1:end]))
            rest = using[end + 1:].strip()
        else:
            parts = using.split(None, 1)
            src = self.spark.table(parts[0].strip("`"))
            rest = parts[1] if len(parts) > 1 else ""
        s_alias = re.sub(r"^AS\s+", "", rest.strip(), flags=re.I).strip("` ") or "__src"

        tdf = t.read().alias(t_alias)
        sdf = src.alias(s_alias)
        matched = None       # sdf ⋈ tdf, built lazily
        tgt_unmatched = None  # target rows no source row matches (BY SOURCE)
        src_unmatched = None  # source rows no target row matches (BY TARGET)

        def _update_frame(rows: DataFrame, a_up: str) -> DataFrame:
            set_exprs = {}
            for part in _split_top_level(re.sub(r"^UPDATE\s+SET\s+", "", a_up, flags=re.I)):
                col, _, expr = part.partition("=")
                set_exprs[col.strip().strip("`")] = expr.strip()
            return rows.selectExpr(
                *[
                    f"({set_exprs[c]}) AS `{c}`"
                    if c in set_exprs
                    else f"{t_alias}.`{c}` AS `{c}`"
                    for c in fields
                ]
            )

        updates = None
        del_keys = None
        inserts = None
        # first-matching-arm-wins, tracked per arm family (ANSI MERGE)
        prev_m = F.lit(False)   # WHEN MATCHED
        prev_s = F.lit(False)   # WHEN NOT MATCHED BY SOURCE
        prev_i = F.lit(False)   # WHEN NOT MATCHED [BY TARGET]
        for not_kw, by_kw, and_cond, action in self._parse_merge_whens(whens):
            a_up = action.strip()
            cond = F.expr(and_cond) if and_cond and and_cond.strip() else F.lit(True)
            if not_kw and (by_kw or "").upper() != "SOURCE":
                # INSERT over source rows with no target match
                if not a_up.upper().startswith("INSERT"):
                    raise ValueError(f"NOT MATCHED arm must INSERT: {a_up!r}")
                if src_unmatched is None:
                    src_unmatched = sdf.join(tdf, F.expr(on), "left_anti")
                arm = cond & ~prev_i
                prev_i = prev_i | arm
                rows = src_unmatched.filter(arm)
                body = re.sub(r"^INSERT\s*", "", a_up, flags=re.I).strip()
                if body == "*":
                    ins = rows.selectExpr(
                        *[f"{s_alias}.`{c}` AS `{c}`" for c in fields]
                    )
                else:
                    cm = re.match(r"\((.*?)\)\s*VALUES\s*\((.*)\)\s*$", body, re.I | re.S)
                    if not cm:
                        raise ValueError(f"cannot parse INSERT arm: {a_up!r}")
                    cols = [c.strip().strip("`") for c in _split_top_level(cm.group(1))]
                    exprs = _split_top_level(cm.group(2))
                    by_col = dict(zip(cols, exprs))
                    ins = rows.selectExpr(
                        *[
                            f"({by_col[c]}) AS `{c}`"
                            if c in by_col
                            else f"CAST(NULL AS {t.schema[c].dataType.simpleString()}) AS `{c}`"
                            for c in fields
                        ]
                    )
                inserts = ins if inserts is None else inserts.unionByName(ins)
                continue
            if not_kw:  # WHEN NOT MATCHED BY SOURCE — target-only rows
                if a_up.upper().startswith("INSERT"):
                    raise ValueError(f"BY SOURCE arm cannot INSERT: {a_up!r}")
                if tgt_unmatched is None:
                    tgt_unmatched = tdf.join(sdf, F.expr(on), "left_anti")
                arm = cond & ~prev_s
                prev_s = prev_s | arm
                rows = tgt_unmatched.filter(arm)
            else:  # WHEN MATCHED
                if matched is None:
                    matched = sdf.join(tdf, F.expr(on), "inner")
                arm = cond & ~prev_m
                prev_m = prev_m | arm
                rows = matched.filter(arm)
            if a_up.upper().startswith("UPDATE"):
                upd = _update_frame(rows, a_up)
                updates = upd if updates is None else updates.unionByName(upd)
            elif a_up.upper() == "DELETE":
                dk = rows.selectExpr(
                    *[f"{t_alias}.`{k}` AS `{k}`" for k in t.primary_key]
                )
                del_keys = dk if del_keys is None else del_keys.unionByName(dk)
            else:
                raise ValueError(f"cannot parse MERGE action: {a_up!r}")

        combined = updates
        if inserts is not None:
            combined = inserts if combined is None else combined.unionByName(inserts)
        if combined is None:
            combined = arrow_local_df(self.spark, [], t.schema)
        snap = t.merge(combined, deletes=del_keys)
        self._register(t)
        return arrow_local_df(self.spark, 
            [(name, snap.snapshot_id)], "name string, version long"
        )

    def _sql_insert(self, q: str) -> DataFrame:
        """``INSERT INTO t [BRANCH b] [(cols)] SELECT ...|VALUES ...``.
        BRANCH routes the write onto a branch ref (the WAP staging step,
        Iceberg's ``INSERT INTO t.branch_b`` role): main readers see
        nothing until ``CALL fast_forward(t, b)`` publishes."""
        m = re.match(
            r"INSERT\s+INTO\s+`?([\w.]+)`?\s*"
            r"(?:BRANCH\s+`?(\w+)`?\s*)?(?:\(([^)]*)\))?\s+"
            r"(SELECT\b.*|VALUES\b.*)$",
            q, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT INTO: {q!r}")
        name = m.group(1).split(".")[-1]
        branch = m.group(2)
        src = (
            self.spark.sql(self._rewrite_time_travel(m.group(4)))
            if m.group(4).upper().startswith("SELECT")
            else self.spark.sql(f"SELECT * FROM {m.group(4)}")
        )
        if not self.catalog.exists(name):
            raise KeyError(f"INSERT target is not a lake table: {name}")
        t = self._load_for_write(name)
        if m.group(3):
            # explicit column list: values map positionally to the listed
            # columns; unlisted columns land NULL (standard SQL; computed
            # columns like PROCTIME() are stamped by _prepare)
            cols = [c.strip().strip("`") for c in m.group(3).split(",")]
            unknown = [c for c in cols if c not in t.schema.fieldNames()]
            if unknown:
                raise ValueError(f"INSERT column(s) not in {name}: {unknown}")
            if len(cols) != len(src.columns):
                raise ValueError(
                    f"INSERT column list has {len(cols)} names but the "
                    f"source produces {len(src.columns)} columns"
                )
            # an omitted NOT NULL (or PK — PK implies not-null) column
            # would land NULL and then be silently DROPPED by the sink's
            # not-null enforcer: the INSERT would "succeed" writing zero
            # rows. Standard SQL errors instead — so do we.
            required = set(t.not_null or ()) | set(t.primary_key or ())
            omitted = [
                c
                for c in t.schema.fieldNames()
                if c in required
                and c not in cols
                and not t.properties.get(f"engine.computed.{c}")
            ]
            if omitted:
                raise ValueError(
                    f"INSERT into {name} omits NOT NULL column(s) "
                    f"{omitted}: every not-null / primary-key column "
                    "must appear in the column list"
                )
            src = src.toDF(*cols)
            for f in t.schema.fields:
                # unlisted columns land NULL — except computed columns,
                # which stay absent so _prepare stamps them
                if f.name not in cols and not t.properties.get(
                    f"engine.computed.{f.name}"
                ):
                    src = src.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        else:
            src = src.toDF(*t.schema.fieldNames()[: len(src.columns)])
        if branch:
            with t.on_branch(branch):
                t.merge(src) if t.primary_key else t.append(src)
            return self._ok("insert_branch", f"{name}@{branch}")
        if t.primary_key:
            t.merge(src)
        else:
            t.append(src)
        self._register(t)
        return self._ok("insert", name)

    def _sql_transaction(self, q: str) -> DataFrame:
        """``BEGIN TRANSACTION; <DML>; ...; COMMIT`` — every write in the
        block stages through one CatalogTransaction and publishes
        atomically at COMMIT (write-ahead intent + roll-forward, see
        CatalogTransaction): readers never observe a partially-applied
        block, across any number of tables. ``ROLLBACK`` as the
        terminator discards the staged writes. DML only inside the
        block (INSERT/MERGE/UPDATE/DELETE — DDL is not transactional
        here, matching Iceberg/Nessie semantics). Statements split on
        ';' (semicolons inside string literals are not supported in a
        block, same as EXECUTE STATEMENT SET)."""
        stmts = [s.strip() for s in q.split(";") if s.strip()]
        if not re.match(r"BEGIN\s+TRANSACTION$", stmts[0], re.I):
            raise ValueError(f"cannot parse transaction block: {stmts[0]!r}")
        if len(stmts) < 2 or not re.match(
            r"(COMMIT|ROLLBACK)$", stmts[-1], re.I
        ):
            raise ValueError(
                "transaction block must end with COMMIT or ROLLBACK"
            )
        if self._active_txn is not None:
            raise ValueError("nested BEGIN TRANSACTION is not supported")
        body, final = stmts[1:-1], stmts[-1].upper()
        allowed = ("INSERT INTO", "MERGE INTO", "DELETE FROM", "UPDATE ")
        txn = self.catalog.transaction()
        self._active_txn = txn
        try:
            for s in body:
                if not s.upper().startswith(allowed):
                    raise ValueError(
                        "only DML (INSERT INTO / MERGE INTO / UPDATE / "
                        f"DELETE FROM) is allowed in a transaction block: "
                        f"{s[:60]!r}"
                    )
                self.sql(s)
                # read-your-own-writes for the REST of the block: point
                # the touched tables' temp views at their staged heads,
                # so a later statement's SELECT source sees the block's
                # earlier writes (the views are re-registered to the
                # published/rolled-back state in the finally below)
                for t in txn._tables.values():
                    t.read().createOrReplaceTempView(t.name)
            if final == "COMMIT":
                txn.commit()
            else:
                txn.abort()
        except Exception:
            txn.abort()  # no-op if commit/abort already finished
            raise
        finally:
            self._active_txn = None
            # on COMMIT this registers the published state; on
            # abort/failure it repairs views that pointed at staged
            # (now-deleted) snapshots
            for name in list(txn._tables):
                if self.catalog.exists(name):
                    self._register(self.catalog.load(name))
        return arrow_local_df(self.spark, 
            [(final.lower(), len(body))], "op string, statements int"
        )

    def _sql_statement_set(self, q: str) -> DataFrame:
        """S15 ``EXECUTE STATEMENT SET BEGIN ... END`` (README.md:211-216):
        run every INSERT in the set (batch form — the streaming form is
        streaming/pipeline.ReferencePipeline)."""
        m = re.match(r"EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(.*)\s+END$", q, re.I | re.S)
        if not m:
            raise ValueError(f"cannot parse STATEMENT SET: {q!r}")
        stmts = [s.strip() for s in m.group(1).split(";") if s.strip()]
        for s in stmts:
            self._sql_insert(s)
        return arrow_local_df(self.spark, 
            [(len(stmts),)], "n_statements int"
        )
