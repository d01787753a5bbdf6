"""SQL views and incrementally-maintained materialized views.

Reference role: the demo's analytics layer re-runs the same aggregation
query against the lake on every dashboard refresh (README.md:257-292,
`nation_revenue` is itself a continuously-maintained aggregate,
README.md:247-250). A lakehouse engine exposes that pattern two ways:

* **logical views** — named SQL macros, re-planned at every reference so
  they always see the current snapshot of the underlying lake tables;
* **materialized views** — the aggregate is persisted as a PK lake table
  and `REFRESH` advances it INCREMENTALLY: only the rows appended to the
  base table since the last refresh are scanned (Iceberg incremental
  read), partial-aggregated, and merged into the state by key. Refresh
  cost is O(delta + touched keys), never O(base table) — the property
  that matters at 100 TB, where the base grows by appends and a full
  re-aggregation per refresh would re-scan the world.

Supported MV shape: ``SELECT <keys...>, <AGG(expr) AS alias...> FROM
<log_table> [WHERE <pred>] GROUP BY <keys>`` with SUM / COUNT / MIN /
MAX / AVG / APPROX_COUNT_DISTINCT. The last keeps a mergeable
HyperLogLog sketch (``hll_sketch_agg``/``hll_union``) as its state —
the only way COUNT(DISTINCT) can be maintained incrementally without
re-scanning the base, and the standard trade at 100 TB (exact distinct
state would be O(#distincts) per key).

Join materialized views (r10): ``SELECT <cols> FROM a JOIN b ON <cond>
[WHERE ...]`` over two append-only log bases — refresh appends exactly
ΔA⋈B_new ∪ A_old⋈ΔB (inner join distributes over bag union, so the
state is the precise bag join at every refresh; any deterministic ON
predicate). The state itself is an append-only log table.

Retractable matviews (r10): a PK (upserting) base is supported for
SUM/COUNT/AVG by consuming the base's RETRACTION STREAM — changelog
``mode="full"`` emits update_before/update_after pairs and the refresh
merges SIGNED partial state (+1 additions, -1 retractions), Flink's
retract-stream aggregation over the lake changelog. A hidden
``__rt_cnt`` liveness column makes fully-retracted groups disappear
from reads. MIN/MAX/APPROX_COUNT_DISTINCT remain log-base-only: their
state cannot be retracted incrementally (rejected with that
explanation). AVG keeps hidden (sum, count) state columns and
finalizes on read.

Definitions persist in ``<warehouse>/_views.json`` so a fresh engine
session sees the same view surface (the catalog is the durable store,
the engine object is per-session, mirroring a REST-catalog deployment).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.commit import atomic_write

_AGG_RE = re.compile(
    r"^(SUM|COUNT|MIN|MAX|AVG|APPROX_COUNT_DISTINCT)\s*\((.+)\)\s+AS\s+(\w+)$",
    re.I | re.S,
)
_MV_SELECT_RE = re.compile(
    r"^SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+GROUP\s+BY\s+(.*?))?$",
    re.I | re.S,
)

# join materialized view: SELECT <proj> FROM a JOIN b ON <cond> [WHERE ...]
_JMV_SELECT_RE = re.compile(
    r"^SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?\s+JOIN\s+`?(\w+)`?"
    r"\s+ON\s+(.*?)(?:\s+WHERE\s+(.*?))?$",
    re.I | re.S,
)


def _split_top_level(s: str) -> list[str]:
    """Quote- and paren-aware comma split — the engine's implementation
    (one definition, so a literal containing a comma parses identically
    in MV projections and engine SQL lists)."""
    from fluss_iceberg_spark.engine import _split_top_level as _impl

    return _impl(s)


class ViewManager:
    """Owns the view/matview registry for one Engine's warehouse."""

    def __init__(self, engine) -> None:
        self.engine = engine
        # bound to the engine's ACTIVE catalog at construction; the engine
        # keeps one manager per warehouse and dispatches by current catalog
        self._path = os.path.join(engine.catalog.warehouse, "_views.json")
        self._load()

    # ---- persistence ----

    def _load(self) -> None:
        if os.path.exists(self._path):
            with open(self._path) as f:
                state = json.load(f)
        else:
            state = {}
        self.views: dict[str, str] = dict(state.get("views") or {})
        self.matviews: dict[str, dict] = dict(state.get("matviews") or {})

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        atomic_write(
            self._path,
            json.dumps({"views": self.views, "matviews": self.matviews}),
        )

    # ---- logical views ----

    def create_view(self, name: str, select: str, replace: bool = False) -> None:
        if not replace and name in self.views:
            raise ValueError(f"view {name} already exists")
        if not re.match(r"\s*(SELECT|WITH)\b", select, re.I):
            raise ValueError(
                f"view body must be a SELECT/WITH query, got: {select[:60]!r}"
            )
        # validate eagerly: a broken definition should fail at CREATE,
        # not at first use (plan-building only, nothing executes)
        self.engine.sql(select)
        self.views[name] = select
        self._save()

    def drop_view(self, name: str) -> None:
        if name not in self.views:
            raise ValueError(f"view {name} does not exist")
        del self.views[name]
        self.engine.spark.catalog.dropTempView(name)
        self._save()

    def materialize_referenced(self, q: str) -> None:
        """Re-register every view/matview a statement references as a
        fresh temp view. Views capture SQL TEXT, not plans — re-running
        the definition through the engine re-resolves the CURRENT lake
        snapshots (a Spark temp view would freeze the plan at creation).
        Views are materialized in creation order, so a view over a view
        resolves; only plan construction happens here (lazy, no I/O)."""
        if getattr(self, "_materializing", False):
            return  # nested engine.sql() during materialization
        # Only the views the statement references (plus their transitive
        # view dependencies) are re-materialized — a stale definition of
        # an UNRELATED view must not fail this query, and re-planning
        # every registered view per statement is O(#views) waste.
        all_names = list(self.views) + list(self.matviews)

        def refs_in(text: str) -> set[str]:
            return {
                n for n in all_names if re.search(rf"\b{re.escape(n)}\b", text)
            }

        needed = refs_in(q)
        frontier = list(needed)
        while frontier:
            body = self.views.get(frontier.pop())
            if body:
                for dep in refs_in(body) - needed:
                    needed.add(dep)
                    frontier.append(dep)
        if not needed:
            return
        self._materializing = True
        try:
            # matviews first: a view body may read a matview, never the
            # reverse (matview bases are lake tables by construction)
            for name in self.matviews:
                if name in needed:
                    self.read_matview(name).createOrReplaceTempView(name)
            for name, select in self.views.items():
                if name in needed:
                    df = self.engine.sql(select)
                    df.createOrReplaceTempView(name)
        finally:
            self._materializing = False

    # ---- materialized views ----

    def create_matview(self, name: str, select: str) -> None:
        if name in self.matviews:
            raise ValueError(f"materialized view {name} already exists")
        if re.search(r"\bJOIN\b", select, re.I):
            return self._create_join_matview(name, select)
        m = _MV_SELECT_RE.match(select.strip())
        if not m:
            raise ValueError(f"cannot parse materialized-view SELECT: {select!r}")
        proj, base_name, where, group_by = (
            m.group(1), m.group(2), m.group(3), m.group(4),
        )
        if not group_by:
            raise ValueError(
                "materialized view needs a GROUP BY (the group keys are the "
                "state table's primary key; for a global aggregate, group by "
                "a constant column)"
            )
        base = self.engine.catalog.load(base_name)
        retract = bool(base.primary_key)
        keys = [c.strip().strip("`") for c in _split_top_level(group_by or "")]
        aggs = []  # (func, arg_expr, alias)
        for item in _split_top_level(proj):
            am = _AGG_RE.match(item)
            if am:
                aggs.append((am.group(1).upper(), am.group(2), am.group(3)))
            elif item.strip("`") in keys:
                continue
            else:
                raise ValueError(
                    f"materialized-view projection item {item!r} must be a "
                    "GROUP BY key or AGG(expr) AS alias"
                )
        if not aggs:
            raise ValueError("materialized view needs at least one aggregate")
        if retract:
            bad = [f for f, _a, _n in aggs
                   if f in ("MIN", "MAX", "APPROX_COUNT_DISTINCT")]
            if bad:
                raise ValueError(
                    f"materialized view base {base_name} is a PK table "
                    f"(retraction stream): {'/'.join(sorted(set(bad)))} "
                    "state cannot be retracted incrementally — only "
                    "SUM/COUNT/AVG are maintainable under signed deltas"
                )
        defn = {
            "base": base_name,
            "where": where,
            "keys": keys,
            "aggs": [list(a) for a in aggs],
            "retract": retract,
            "last_version": -1,
        }
        # state table: PK = group keys, schema from the partial aggregate
        if retract:
            empty = base.read().limit(0).withColumn("op", F.lit("insert"))
            state_schema = self._signed_partial_agg(empty, defn).schema
        else:
            state_schema = self._partial_agg(base.read().limit(0), defn).schema
        self.engine.catalog.create_table(
            self._state_name(name),
            state_schema,
            primary_key=keys,
            not_null=keys,
            n_buckets=base.n_buckets,
        )
        self.matviews[name] = defn
        self._save()
        self.refresh_matview(name)

    # ---- join materialized views (incremental view maintenance) ----

    def _create_join_matview(self, name: str, select: str) -> None:
        """V = A ⋈ B maintained incrementally (classic IVM): inner join
        distributes over bag union, so with append-only bases

            V_new = V_old  ∪  ΔA ⋈ B_new  ∪  A_old ⋈ ΔB

        exactly (ΔA⋈ΔB lands once, inside the first term). The state is
        an append-only log table — a join of append-only inputs is
        append-only, which is why PK (upserting) bases are rejected: an
        upsert retracts rows, and retraction needs delta-with-sign
        (z-sets), a different operator. Any deterministic ON predicate
        is supported (the algebra is predicate-agnostic).

        100 TB refresh shape: ΔA⋈B_new scans B through its own
        stats/bucket pruning with a small delta side Catalyst/AQE will
        broadcast; A_old⋈ΔB is symmetric; refresh work is
        O(|ΔA| + |ΔB| + matched rows), independent of |V|."""
        m = _JMV_SELECT_RE.match(select.strip())
        if not m:
            raise ValueError(
                f"cannot parse join materialized-view SELECT: {select!r}"
            )
        proj, a_name, b_name, cond, where = (
            m.group(1), m.group(2), m.group(3), m.group(4), m.group(5),
        )
        for bn in (a_name, b_name):
            if self.engine.catalog.load(bn).primary_key:
                raise ValueError(
                    f"join materialized view base {bn} is a PK table; "
                    "incremental join maintenance needs append-only log "
                    "bases (PK upserts retract rows — that needs signed "
                    "deltas, not this operator)"
                )
        defn = {
            "kind": "join",
            "a": a_name,
            "b": b_name,
            "on": cond.strip(),
            "where": (where or "").strip() or None,
            "proj": [p.strip() for p in _split_top_level(proj)],
            "last_a": -1,
            "last_b": -1,
        }
        a = self.engine.catalog.load(a_name)
        b = self.engine.catalog.load(b_name)
        schema = self._join_frame(
            a.read().limit(0), b.read().limit(0), defn
        ).schema
        self.engine.catalog.create_table(
            self._state_name(name), schema, n_buckets=a.n_buckets
        )
        self.matviews[name] = defn
        self._save()
        self.refresh_matview(name)

    def _join_frame(self, da: DataFrame, db: DataFrame, defn: dict) -> DataFrame:
        j = da.alias(defn["a"]).join(
            db.alias(defn["b"]), F.expr(defn["on"]), "inner"
        )
        if defn["where"]:
            j = j.filter(F.expr(defn["where"]))
        return j.selectExpr(*defn["proj"])

    def _refresh_join_matview(self, name: str) -> dict:
        defn = self.matviews[name]
        a = self.engine.catalog.load(defn["a"])
        b = self.engine.catalog.load(defn["b"])
        state = self.engine.catalog.load(self._state_name(name))
        cur_a = a.current_version() if a.snapshot() is not None else -1
        cur_b = b.current_version() if b.snapshot() is not None else -1
        last_a, last_b = defn["last_a"], defn["last_b"]
        if cur_a <= last_a and cur_b <= last_b:
            return {"refreshed": False, "from": (last_a, last_b),
                    "to": (cur_a, cur_b)}
        deltas = []
        if cur_a > last_a:
            da = a.incremental_read(last_a, cur_a)
            b_new = b.read() if cur_b >= 0 else b.read().limit(0)
            deltas.append(self._join_frame(da, b_new, defn))
        if cur_b > last_b:
            a_old = (
                a.read(version=last_a) if last_a >= 0 else a.read().limit(0)
            )
            db = b.incremental_read(last_b, cur_b)
            deltas.append(self._join_frame(a_old, db, defn))
        delta = deltas[0]
        for d in deltas[1:]:
            delta = delta.unionByName(d)
        state.append(delta)
        state.maybe_auto_compact()
        state.maybe_auto_expire()
        defn["last_a"], defn["last_b"] = cur_a, cur_b
        self._save()
        return {"refreshed": True, "from": (last_a, last_b),
                "to": (cur_a, cur_b)}

    def drop_matview(self, name: str) -> None:
        if name not in self.matviews:
            raise ValueError(f"materialized view {name} does not exist")
        del self.matviews[name]
        self.engine.catalog.drop(self._state_name(name))
        self.engine.spark.catalog.dropTempView(name)
        self._save()

    @staticmethod
    def _state_name(name: str) -> str:
        return f"__mv_{name}"

    def _signed_partial_agg(self, chg: DataFrame, defn: dict) -> DataFrame:
        """Signed-delta partial state over a retraction stream (``op`` ∈
        insert/delete/update_before/update_after): additions count +1,
        retractions −1 — ΔSUM(x) = Σ sign·x, ΔCOUNT(x) = Σ sign·(x IS
        NOT NULL), AVG via its hidden signed (sum, count). A hidden
        ``__rt_cnt`` = Σ sign tracks group liveness so a group whose
        rows are all retracted disappears from reads (GROUP BY
        semantics), even though its zeroed state row remains until the
        next touch."""
        sign = F.when(
            F.col("op").isin("insert", "update_after"), F.lit(1)
        ).otherwise(F.lit(-1))
        if defn["where"]:
            chg = chg.filter(F.expr(defn["where"]))
        cols = []
        for func, arg, alias in defn["aggs"]:
            e = F.expr(arg)
            if func == "SUM":
                cols.append(F.sum(sign * e).alias(alias))
            elif func == "COUNT":
                counted = (
                    F.lit(1) if arg.strip() == "*"
                    else e.isNotNull().cast("long")
                )
                cols.append(F.sum(sign * counted).alias(alias))
            elif func == "AVG":
                cols.append(F.sum(sign * e).alias(f"__{alias}_sum"))
                cols.append(
                    F.sum(sign * e.isNotNull().cast("long")).alias(
                        f"__{alias}_cnt"
                    )
                )
        cols.append(F.sum(sign).alias("__rt_cnt"))
        return chg.groupBy(*[F.col(k) for k in defn["keys"]]).agg(*cols)

    def _partial_agg(self, df: DataFrame, defn: dict) -> DataFrame:
        """Group the (delta) frame into mergeable per-key state: SUM /
        COUNT / MIN / MAX merge with themselves; AVG becomes hidden
        (sum, count) columns finalized at read time."""
        if defn["where"]:
            df = df.filter(F.expr(defn["where"]))
        cols = []
        for func, arg, alias in defn["aggs"]:
            e = F.expr(arg)
            if func == "SUM":
                cols.append(F.sum(e).alias(alias))
            elif func == "COUNT":
                cols.append(F.count(e if arg.strip() != "*" else F.lit(1)).alias(alias))
            elif func == "MIN":
                cols.append(F.min(e).alias(alias))
            elif func == "MAX":
                cols.append(F.max(e).alias(alias))
            elif func == "AVG":
                cols.append(F.sum(e).alias(f"__{alias}_sum"))
                cols.append(F.count(e).alias(f"__{alias}_cnt"))
            elif func == "APPROX_COUNT_DISTINCT":
                cols.append(F.hll_sketch_agg(e).alias(f"__{alias}_hll"))
        return df.groupBy(*[F.col(k) for k in defn["keys"]]).agg(*cols)

    def refresh_matview(self, name: str) -> dict:
        """Incremental refresh: scan ONLY the base files appended since
        the last refresh, partial-aggregate the delta, and merge it into
        the state by key. The merge joins the delta against the state
        table (right side pruned to touched keys by the PK-bucket join)
        and upserts just those keys — refresh work is proportional to
        the delta and its touched key set, independent of base size."""
        defn = self.matviews[name]
        if defn.get("kind") == "join":
            return self._refresh_join_matview(name)
        base = self.engine.catalog.load(defn["base"])
        state = self.engine.catalog.load(self._state_name(name))
        cur = base.current_version() if base.snapshot() is not None else -1
        last = defn["last_version"]
        if cur <= last:
            return {"refreshed": False, "from": last, "to": cur}
        retract = bool(defn.get("retract"))
        if retract:
            # PK base: the delta is the RETRACTION STREAM between the
            # snapshots — signed partial aggregation (changed-bucket
            # pruned scan, same O(delta) property as incremental_read)
            delta = self._signed_partial_agg(
                base.changelog(last, cur, mode="full"), defn
            )
        else:
            delta = self._partial_agg(
                base.incremental_read(last, cur), defn
            )
        keys = defn["keys"]
        merged = delta
        if state.snapshot() is not None and state.snapshot().total_rows > 0:
            old = state.read()
            state_cols = [c for c in old.columns if c not in keys]
            o = old.select(
                *keys, *[F.col(c).alias(f"__old_{c}") for c in state_cols]
            )
            joined = delta.join(o, on=keys, how="left")
            combine = []
            agg_specs = list(defn["aggs"])
            if retract:
                agg_specs.append(("__RT", "*", "__rt_cnt"))
            for func, _arg, alias in agg_specs:
                if func == "AVG":
                    names = [f"__{alias}_sum", f"__{alias}_cnt"]
                elif func == "APPROX_COUNT_DISTINCT":
                    names = [f"__{alias}_hll"]
                elif func == "__RT":
                    names = ["__rt_cnt"]
                else:
                    names = [alias]
                for c in names:
                    new, prev = F.col(c), F.col(f"__old_{c}")
                    if func == "MIN":
                        merged_col = F.least(new, prev)
                    elif func == "MAX":
                        merged_col = F.greatest(new, prev)
                    elif func == "APPROX_COUNT_DISTINCT":
                        merged_col = (
                            F.when(prev.isNull(), new)
                            .when(new.isNull(), prev)
                            .otherwise(F.hll_union(new, prev))
                        )
                    else:  # SUM / COUNT / AVG partial sums
                        merged_col = (
                            F.when(prev.isNull(), new)
                            .when(new.isNull(), prev)
                            .otherwise(new + prev)
                        )
                    combine.append(merged_col.alias(c))
            merged = joined.select(*keys, *combine)
        state.merge(merged)
        # commit-cadence small-file control: frequent refreshes accrete
        # per-bucket files; no-op unless the state table opts in
        state.maybe_auto_compact()
        state.maybe_auto_expire()
        defn["last_version"] = cur
        self._save()
        return {"refreshed": True, "from": last, "to": cur}

    def read_matview(self, name: str) -> DataFrame:
        """Finalized MV content: state columns, with AVG computed from
        its hidden (sum, count) pair. Join matviews read their
        append-only state verbatim."""
        defn = self.matviews[name]
        state = self.engine.catalog.load(self._state_name(name))
        df = state.read()
        if defn.get("kind") == "join":
            return df
        if defn.get("retract"):
            # a fully-retracted group's zeroed state row is not a group
            df = df.filter(F.col("__rt_cnt") > 0)
        out = list(defn["keys"])
        for func, _arg, alias in defn["aggs"]:
            if func == "AVG":
                out.append(
                    (F.col(f"__{alias}_sum") / F.col(f"__{alias}_cnt")).alias(alias)
                )
            elif func == "APPROX_COUNT_DISTINCT":
                out.append(
                    F.hll_sketch_estimate(F.col(f"__{alias}_hll")).alias(alias)
                )
            else:
                out.append(F.col(alias))
        return df.select(*out)
