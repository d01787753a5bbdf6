"""Persistent, incrementally-maintained IVF index over lake tables.

The batch ANN operators (operators/similarity.py) re-train and re-assign
per query — right for one-shot analytics, wrong for a serving corpus
that ingests continuously. This module persists the index the way a
production vector store does (the FAISS-on-a-lake shape):

- ``{prefix}_centroids`` (log table): the coarse quantizer — K·dim
  model rows, written once at build time. The model is FROZEN after
  build: appends assign against it instead of re-clustering, so
  ingestion cost is O(new vectors · K) with zero touch of existing
  postings (re-clustering an index over a growing 100 TB corpus per
  ingest tick is the failure mode).
- ``{prefix}_postings`` (log table): the inverted lists —
  (list_id, vec_id, v, nrm), REPARTITIONED BY list_id at every write so
  each file holds few lists, and declared in
  ``write.value-set-columns`` so every file's manifest records its
  exact list_id set. A search probing n_probe lists then prunes to the
  files holding those lists from manifest metadata alone — scan cost
  ~n_probe/K of the corpus regardless of corpus size.

Search collects the model (K·dim) and the query vectors (bounded,
caller-supplied) driver-side — the same documented model-sized
materializations as the batch operators — picks each query's n_probe
nearest lists with numpy, and pushes the union of probed lists into the
postings scan as an IN-list predicate. Scoring is exact cosine over the
candidates with the id tie-break, identical to ``ivf_topk``.

Determinism: the quantizer (train_ivf_centroids) seeds from the first K
vectors by id and assignment tie-breaks by lowest cid, so build +
append produces EXACTLY the postings a one-shot build with the same
model would — unit-gated in tests/test_ann_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fluss_iceberg_spark.lake.table import LakeCatalog, LakeTable
from fluss_iceberg_spark.operators.similarity import (
    _as_double,
    _assign_clusters,
    _centroids_df,
    train_ivf_centroids,
)
from fluss_iceberg_spark.operators.dedup import dot_expanded
from fluss_iceberg_spark.operators.util import materialized, release_checkpoint

_POSTINGS_SCHEMA = (
    "list_id int, vec_id long, v array<double>, nrm double"
)
_CENTROIDS_SCHEMA = "cid long, cv array<double>, cn double"


class IvfIndex:
    """Handle on a persisted IVF index (two lake tables under one
    prefix). ``build`` creates/replaces; ``load`` attaches to an
    existing index; ``append`` ingests; ``search`` queries."""

    def __init__(self, catalog: LakeCatalog, prefix: str):
        self.catalog = catalog
        self.prefix = prefix
        # the previous distributed-routing checkpoint frame (>1024-query
        # searches); released when the NEXT search routes, or explicitly
        # via release_route_cache() — see _route_queries
        self._route_cp: DataFrame | None = None

    # ---- lifecycle ----

    def build(
        self,
        emb: DataFrame,
        n_lists: int = 16,
        n_iters: int = 2,
        dim: int = 64,
    ) -> "IvfIndex":
        spark = emb.sparkSession
        model = train_ivf_centroids(emb, n_lists, n_iters=n_iters, dim=dim)
        # remap cids (seed vec_ids — arbitrary longs) to DENSE 0..K-1 in
        # seed order: list_id then always fits the postings' int column
        # (a seed id past 2^31 would silently wrap on the non-ANSI cast)
        # and stays dense for probe frames. train_ivf_centroids returns
        # seeds in ascending vec_id order, so the remap is deterministic
        # and preserves the lowest-cid tie-break.
        model = [(i, cv, cn) for i, (_, cv, cn) in enumerate(model)]
        cent = self.catalog.create_table(
            f"{self.prefix}_centroids",
            spark.createDataFrame([], _CENTROIDS_SCHEMA).schema,
            # the model's build-time shape rides the table so load() in a
            # fresh process recovers it (a dim mismatch would silently
            # truncate/null-pad dot products — wrong results, no error)
            properties={
                "index.dim": str(dim),
                "index.n-lists": str(len(model)),
            },
            replace=True,
        )
        cent.append(_centroids_df(spark, model).coalesce(1))
        self.catalog.create_table(
            f"{self.prefix}_postings",
            spark.createDataFrame([], _POSTINGS_SCHEMA).schema,
            # list_id value sets prune SEARCH probes; vec_id blooms prune
            # the CDC-sync's stale-key DELETE to the files actually
            # holding a changed vector
            properties={
                "write.value-set-columns": "list_id",
                "write.bloom-columns": "vec_id",
            },
            replace=True,
        )
        self._dim = dim
        self._n_lists = len(model)
        self.append(emb)
        return self

    def load(self) -> "IvfIndex":
        cent = self.catalog.load(f"{self.prefix}_centroids")
        self.catalog.load(f"{self.prefix}_postings")
        # restore the build-time model shape; pre-property indexes fall
        # back to measuring a stored centroid (never a blind default)
        dim = cent.properties.get("index.dim")
        if dim is None:
            row = cent.read().select(F.size("cv").alias("d")).head()
            dim = row.d if row is not None else 64
        self._dim = int(dim)
        self._n_lists = int(
            cent.properties.get("index.n-lists", 0)
        ) or None
        return self

    @property
    def centroids(self) -> LakeTable:
        return self.catalog.load(f"{self.prefix}_centroids")

    @property
    def postings(self) -> LakeTable:
        return self.catalog.load(f"{self.prefix}_postings")

    def _model_df(self) -> DataFrame:
        return self.centroids.read()

    def _require_dim(self) -> int:
        """The build-time dim, restored from the centroids table when this
        handle didn't run build() itself (fresh-process load path)."""
        if not hasattr(self, "_dim"):
            self.load()
        return self._dim

    # ---- ingestion (no re-clustering) ----

    def append(self, new_emb: DataFrame, dim: int | None = None) -> int:
        """Assign new vectors to their nearest FROZEN centroid and append
        them to the inverted lists, repartitioned by list so the write
        stays list-clustered. Returns rows appended."""
        dim = dim or self._require_dim()
        cent = self._model_df()
        assigned = _assign_clusters(_as_double(new_emb), cent, dim).select(
            F.col("cid").cast("int").alias("list_id"),
            "vec_id",
            "v",
            "nrm",
        )
        n_lists = cent.count()
        # one write partition per ~4 lists: list-clustered files whose
        # manifest value sets stay far under the exact-membership cap
        snap = self.postings.append(
            assigned.repartition(max(1, int(n_lists) // 4), "list_id")
        )
        return snap.added_rows

    # ---- CDC maintenance ----

    def sync_from_changelog(
        self,
        source,
        from_version: int = 0,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        dim: int | None = None,
        max_inline_keys: int = 20_000,
    ) -> dict:
        """Keep the index in step with a CDC-updated PK embeddings table:
        consume the source's per-commit changelog since ``from_version``,
        squash it to net per-key changes (compose_changelog — an
        insert→update chain applies once), then

        - DELETE postings of updated/deleted keys — inline IN-list
          row-level delete when the MANIFEST says that's actually
          cheaper (see below), else ONE anti-join overwrite (a full
          postings rewrite — compaction-sized, the right trade for a
          big backlog);
        - ASSIGN + APPEND upserted vectors against the frozen quantizer.

        The inline-vs-rewrite decision is adaptive, measured not
        assumed (SCALE.md, "CDC-sync backlog"): postings files are
        clustered by list_id, so stale vec_ids SCATTER across files —
        once the changed-key set bloom-hits most files, the inline path
        rewrites nearly the whole table anyway and additionally pays a
        giant IN-literal row filter plus O(keys × files) driver bloom
        probes (at a 300k corpus, 80k inline keys cost 61.5 s vs 9.3 s
        for the rewrite). Inline therefore runs only when (a) the key
        count fits ``max_inline_keys``, (b) the driver probe budget
        keys × files stays under ~50M bloom tests, and (c) the manifest
        probe proves at most HALF the postings files hold any stale key
        — the regime where rewriting only hit files beats a full pass.
        Everything else takes the single anti-join rewrite, whose cost
        is one corpus scan regardless of backlog size.

        Upsert cost stays O(net changed keys) always: the changelog
        diff reads only changed buckets and the append is the normal
        incremental path. Returns {"deleted", "upserted",
        "synced_to_version"}; ``deleted`` counts actual stale postings
        rows on both paths."""
        dim = dim or self._require_dim()
        to_v = source.current_version()
        log = source.changelog_stream(from_version, to_v)
        # eagerly checkpoint the squashed changelog: the sync takes
        # several actions over it (stale-key collect, upsert write,
        # counts), and a plain persist dedups the EXECUTION but leaves
        # every action re-analyzing the multi-commit diff tree —
        # localCheckpoint executes it once AND truncates the lineage
        # (the merge's _materialize_delta finding: 42-56% of
        # merge-family wall was per-action planning)
        net = source.compose_changelog(log)
        with materialized(net, checkpoint=True) as net:
            return self._apply_net_changes(
                net, to_v, dim, max_inline_keys, id_col, vec_col
            )

    def _apply_net_changes(
        self,
        net: DataFrame,
        to_v: int,
        dim: int,
        max_inline_keys: int,
        id_col: str,
        vec_col: str,
    ) -> dict:
        stale_ids = [
            r[0]
            for r in net.filter(F.col("op").isin("update", "delete"))
            .select(id_col)
            .limit(max_inline_keys + 1)
            .collect()
        ]
        deleted = 0
        inline = False
        if 0 < len(stale_ids) <= max_inline_keys:
            # adaptive check (see docstring): inline only when the
            # manifest proves the stale keys concentrate in a minority
            # of postings files AND the driver bloom-probe budget holds
            snap0 = self.postings.snapshot()
            n_files = len(snap0.files) if snap0 else 0
            if n_files and len(stale_ids) * n_files <= 50_000_000:
                hit = self.postings.plan_scan(
                    where=[("vec_id", "in", stale_ids)]
                )
                inline = 2 * len(hit) <= n_files
        if inline:
            # count actual rows via O(1) manifest counts (copy-on-write
            # delete keeps total_rows exact) — key count would miss
            # duplicate postings a replayed append could have left
            before_rows = self.postings.count_rows()
            self.postings.delete(where=[("vec_id", "in", stale_ids)])
            deleted = before_rows - self.postings.count_rows()
        elif stale_ids:  # scattered or oversized backlog: one anti-join
            # rewrite — a FULL postings pass (see docstring)
            stale = net.filter(F.col("op").isin("update", "delete")).select(
                F.col(id_col).alias("vec_id")
            )
            before = self.postings.read().count()
            live = self.postings.read().join(stale, on="vec_id", how="left_anti")
            snap = self.postings.overwrite(live)
            deleted = before - snap.added_rows
        fresh = net.filter(F.col("op").isin("insert", "update")).select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        upserted = fresh.count()  # one job over the cached net frame
        if upserted:
            self.append(fresh, dim=dim)
        return {
            "deleted": deleted,
            "upserted": upserted,
            "synced_to_version": to_v,
            # which delete strategy the adaptive check picked (None when
            # nothing was stale) — observability for tests and operators
            "delete_path": (
                "inline" if inline else ("rewrite" if stale_ids else None)
            ),
        }

    # ---- search ----

    # past this many queries, query→list routing runs as a Spark job
    # (broadcast centroids + top-n_probe window) instead of a driver
    # numpy loop; below it, the driver path avoids a job per search
    ROUTE_DRIVER_MAX = 1024
    # scoring-join broadcast bounds, independent of the routing path:
    # the probe frame broadcasts while |Q|·n_probe stays executor-cheap
    # (12-byte rows → ~100 MB at the bound), the query frame while its
    # vector payload stays under ~32 MB — each decided on ITS size, not
    # on how the routing ran
    BROADCAST_PROBE_ROWS = 8_000_000
    BROADCAST_Q_BYTES = 32 * 1024 * 1024

    def _route_queries(
        self, queries: DataFrame, n_probe: int, dim: int
    ) -> tuple[DataFrame, bool]:
        """((query_id, list_id) routing pairs, small_query_set flag) —
        each query's ``n_probe`` nearest centroids by cosine, lowest-cid
        tie-break. Collects at most ``ROUTE_DRIVER_MAX + 1`` query rows:
        small query sets route driver-side (numpy over the K·dim model,
        no Spark job), larger ones route distributed via
        ``_assign_clusters`` (broadcast centroids, |Q|·K dot products in
        one scan, top-n_probe window) — the same scoring expression, so
        both paths pick identical probe sets (unit-gated in
        tests/test_ann_index.py). The flag tells ``search`` whether the
        query side is small enough to broadcast into the scoring join."""
        import numpy as np

        spark = queries.sparkSession
        qd = _as_double(queries)
        qrows = qd.limit(self.ROUTE_DRIVER_MAX + 1).collect()
        if len(qrows) > self.ROUTE_DRIVER_MAX:
            # zero-norm guards mirror the driver loop's `or 1.0` exactly —
            # a zero centroid/query must rank by its raw dot product on
            # BOTH paths, or the probe sets diverge at the size boundary
            cent = self._model_df().select(
                "cid", "cv",
                F.when(F.col("cn") == 0, F.lit(1.0))
                .otherwise(F.col("cn")).alias("cn"),
            )
            qg = qd.select(
                "vec_id", "v",
                F.when(F.col("nrm") == 0, F.lit(1.0))
                .otherwise(F.col("nrm")).alias("nrm"),
            )
            routed = _assign_clusters(qg, cent, dim, top_n=n_probe).select(
                F.col("vec_id").alias("query_id"),
                F.col("cid").cast("int").alias("list_id"),
            )
            # materialize once: search() consumes this both for the
            # probed-list collect AND inside the scoring join — without a
            # checkpoint the |Q|·K routing job would run twice. The
            # checkpoint blocks of the PREVIOUS search are released here
            # (and via release_route_cache) so repeated large-|Q|
            # searches in a long-lived session don't accumulate blocks
            # until the GC-driven ContextCleaner sweep — which means a
            # search's returned plan must be consumed before the next
            # search is issued (it is in every caller: the plan is
            # lazy only until the caller's own action).
            self.release_route_cache()
            self._route_cp = routed.localCheckpoint(eager=True)
            return self._route_cp, False
        model = [
            (int(r.cid), np.array(r.cv, dtype=np.float64), float(r.cn))
            for r in self._model_df().collect()
        ]
        pairs = []  # (query_id, probed list)
        for r in qrows:
            qv = np.array(r.v, dtype=np.float64)
            qn = float(r.nrm) or 1.0
            sims = [
                (-(qv @ cv) / (qn * (cn or 1.0)), cid) for cid, cv, cn in model
            ]
            for _, cid in sorted(sims)[:n_probe]:
                pairs.append((int(r.vec_id), int(cid)))
        from fluss_iceberg_spark.operators.util import arrow_local_df

        return (
            # Arrow local frame (guide §6): keeps the probe frame free of
            # Python workers in the scoring join it broadcasts into
            arrow_local_df(spark, pairs, "query_id long, list_id int"),
            True,
        )

    def release_route_cache(self) -> None:
        """Free the checkpoint blocks a previous >ROUTE_DRIVER_MAX-query
        search left behind."""
        cp, self._route_cp = self._route_cp, None
        if cp is not None:
            release_checkpoint(cp)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        dim: int | None = None,
    ) -> DataFrame:
        """Top-k by exact cosine over the probed lists' candidates.
        Output: (query_id, nn_id, cosine, rank) — the batch ivf_topk
        shape, id tie-broken. ``n_probe`` is clamped to the model's
        list count (a probe count past K would only duplicate work on
        the distributed routing path's window)."""
        dim = dim or self._require_dim()
        n_lists = getattr(self, "_n_lists", None)
        if n_lists:
            n_probe = min(n_probe, n_lists)
        probe, small_q = self._route_queries(queries, n_probe, dim)
        # the union of probed lists is bounded by K (model-sized), never
        # by |Q| — safe to collect for the manifest IN-list pushdown
        probed_lists = sorted(
            r[0] for r in probe.select("list_id").distinct().collect()
        )
        # manifest value-set pruning: only files holding a probed list
        # are ever opened — the scan is ~n_probe/K of the corpus
        cand = self.postings.read(where=[("list_id", "in", probed_lists)])
        q = _as_double(queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("nq"),
        )
        # Broadcast decisions are decoupled from the ROUTING-path choice
        # and sized per frame (measured: coupling them cost 3.2x at the
        # 1024→1025 boundary — dropping the probe broadcast shuffles the
        # FULL candidate set on list_id, a ≤K-distinct-value key, the
        # worst possible exchange). The probe frame is |Q|·n_probe
        # 12-byte rows and the query frame |Q| vectors — each broadcasts
        # while under its own byte bound, however the routing ran; past
        # the bounds AQE plans the shuffles on actual sizes. |Q| is free
        # on both paths: the small path collected the rows, the large
        # path counts the already-checkpointed routing frame (no
        # recompute).
        if small_q:
            probe, q = F.broadcast(probe), F.broadcast(q)
        else:
            n_q = probe.count() // max(n_probe, 1)
            if n_q * n_probe <= self.BROADCAST_PROBE_ROWS:
                probe = F.broadcast(probe)
            if n_q * (dim * 8 + 32) <= self.BROADCAST_Q_BYTES:
                q = F.broadcast(q)
        scored = (
            cand.join(probe, on="list_id")
            .join(q, on="query_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "cos",
                F.round(
                    dot_expanded(F.col("qv"), F.col("v"), dim)
                    / (F.col("nq") * F.col("nrm")),
                    4,
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("vec_id").alias("nn_id"),
                F.col("cos").alias("cosine"),
                "rank",
            )
        )
