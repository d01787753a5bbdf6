"""Web-graph centrality for crawl curation — fixed-point (integer)
PageRank over a link graph, the URL-level quality signal CommonCrawl
derivatives (C4/RefinedWeb lineage) rank hosts and pages with.

Why INTEGER PageRank: the operator's driver gate hash-compares values
against a DuckDB replay, and float summation order differs between
engines. All arithmetic here is exact 64-bit integer fixed-point
(SCALE = 1e12 rank units, damping 85/100 as integer mul-then-div,
integer division for the per-edge split), so every iteration is
bit-identical in ANY engine that replays the recurrence — the oracle
unrolls the iterations as plain SQL CTEs and matches hash-for-hash.
Fixed-point loses < 1 unit per division (1e-12 of total mass) — the
standard trick for making an iterative numeric algorithm gateable.

The recurrence (per iteration, D = damping numerator, 100 the divisor):

    share(u)  = (R(u) * D // 100) // out_degree(u)
    R'(v)     = BASE + SUM(share(u) for u->v)          [BASE = S*(100-D)//100//N]

Nodes with no in-links get BASE; the synthetic graph gives every node
at least one out-edge, and ``pagerank`` ALSO handles dangling nodes
(out_degree 0) by dropping their share, the "remove dangling mass"
convention — documented, and replayed identically by the oracle.

100 TB design: the classic Pregel-on-DataFrames shape. Edges are
repartitioned by src ONCE, and every iteration reads that exchange
(AQE reuses it), so each iteration adds one shuffle, the groupBy(dst) —
the irreducible PageRank exchange; ranks are K rows of (id, long). No
driver-side state beyond the loop counter; iterations are fixed-count
(the convergence-check variant adds one tiny agg per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators.util import materialized, release_checkpoint

SCALE = 10**12


def synth_link_graph(docs: DataFrame) -> DataFrame:
    """Deterministic link graph over the documents table: doc d links to
    (d * k) % N for k = 1..(d % 4 + 1), distinct targets (self-loops
    kept — they are legal PageRank edges). Pure column arithmetic; the
    oracle replays it with UNNEST."""
    n = docs.select(F.count(F.lit(1))).collect()[0][0]
    edges = (
        docs.select("doc_id")
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.col("doc_id") % 4 + 1)).alias("k"),
        )
        .select("src", ((F.col("src") * F.col("k")) % F.lit(n)).alias("dst"))
        .distinct()
    )
    return edges


def pagerank(
    edges: DataFrame,
    n_nodes: int,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank: (id, rank) after ``iterations`` exact
    integer rounds. ``edges`` is (src, dst); every node 0..n_nodes-1
    participates (nodes absent from src are dangling: their share is
    dropped, the remove-dangling-mass convention)."""
    spark = edges.sparkSession
    # edges partitioned by src once: every iteration's join reads the
    # same edges⋈deg subtree, whose exchanges AQE reuses, so only the
    # groupBy(dst) shuffles per iteration
    e = edges.repartition("src")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src")

    base = SCALE * (100 - damping_pct) // 100 // n_nodes
    nodes = spark.range(n_nodes).select(F.col("id"))
    # explicit long: small-N initial ranks fit an int literal, and ANSI
    # mode would then overflow rank * damping inside the loop
    ranks = nodes.select(
        "id", F.lit(SCALE // n_nodes).cast("long").alias("rank")
    )

    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                "dst",
                # integer div end-to-end: bit-identical to the SQL replay
                F.expr(
                    f"(rank * CAST({damping_pct} AS BIGINT) div 100) div deg"
                ).alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("inflow"), F.lit(0)).cast("long")
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_oracle_sql(iterations: int = 5, damping_pct: int = 85) -> str:
    """The DuckDB replay: same graph, same integer recurrence, one CTE
    per iteration (unrolled — no recursive aggregation needed)."""
    d = damping_pct
    sql = [
        "WITH n AS (SELECT COUNT(1) AS n FROM documents),",
        """edges AS (
        SELECT DISTINCT doc_id AS src, (doc_id * k) % (SELECT n FROM n) AS dst
        FROM documents, UNNEST(range(1, doc_id % 4 + 2)) t(k)
    ),""",
        "deg AS (SELECT src, COUNT(1) AS deg FROM edges GROUP BY src),",
        f"""r0 AS (
        SELECT doc_id AS id, {SCALE} // (SELECT n FROM n) AS rank
        FROM documents
    )""",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        sql.append(
            f""", c{i} AS (
        SELECT e.dst,
               SUM((r.rank * {d} // 100) // deg.deg) AS inflow
        FROM edges e JOIN {prev} r ON e.src = r.id JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT d.doc_id AS id,
               {SCALE} * {100 - d} // 100 // (SELECT n FROM n)
                   + COALESCE(c{i}.inflow, 0) AS rank
        FROM documents d LEFT JOIN c{i} ON d.doc_id = c{i}.dst
    )"""
        )
        prev = f"r{i}"
    sql.append(f"SELECT id, CAST(rank AS BIGINT) AS rank FROM {prev}")
    return "\n".join(sql)


def pagerank_local(edges: list, n_nodes: int, iterations: int = 5,
                   damping_pct: int = 85) -> dict:
    """Pure-Python reference of the same integer recurrence (unit gate)."""
    from collections import Counter, defaultdict

    out: dict = defaultdict(set)
    for s, t in edges:
        out[s].add(t)
    base = SCALE * (100 - damping_pct) // 100 // n_nodes
    rank = {v: SCALE // n_nodes for v in range(n_nodes)}
    for _ in range(iterations):
        inflow: Counter = Counter()
        for s, targets in out.items():
            share = (rank[s] * damping_pct // 100) // len(targets)
            for t in targets:
                inflow[t] += share
        rank = {v: base + inflow.get(v, 0) for v in range(n_nodes)}
    return rank


HITS_SCALE = 10**6  # auth/hub live in [0, 1e6]: raw*HITS_SCALE stays
# inside int64 for N < ~9.2e6 nodes (past that, promote to DECIMAL(38))


def hits(
    edges: DataFrame,
    n_nodes: int,
    iterations: int = 3,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg): per iteration,
    auth'(v) = Σ hub(u) over u→v then auth = auth' * SCALE // max(auth');
    hub'(u) = Σ auth(v) over u→v then hub = hub' * SCALE // max(hub').
    Max-normalization by integer division keeps every value exact, so
    the unrolled SQL oracle replays it bit-for-bit. The per-iteration
    scalar max stays IN-PLAN as a broadcast 1-row cross join — no
    driver collect inside the loop. Returns (id, auth, hub); nodes with
    no in/out edges hold 0 (max-normalized HITS convention here —
    documented and replayed identically by the oracle)."""
    spark = edges.sparkSession
    with materialized(edges.repartition("src")) as e:
        nodes = spark.range(n_nodes).select(F.col("id"))
        auth = nodes.select("id", F.lit(HITS_SCALE).cast("long").alias("auth"))
        hub = nodes.select("id", F.lit(HITS_SCALE).cast("long").alias("hub"))
        # the last iteration's checkpoints, dead once the current
        # iteration's are materialized
        prev_cps: list[DataFrame] = []
        for _ in range(iterations):
            # eager localCheckpoint per iteration (the repo's standard move
            # for iterative DataFrame loops, cf. neardup admission): each
            # raw frame feeds BOTH its max agg and the normalization join,
            # and without truncation the final action re-derives the whole
            # iteration prefix once per consumer — measured 190+ stages for
            # 3 iterations at sf0.01 vs ~20 with checkpoints
            a_raw = (
                e.join(hub, e.src == hub.id)
                .groupBy("dst")
                .agg(F.sum("hub").alias("raw"))
                .localCheckpoint(eager=True)
            )
            a_max = a_raw.agg(F.max("raw").alias("mx"))
            auth = (
                nodes.join(a_raw, nodes.id == a_raw.dst, "left")
                .crossJoin(F.broadcast(a_max))
                .select(
                    "id",
                    F.coalesce(
                        F.expr(f"raw * CAST({HITS_SCALE} AS BIGINT) div mx"), F.lit(0)
                    ).cast("long").alias("auth"),
                )
            )
            h_raw = (
                e.join(auth, e.dst == auth.id)
                .groupBy("src")
                .agg(F.sum("auth").alias("raw"))
                .localCheckpoint(eager=True)
            )
            h_max = h_raw.agg(F.max("raw").alias("mx"))
            hub = (
                nodes.join(h_raw, nodes.id == h_raw.src, "left")
                .crossJoin(F.broadcast(h_max))
                .select(
                    "id",
                    F.coalesce(
                        F.expr(f"raw * CAST({HITS_SCALE} AS BIGINT) div mx"), F.lit(0)
                    ).cast("long").alias("hub"),
                )
            )
            # h_raw (eager) sealed this iteration: the previous iteration's
            # two checkpoints can no longer be referenced by anything live
            for cp in prev_cps:
                release_checkpoint(cp)
            prev_cps = [a_raw, h_raw]
        # seal the result as ONE eager node-sized checkpoint, then free the
        # final iteration's raw frames and the edges — a run leaves a single
        # result-sized block (ContextCleaner reclaims it when the caller
        # drops the frame; tests release it explicitly)
        out = auth.join(hub, "id").select("id", "auth", "hub").localCheckpoint(
            eager=True
        )
        for cp in prev_cps:
            release_checkpoint(cp)
    return out


def hits_oracle_sql(iterations: int = 3) -> str:
    """DuckDB replay: identical integer recurrence, unrolled."""
    sql = [
        "WITH n AS (SELECT COUNT(1) AS n FROM documents),",
        """edges AS (
        SELECT DISTINCT doc_id AS src, (doc_id * k) % (SELECT n FROM n) AS dst
        FROM documents, UNNEST(range(1, doc_id % 4 + 2)) t(k)
    ),""",
        f"a0 AS (SELECT doc_id AS id, {HITS_SCALE} AS auth FROM documents),",
        f"h0 AS (SELECT doc_id AS id, {HITS_SCALE} AS hub FROM documents)",
    ]
    pa, ph = "a0", "h0"
    for i in range(1, iterations + 1):
        sql.append(
            f""", ar{i} AS (
        SELECT e.dst AS id, SUM(h.hub) AS raw
        FROM edges e JOIN {ph} h ON e.src = h.id GROUP BY e.dst
    ), a{i} AS (
        SELECT d.doc_id AS id,
               COALESCE(ar{i}.raw * {HITS_SCALE} // (SELECT MAX(raw) FROM ar{i}), 0) AS auth
        FROM documents d LEFT JOIN ar{i} ON d.doc_id = ar{i}.id
    ), hr{i} AS (
        SELECT e.src AS id, SUM(a.auth) AS raw
        FROM edges e JOIN a{i} a ON e.dst = a.id GROUP BY e.src
    ), h{i} AS (
        SELECT d.doc_id AS id,
               COALESCE(hr{i}.raw * {HITS_SCALE} // (SELECT MAX(raw) FROM hr{i}), 0) AS hub
        FROM documents d LEFT JOIN hr{i} ON d.doc_id = hr{i}.id
    )"""
        )
        pa, ph = f"a{i}", f"h{i}"
    sql.append(
        f"SELECT a.id, CAST(a.auth AS BIGINT) AS auth, "
        f"CAST(h.hub AS BIGINT) AS hub FROM {pa} a JOIN {ph} h ON a.id = h.id"
    )
    return "\n".join(sql)


def hits_local(edges: list, n_nodes: int, iterations: int = 3) -> dict:
    """Pure-Python reference of the same integer recurrence."""
    from collections import Counter

    auth = {v: HITS_SCALE for v in range(n_nodes)}
    hub = {v: HITS_SCALE for v in range(n_nodes)}
    for _ in range(iterations):
        a_raw: Counter = Counter()
        for s, t in edges:
            a_raw[t] += hub[s]
        mx = max(a_raw.values())
        auth = {
            v: (a_raw[v] * HITS_SCALE // mx if v in a_raw else 0)
            for v in range(n_nodes)
        }
        h_raw: Counter = Counter()
        for s, t in edges:
            h_raw[s] += auth[t]
        mx = max(h_raw.values())
        hub = {
            v: (h_raw[v] * HITS_SCALE // mx if v in h_raw else 0)
            for v in range(n_nodes)
        }
    return {v: (auth[v], hub[v]) for v in range(n_nodes)}


# ---------------------------------------------------------------------------
# Weakly-connected components — min-label propagation. Completes the graph
# suite (pagerank = global rank, HITS = hubs/authorities, components =
# mirror/site-cluster detection for crawl dedup). The dedup module's
# connected_components (operators/dedup.py:329) is pair-list-shaped for
# near-dup candidate pairs; this is the graph-shaped variant over a link
# graph, with the same gateability property as pagerank/HITS: every step
# is exact integer MIN, so the unrolled SQL oracle replays it
# bit-for-bit at ANY iteration count — converged or not, both engines
# compute the same labels.
# ---------------------------------------------------------------------------


def components(edges: DataFrame, n_nodes: int, iterations: int = 6) -> DataFrame:
    """(id, component) after ``iterations`` rounds of min-label
    propagation over the UNDIRECTED closure of ``edges`` (src,dst).
    Labels start as node ids; each round every node takes the min of
    its own label and its neighbors' labels. With iterations >= the
    graph diameter the labels are the exact weakly-connected
    components; below it they are the k-hop prefix — identical in any
    engine either way.

    100 TB shape: mirrors pagerank — the undirected edge set is built
    once (one distinct) and repartitioned by src, an exchange every
    round reads (AQE reuses it); each round pays exactly one groupBy(dst)
    MIN exchange (the irreducible
    label-propagation shuffle). Label state is one (id, long) row per
    node. Pure integer MIN has no float drift, so no per-iteration
    checkpoint pressure builds (join diamond depth = 1 per round, same
    as pagerank's measured-safe 5-deep chain)."""
    spark = edges.sparkSession
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    e = und.repartition("src")
    nodes = spark.range(n_nodes).select(F.col("id"))
    lab = nodes.select("id", F.col("id").cast("long").alias("label"))
    for _ in range(iterations):
        nb = (
            e.join(lab, e.src == lab.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nlab"))
        )
        lab = (
            lab.join(nb, lab.id == nb.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlab"), F.col("label"))
                ).alias("label"),
            )
        )
    return lab.select("id", F.col("label").alias("component"))


def components_oracle_sql(iterations: int = 6) -> str:
    """DuckDB replay over the synthetic link graph: same undirected
    closure, same unrolled MIN recurrence."""
    sql = [
        "WITH n AS (SELECT COUNT(1) AS n FROM documents),",
        """edges0 AS (
        SELECT DISTINCT doc_id AS src, (doc_id * k) % (SELECT n FROM n) AS dst
        FROM documents, UNNEST(range(1, doc_id % 4 + 2)) t(k)
    ),""",
        """edges AS (
        SELECT src, dst FROM edges0
        UNION
        SELECT dst AS src, src AS dst FROM edges0
    ),""",
        "l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents)",
    ]
    prev = "l0"
    for i in range(1, iterations + 1):
        sql.append(
            f""", nb{i} AS (
        SELECT e.dst AS id, MIN(l.label) AS nlab
        FROM edges e JOIN {prev} l ON e.src = l.id
        GROUP BY e.dst
    ), l{i} AS (
        SELECT p.id, LEAST(p.label, COALESCE(nb{i}.nlab, p.label)) AS label
        FROM {prev} p LEFT JOIN nb{i} ON p.id = nb{i}.id
    )"""
        )
        prev = f"l{i}"
    sql.append(
        f"SELECT id, CAST(label AS BIGINT) AS component FROM {prev}"
    )
    return "\n".join(sql)


def components_local(edges: list, n_nodes: int, iterations: int = 6) -> dict:
    """Pure-Python reference of the same min-label rounds (unit gate)."""
    und = set()
    for s, t in edges:
        und.add((s, t))
        und.add((t, s))
    lab = {v: v for v in range(n_nodes)}
    for _ in range(iterations):
        from collections import defaultdict

        inc = defaultdict(list)
        for s, t in und:
            inc[t].append(lab[s])
        lab = {
            v: min([lab[v]] + inc.get(v, [])) for v in range(n_nodes)
        }
    return lab


# ---------------------------------------------------------------------------
# Triangle counting — degree-ordered edge orientation. Exact integer
# combinatorics (a triangle either exists or it doesn't), so the SQL
# oracle replays the identical three-join plan hash-for-hash.
# ---------------------------------------------------------------------------


def triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts ``(id, triangles)`` over the UNDIRECTED
    simple closure of ``edges`` (src, dst) — self-loops dropped,
    parallel edges collapsed. Only nodes in >=1 triangle appear.

    Reference parity: the reference demo's lakehouse exposes graph-ish
    curation signals only through Flink SQL joins (flink/sql/
    sql-client.sql); triangle support (clustering coefficient's
    numerator — the mirror-farm / link-ring detector in crawl
    curation) is an extension operator.

    100 TB shape (degree-ordered orientation, the MapReduce-classic
    Suri & Vassilvitskii / Cohen formulation): every undirected edge is
    oriented from its lower (degree, id) endpoint to the higher, making
    a DAG whose max out-degree is O(sqrt(m)). Each triangle {a,b,c}
    then materializes EXACTLY once — as the wedge at its lowest-key
    vertex closed by the oriented edge between the other two — so the
    wedge join is O(m^1.5) worst-case instead of the O(m * d_max^2) a
    naive id-orientation pays on a power-law graph (the whole point at
    crawl scale, where hub pages have 1e6-degree). Three shuffles
    total: degree agg, wedge self-join on src, closing join on
    (v, w); the per-node attribution explode is narrow."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    # degree over the simple graph; key packs (degree, id) into one
    # BIGINT so orientation is a single integer comparison in both
    # engines (id < 2^31 by construction: doc_id is a row index)
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "id",
            (F.col("deg") * F.lit(2**31) + F.col("id")).alias("key"),
        )
    )
    ka = deg.select(F.col("id").alias("a"), F.col("key").alias("ka"))
    kb = deg.select(F.col("id").alias("b"), F.col("key").alias("kb"))
    oriented = (
        und.join(ka, "a")
        .join(kb, "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("ka") < F.col("kb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
            F.greatest("ka", "kb").alias("kdst"),
        )
    )
    w1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("kdst").alias("kv")
    )
    w2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("kdst").alias("kw")
    )
    wedges = w1.join(w2, "u").filter(F.col("kv") < F.col("kw"))
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def triangles_oracle_sql() -> str:
    """DuckDB replay: same synthetic graph, same degree-keyed
    orientation, same wedge-close joins."""
    return """
    WITH n AS (SELECT COUNT(1) AS n FROM documents),
    raw AS (
        SELECT DISTINCT doc_id AS src, (doc_id * k) % (SELECT n FROM n) AS dst
        FROM documents, UNNEST(range(1, doc_id % 4 + 2)) t(k)
    ),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    deg AS (
        SELECT id, COUNT(1) * 2147483648 + id AS key
        FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        GROUP BY id
    ),
    oriented AS (
        SELECT CASE WHEN ka.key < kb.key THEN u.a ELSE u.b END AS src,
               CASE WHEN ka.key < kb.key THEN u.b ELSE u.a END AS dst,
               GREATEST(ka.key, kb.key) AS kdst
        FROM und u JOIN deg ka ON u.a = ka.id JOIN deg kb ON u.b = kb.id
    ),
    tri AS (
        SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
        FROM oriented w1
        JOIN oriented w2 ON w1.src = w2.src AND w1.kdst < w2.kdst
        JOIN oriented c ON c.src = w1.dst AND c.dst = w2.dst
    )
    SELECT id, COUNT(1) AS triangles
    FROM (SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY id
    """


def triangles_local(edges: list) -> dict:
    """Pure-Python exact per-node triangle counts (unit gate)."""
    adj: dict = {}
    und = set()
    for s, t in edges:
        if s == t:
            continue
        und.add((min(s, t), max(s, t)))
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # each triangle once via its sorted form
                for v in (a, b, c):
                    counts[v] = counts.get(v, 0) + 1
    return counts
