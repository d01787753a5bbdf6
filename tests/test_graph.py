"""Fixed-point PageRank: Spark == pure-Python reference == unrolled SQL
oracle, mass conservation, dangling-node convention, graph synthesis."""

from __future__ import annotations

import duckdb

from fluss_iceberg_spark.operators.graph import (
    SCALE,
    pagerank,
    pagerank_local,
    pagerank_oracle_sql,
    synth_link_graph,
)


def test_local_reference_mass_and_base():
    # a 3-cycle: every node ends with exactly equal rank
    edges = [(0, 1), (1, 2), (2, 0)]
    r = pagerank_local(edges, 3, iterations=8)
    assert len(set(r.values())) == 1
    # mass conserved up to integer-truncation dust
    assert abs(sum(r.values()) - SCALE) < 100


def test_dangling_share_is_dropped():
    # node 1 has no out-edges: its damped share vanishes (documented
    # remove-dangling-mass convention), so total mass shrinks
    edges = [(0, 1)]
    r = pagerank_local(edges, 2, iterations=1)
    base = SCALE * 15 // 100 // 2
    share = (SCALE // 2) * 85 // 100 // 1
    assert r[0] == base
    assert r[1] == base + share


def test_star_graph_hub_wins():
    # 0..4 all link to 5; 5 links back to 0 — the hub and its sole
    # target trade the mass, so BOTH dominate the leaf nodes 1..4
    edges = [(i, 5) for i in range(5)] + [(5, 0)]
    r = pagerank_local(edges, 6, iterations=10)
    assert min(r[5], r[0]) > 2 * r[1]
    assert r[1] == r[2] == r[3] == r[4]


def test_spark_equals_local_and_oracle(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(97)], "doc_id long"
    )
    edges_df = synth_link_graph(docs)
    got = {
        r["id"]: r["rank"] for r in pagerank(edges_df, 97, 5, 85).collect()
    }
    edges = {
        (d, (d * k) % 97) for d in range(97) for k in range(1, d % 4 + 2)
    }
    assert got == pagerank_local(sorted(edges), 97, 5, 85)


def test_oracle_sql_equals_local_reference():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT UNNEST(range(0, 61)) AS doc_id"
    )
    rows = con.execute(pagerank_oracle_sql(5, 85)).fetchall()
    edges = {(d, (d * k) % 61) for d in range(61) for k in range(1, d % 4 + 2)}
    ref = pagerank_local(sorted(edges), 61, 5, 85)
    assert {i: r for i, r in rows} == ref


def test_synth_graph_is_distinct_and_bounded(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    rows = synth_link_graph(docs).collect()
    pairs = [(r["src"], r["dst"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(0 <= d < 40 for _, d in pairs)
    # every node has at least one out-edge (k starts at 1)
    assert {s for s, _ in pairs} == set(range(40))


def test_hits_local_star():
    from fluss_iceberg_spark.operators.graph import HITS_SCALE, hits_local

    # 0..4 -> 5 and 5 -> 0: node 5 is the sole authority (max score),
    # nodes 0..4 are the best hubs
    edges = [(i, 5) for i in range(5)] + [(5, 0)]
    r = hits_local(edges, 6, iterations=4)
    auth = {v: a for v, (a, h) in r.items()}
    hub = {v: h for v, (a, h) in r.items()}
    assert auth[5] == HITS_SCALE  # max-normalized winner
    assert hub[1] == hub[2] == hub[3] == hub[4] == HITS_SCALE
    assert auth[1] == 0  # no in-links
    assert hub[5] < hub[1]  # 5 points at a weaker authority


def test_hits_oracle_equals_local():
    from fluss_iceberg_spark.operators.graph import hits_local, hits_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT UNNEST(range(0, 83)) AS doc_id"
    )
    rows = con.execute(hits_oracle_sql(3)).fetchall()
    edges = sorted(
        {(d, (d * k) % 83) for d in range(83) for k in range(1, d % 4 + 2)}
    )
    assert {i: (a, h) for i, a, h in rows} == hits_local(edges, 83, 3)


def test_hits_spark_equals_local(spark):
    from fluss_iceberg_spark.operators.graph import hits, hits_local

    docs = spark.createDataFrame([(i,) for i in range(53)], "doc_id long")
    got = {
        r["id"]: (r["auth"], r["hub"])
        for r in hits(synth_link_graph(docs), 53, 3).collect()
    }
    edges = sorted(
        {(d, (d * k) % 53) for d in range(53) for k in range(1, d % 4 + 2)}
    )
    assert got == hits_local(edges, 53, 3)


def _persistent_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in m.keySet().toArray()}


def test_graph_operators_leave_no_cached_blocks(spark):
    """Cache hygiene (r9 ADVICE): pagerank must unpersist BOTH its edge
    frames and hits must release every loop localCheckpoint — a driver
    session sweeping ~170 queries must not accumulate graph-sized cache
    blocks. hits leaves exactly its one result-sized checkpoint, freed
    by the documented release seam. Delta-based on RDD ids: other tests'
    leftovers and async ContextCleaner removals must not flake this."""
    from fluss_iceberg_spark.operators.graph import hits
    from fluss_iceberg_spark.operators.util import release_checkpoint

    docs = spark.createDataFrame([(i,) for i in range(41)], "doc_id long")

    before = _persistent_ids(spark)
    pagerank(synth_link_graph(docs), 41, 3, 85).count()
    assert _persistent_ids(spark) - before == set()

    before = _persistent_ids(spark)
    out = hits(synth_link_graph(docs), 41, 3)
    out.count()
    # only the sealed result checkpoint may remain
    assert len(_persistent_ids(spark) - before) <= 1
    release_checkpoint(out)
    assert _persistent_ids(spark) - before == set()


def test_components_local_two_islands():
    from fluss_iceberg_spark.operators.graph import components_local

    # 0-1-2 chain and 3-4 pair: two components, min labels 0 and 3
    edges = [(0, 1), (1, 2), (3, 4)]
    lab = components_local(edges, 5, iterations=4)
    assert lab == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_components_kprefix_below_diameter():
    from fluss_iceberg_spark.operators.graph import components_local

    # a 5-chain: after ONE round node 4 only sees label 3 — the k-hop
    # prefix is still a well-defined deterministic labeling
    edges = [(i, i + 1) for i in range(4)]
    lab = components_local(edges, 5, iterations=1)
    assert lab == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}


def test_components_oracle_equals_local():
    from fluss_iceberg_spark.operators.graph import (
        components_local,
        components_oracle_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT UNNEST(range(0, 71)) AS doc_id"
    )
    rows = con.execute(components_oracle_sql(6)).fetchall()
    edges = sorted(
        {(d, (d * k) % 71) for d in range(71) for k in range(1, d % 4 + 2)}
    )
    assert {i: c for i, c in rows} == components_local(edges, 71, 6)


def test_components_spark_equals_local(spark):
    from fluss_iceberg_spark.operators.graph import (
        components,
        components_local,
    )

    docs = spark.createDataFrame([(i,) for i in range(47)], "doc_id long")
    got = {
        r["id"]: r["component"]
        for r in components(synth_link_graph(docs), 47, 6).collect()
    }
    edges = sorted(
        {(d, (d * k) % 47) for d in range(47) for k in range(1, d % 4 + 2)}
    )
    assert got == components_local(edges, 47, 6)


# --- triangle counting -----------------------------------------------------

from fluss_iceberg_spark.operators.graph import (  # noqa: E402
    triangles,
    triangles_local,
)


def test_triangles_local_known_graphs():
    # K4: 4 triangles, each node in exactly 3
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert triangles_local(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # a path has none; self-loops and duplicate/reversed edges ignored
    assert triangles_local([(0, 1), (1, 2), (2, 2), (1, 0)]) == {}
    # two triangles sharing an edge: shared nodes count both
    g = [(0, 1), (1, 2), (2, 0), (1, 3), (3, 2)]
    assert triangles_local(g) == {0: 1, 1: 2, 2: 2, 3: 1}


def test_triangles_spark_equals_local(spark):
    docs = spark.createDataFrame([(i,) for i in range(151)], "doc_id long")
    edges_df = synth_link_graph(docs)
    got = {
        r["id"]: r["triangles"] for r in triangles(edges_df).collect()
    }
    edges = sorted(
        {(d, (d * k) % 151) for d in range(151) for k in range(1, d % 4 + 2)}
    )
    want = triangles_local(edges)
    assert got == want
    assert sum(want.values()) % 3 == 0  # every triangle attributed 3x


def test_triangles_orientation_bounds_wedges(spark):
    # star + one closing edge: hub has degree 5 but the degree-ordered
    # orientation points every star edge AT the hub, so wedges at the
    # hub are zero — the skew-bound property the operator exists for.
    edges = [(0, h) for h in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(
        [(s, t) for s, t in edges], "src long, dst long"
    )
    got = {r["id"]: r["triangles"] for r in triangles(df).collect()}
    assert got == triangles_local(edges) == {0: 1, 1: 1, 2: 1}
