"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_iceberg_spark.operators import similarity as SIM
from fluss_iceberg_spark.registry import query
from fluss_iceberg_spark.sources.tpch import load_table

N_QUERIES = 8  # query set: vec_id < 8


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id,
               n.vec_id AS nn_id,
               round(list_dot_product(q.v, n.v)
                     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))),
                     4) AS cosine
        FROM v q JOIN v n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, nn_id, cosine, rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, nn_id ASC) AS INT) AS rank
        FROM scored
    ) t
    WHERE rank <= 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 8 query vectors: queries are
    broadcast, one scan over the vector table, window top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), 10)


@query("ann_ivf_topk")  # approximate (float-mean centroids) → rows-only
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: Lloyd-refined coarse clusters, 4-of-16 probes per
    query. The cluster-equi-join touches ~25% of the vectors per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), 10)


@query("ann_lsh_topk")  # approximate → rows-only gate; recall tested in units
def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-10: probe only the query's bucket.
    The scale path — the bucket equi-join replaces the n×q cross product."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), 10)


@query(
    "ann_embedding_hygiene",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS l2_norm,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) = 0.0 AS is_zero
    FROM embeddings
    """,
)
def embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-table hygiene: dims, exact L2 norms, zero-vector flags —
    map-side only, no exchange."""
    return SIM.embedding_hygiene(load_table(spark, sf_dir, "embeddings"))


@query("ann_kmeans_clusters")
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means census (rows-only gate — float iteration
    order makes exact hashes engine-specific; determinism vs a numpy
    reference is unit-tested in tests/test_kmeans_semdedup.py): cluster
    count, size, and mean cosine-to-centroid per cluster."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = SIM.kmeans_fit(emb, n_clusters=8, n_iters=4)
    assigned = SIM.kmeans_assign(emb, model)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vectors"),
            F.round(F.avg("cos_to_centroid"), 3).alias("mean_cos"),
        )
        .orderBy("cluster_id")
    )


@query("ann_pq_topk")
def pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 for 8 query vectors (16 subspaces
    x 64 codes = 16 bytes/vector). Rows-only gate (quantization error is
    codebook-specific); recall vs brute force is unit-gated in
    tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    books = SIM.train_pq_codebooks(emb, n_subspaces=16, n_codes=64)
    return SIM.pq_topk(emb, q, books, k=10)


@query("ann_ivfpq_topk")
def ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for 8 queries (16 lists, 4 probed; 16x64 codes):
    cluster-pruned candidates ADC-scored from 16-byte codes. Rows-only
    gate; recall + cluster-pruning invariants unit-gated in
    tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.ivfpq_topk(emb, q, k=10)


@query("ann_ivf_index_incremental")
def ivf_index_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index lifecycle (operators/ann_index.py — the
    FAISS-on-a-lake serving shape): BUILD on the first half of the
    embeddings table, APPEND the second half against the frozen
    quantizer (no re-clustering — ingestion is O(new x K)), then SEARCH
    8 queries over manifest-value-set-pruned inverted lists. Rows-only
    gate (quantizer floats are engine-specific); the build+append ==
    one-shot parity and brute-force recall are unit-gated in
    tests/test_ann_index.py."""
    import hashlib
    import os
    import shutil

    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.ann_index import IvfIndex

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = f"/tmp/fluss_lake_scratch/{tag}/ivf_index"
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    idx = IvfIndex(LakeCatalog(spark, wh), "serve")
    idx.build(emb.filter(F.col("vec_id") < n // 2), n_lists=16)
    idx.append(emb.filter(F.col("vec_id") >= n // 2))
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    return idx.search(q, k=10, n_probe=4).orderBy("query_id", "rank")


@query("ann_index_cdc_sync")
def ivf_index_cdc_sync_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained IVF index (operators/ann_index.sync_from_changelog):
    the embeddings live in a PK lake table; the index builds once, then
    the table takes a CDC batch (every 10th vector's embedding replaced
    by its right neighbor's — deterministic from the data — plus a
    range delete), and ONE changelog sync brings the index to the new
    state: stale postings deleted via vec_id-bloom-pruned row-level
    delete, upserts reassigned against the frozen quantizer. Search
    runs over the synced index. Rows-only gate; the postings ==
    frozen-model-assignment-of-final-state invariant is unit-gated in
    tests/test_ann_index.py."""
    import hashlib
    import os
    import shutil

    from fluss_iceberg_spark.lake.table import LakeCatalog
    from fluss_iceberg_spark.operators.ann_index import IvfIndex

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = f"/tmp/fluss_lake_scratch/{tag}/ivf_cdc"
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    cat = LakeCatalog(spark, wh)
    src = cat.create_table(
        "emb_src", emb.schema, primary_key=["vec_id"], n_buckets=8
    )
    src.merge(emb)
    v0 = src.current_version()
    idx = IvfIndex(cat, "serve").build(src.read(), n_lists=16)
    # CDC batch: every 10th vector takes its right neighbor's embedding;
    # the top 5% of ids leave the corpus
    nbr = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding")
    )
    updates = nbr.filter(
        (F.pmod("vec_id", F.lit(10)) == 0) & (F.col("vec_id") >= 0)
    )
    src.merge(updates)
    src.delete(where=[("vec_id", ">=", int(n * 0.95))])
    idx.sync_from_changelog(src, from_version=v0)
    q = src.read().filter(F.col("vec_id") < N_QUERIES)
    return idx.search(q, k=10, n_probe=4).orderBy("query_id", "rank")


@query(
    "ann_filtered_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id,
               n.vec_id AS nn_id,
               round(list_dot_product(q.v, n.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(n.v, n.v))),
                     4) AS cosine
        FROM v q JOIN v n
          ON n.vec_id <> q.vec_id AND n.label = q.label
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, nn_id, cosine, rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, nn_id ASC) AS INT) AS rank
        FROM scored
    ) t
    WHERE rank <= 5
    """,
)
def filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact vector search (the RAG "search within my
    tenant/category" shape): cosine top-5 per query among ONLY the
    vectors sharing the query's ``label``. The label equality rides the
    broadcast-join condition (operators/similarity.brute_force_topk
    match_cols), so non-matching vectors never pay a dot product — at
    100 TB the scored set is O(label-matching vectors), not O(corpus),
    and with a label-partitioned layout the scan itself prunes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), 5, match_cols=["label"]
    )


def _maxsim_oracle(n_tokens: int = 4, dim: int = 16, top: int = 10) -> str:
    """DuckDB replay of maxsim_q14 over the same packed-token layout:
    list_slice per token slot, same round-to-q14-then-max/sum integer
    arithmetic."""
    pair = lambda j, i: (
        f"CAST(round(list_dot_product("
        f"list_slice(q.vv, {j * dim + 1}, {(j + 1) * dim}), "
        f"list_slice(n.vv, {i * dim + 1}, {(i + 1) * dim})) * 10000) "
        f"AS BIGINT)"
    )
    per_q = " + ".join(
        "GREATEST(" + ", ".join(pair(j, i) for i in range(n_tokens)) + ")"
        for j in range(n_tokens)
    )
    return f"""
    WITH ve AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    )
    SELECT n.vec_id AS doc_id, {per_q} AS maxsim_q14
    FROM ve n CROSS JOIN (SELECT vv FROM ve WHERE vec_id = 0) q
    WHERE n.vec_id <> 0
    ORDER BY maxsim_q14 DESC, doc_id ASC
    LIMIT {top}
    """


@query("ann_maxsim_multivector", oracle=_maxsim_oracle())
def maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (the ColBERT MaxSim shape
    beside the single-vector cosine legs): each embedding is read as 4
    packed 16-dim token slots, and a doc's score against query 0 is the
    sum over query tokens of the best-matching doc token — computed as
    ONE codegen projection (operators/similarity.maxsim_q14): the 1-row
    query broadcast-cross-joins the corpus, 16 unrolled fixed-point dot
    products + greatest/sum per doc, then a bounded top-10. No explode,
    no shuffle beyond TakeOrdered. 100 TB: per-doc cost is
    O(q_tokens x d_tokens x dim) in whole-stage codegen; in production
    MaxSim re-ranks an ANN candidate set (ann_ivfpq_topk supplies one),
    so the scan side is the candidate list, not the corpus."""
    emb = SIM._as_double(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    docs = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    return (
        docs.select(
            F.col("vec_id").alias("doc_id"),
            SIM.maxsim_q14(F.col("qv"), F.col("v")).alias("maxsim_q14"),
        )
        .orderBy(F.desc("maxsim_q14"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "ann_sq8_topk",
    oracle=f"""
    WITH ve AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ), scaled AS (
        SELECT vec_id, vv,
               list_aggregate(list_transform(vv, x -> abs(x)), 'max') AS mx
        FROM ve
    ), codes AS (
        SELECT vec_id, mx,
               list_transform(vv, x -> CAST(greatest(-127.0,
                   least(127.0, round(x * 127.0 / mx))) AS BIGINT)) AS q
        FROM scaled
    ), pairs AS (
        SELECT qv.vec_id AS query_id, n.vec_id AS nn_id,
               CAST(list_dot_product(
                   list_transform(qv.q, x -> CAST(x AS DOUBLE)),
                   list_transform(n.q, x -> CAST(x AS DOUBLE))) AS BIGINT)
                   AS idot,
               qv.mx AS mxq, n.mx AS mxd
        FROM codes qv JOIN codes n ON n.vec_id <> qv.vec_id
        WHERE qv.vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, nn_id, idot,
               CAST(round(mxq * mxd * idot * 1000.0 / 16129.0) AS BIGINT)
                   AS score_milli
        FROM pairs
    )
    SELECT query_id, nn_id, idot, score_milli, rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY score_milli DESC, nn_id ASC) AS INT) AS rank
        FROM scored
    ) t
    WHERE rank <= 10
    """,
)
def sq8_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) vector search under a full value gate: the
    int8-range codes, the integer code dot and the rescaled milli score
    are all replayed arithmetically by DuckDB — quantization is exact
    cross-engine because round() is half-away-from-zero in both. Same
    8-query broadcast shape as the other ANN gates, quarter-width data
    on the hot path (operators/similarity.sq8_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.sq8_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), 10)


@query(
    "ann_sq8_rerank",
    oracle=f"""
    WITH ve AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ), scaled AS (
        SELECT vec_id, vv,
               list_aggregate(list_transform(vv, x -> abs(x)), 'max') AS mx
        FROM ve
    ), codes AS (
        SELECT vec_id, mx,
               list_transform(vv, x -> CAST(greatest(-127.0,
                   least(127.0, round(x * 127.0 / mx))) AS BIGINT)) AS q
        FROM scaled
    ), pairs AS (
        SELECT qv.vec_id AS query_id, n.vec_id AS nn_id,
               CAST(list_dot_product(
                   list_transform(qv.q, x -> CAST(x AS DOUBLE)),
                   list_transform(n.q, x -> CAST(x AS DOUBLE))) AS BIGINT)
                   AS idot,
               qv.mx AS mxq, n.mx AS mxd
        FROM codes qv JOIN codes n ON n.vec_id <> qv.vec_id
        WHERE qv.vec_id < {N_QUERIES}
    ), short AS (
        SELECT query_id, nn_id, sq8_rank FROM (
            SELECT query_id, nn_id, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY CAST(round(mxq * mxd * idot * 1000.0 / 16129.0)
                              AS BIGINT) DESC, nn_id ASC) AS INT) AS sq8_rank
            FROM pairs
        ) t WHERE sq8_rank <= 40
    ), exact AS (
        SELECT s.query_id, s.nn_id, s.sq8_rank,
               round(list_dot_product(q.vv, n.vv)
                     / (sqrt(list_dot_product(q.vv, q.vv))
                        * sqrt(list_dot_product(n.vv, n.vv))), 4) AS cosine
        FROM short s
        JOIN ve q ON q.vec_id = s.query_id
        JOIN ve n ON n.vec_id = s.nn_id
    )
    SELECT query_id, nn_id, cosine, sq8_rank, rank
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY cosine DESC, nn_id ASC) AS INT) AS rank
        FROM exact
    ) t
    WHERE rank <= 10
    """,
)
def sq8_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval under a FULL value gate: SQ8 integer-code
    shortlist (top-40 per query, deterministic) re-ranked by exact
    cosine on only the shortlisted pairs — the FAISS/ScaNN serving
    shape where re-rank cost is independent of corpus size. DuckDB
    replays both stages arithmetically; the output pins the exact
    cosine, the surviving candidates AND each one's stage-1 rank
    (operators/similarity.sq8_rerank_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.sq8_rerank_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=10, shortlist=40
    )
